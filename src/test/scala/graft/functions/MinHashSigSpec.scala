package graft.functions

import graft.SparkTestBase
import org.scalatest.funsuite.AnyFunSuite

class MinHashSigSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def sig(text: String, k: Int = 64, n: Int = 5): Array[Long] =
    MinHashSig.compute(text, k, n).toLongArray()

  /** Independent exact Jaccard over char n-gram shingle sets. */
  private def jaccard(a: String, b: String, n: Int = 5): Double = {
    def sh(t: String) =
      (0 to math.max(t.length - n, 0)).map(i => t.substring(i, math.min(i + n, t.length))).toSet
    val (sa, sb) = (sh(a), sh(b))
    (sa & sb).size.toDouble / (sa | sb).size
  }

  test("signature estimate tracks exact jaccard on controlled texts") {
    val base = "the quick brown fox jumps over the lazy dog repeatedly each day " * 4
    val near = base.replace("lazy", "hazy")
    val far = "completely different content about database query planning and shuffles " * 4
    val estNear = MinHashSig.estimate(sig(base), sig(near))
    val estFar = MinHashSig.estimate(sig(base), sig(far))
    val exactNear = jaccard(base, near)
    assert(math.abs(estNear - exactNear) < 0.2, s"$estNear vs $exactNear")
    assert(estFar < 0.2)
    assert(MinHashSig.estimate(sig(base), sig(base)) == 1.0)
  }

  test("duplicate shingles cannot change the signature (min over bag = min over set)") {
    val once = "xyzvw"
    assert(sig(once + " " + once).sameElements(sig(once + " " + once + " " + once)))
  }

  test("degenerate inputs: short text and empty text are total, deterministic") {
    assert(sig("ab").length == 64)
    assert(sig("").length == 64)
    assert(sig("ab").sameElements(sig("ab")))
  }

  test("expression runs inside whole-stage codegen via SQL") {
    val df = spark.range(4)
      .selectExpr("concat('doc text number ', CAST(id AS STRING), ' with content') AS t")
      .selectExpr("minhash_sig(t, 16, 5) AS sig")
    val sigs = df.as[Seq[Long]].collect()
    assert(sigs.forall(_.length == 16))
    assert(sigs.distinct.length == 4)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.next().trim.startsWith("*(1) Project"), plan)
  }

  test("a call with the wrong arity fails naming the signature, not with an index error") {
    val e = intercept[Exception](spark.sql("SELECT minhash_sig('abc')").collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(msgs.exists(m => m != null && m.contains("minhash_sig(text, numHashes, shingleSize)")),
      e.toString)
  }
}

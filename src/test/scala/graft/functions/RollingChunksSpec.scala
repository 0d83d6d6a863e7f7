package graft.functions

import graft.SparkTestBase
import org.scalatest.funsuite.AnyFunSuite

class RollingChunksSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def chunks(t: String, avg: Int = 64): Set[Long] =
    RollingChunks.compute(t, avg).toLongArray().toSet

  private val base =
    ("the quick brown fox jumps over the lazy dog while seventeen geese " +
      "wander past the old mill pond every single morning without fail ") * 8

  test("content-defined boundaries: an edit perturbs few chunks") {
    val edited = base.replace("seventeen geese", "nineteen swans")
    val (a, b) = (chunks(base), chunks(edited))
    val shared = (a & b).size.toDouble / (a | b).size
    assert(shared > 0.5, s"only ${shared} of chunks survived a local edit (a=${a.size} b=${b.size})")
    // whereas a completely different text shares ~nothing
    val other = chunks(("entirely different content about database engines " +
      "and query optimizers running in the cloud today forever onwards ") * 8)
    assert((a & other).size <= 1)
  }

  test("prefix-insertion robustness vs fixed-size blocks") {
    // shift the whole text by inserting a prefix: content-defined chunks
    // must re-synchronize (most chunk digests identical)
    val shifted = "PREFIX INSERTED AT START! " + base
    val (a, b) = (chunks(base), chunks(shifted))
    val shared = (a & b).size.toDouble / math.max(a.size, 1)
    assert(shared > 0.5, s"chunking failed to re-synchronize after prefix shift: $shared")
  }

  test("deterministic, total on degenerate inputs, SQL-registered") {
    assert(chunks("") == Set.empty[Long])
    assert(chunks("ab") == chunks("ab"))
    val n = spark.range(2)
      .selectExpr("concat('text number ', CAST(id AS STRING), ' with some content repeated content') AS t")
      .selectExpr("size(rolling_chunks(t, 16)) AS n")
      .as[Int].collect()
    assert(n.forall(_ >= 1))
  }
}

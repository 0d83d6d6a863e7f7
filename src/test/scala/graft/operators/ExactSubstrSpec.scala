package graft.operators

import graft.{SparkTestBase, Tables}
import org.scalatest.funsuite.AnyFunSuite

/** [[ExactSubstr.duplicateSpans]] against an in-memory brute force:
  * mark every position whose L-window occurs ≥ 2 times corpus-wide,
  * union the intervals, compare span-exactly — on a planted fixture
  * (cross-doc shared block, within-doc repeat, arbitrary alignment) and
  * on the real sf0.001 documents table.
  */
class ExactSubstrSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def brute(docs: Seq[(Long, String)], L: Int): Set[(Long, Int, Int, Int)] = {
    val counts = collection.mutable.Map.empty[String, Int]
    for ((_, t) <- docs; i <- 0 to t.length - L)
      counts.updateWith(t.substring(i, i + L))(c => Some(c.getOrElse(0) + 1))
    docs.flatMap { case (id, t) =>
      val marked = (0 to t.length - L).filter(i => counts(t.substring(i, i + L)) >= 2)
      // interval union of [p, p+L-1]: 0-based (start, end) spans; a new
      // window merges iff it overlaps or touches the current span end
      val spans = collection.mutable.ArrayBuffer.empty[(Int, Int)]
      for (p <- marked) {
        if (spans.nonEmpty && p <= spans.last._2 + 1)
          spans(spans.size - 1) = (spans.last._1, p + L - 1)
        else spans += ((p, p + L - 1))
      }
      // 1-based inclusive, as the operator reports
      spans.map { case (a, b) => (id, a + 1, b + 1, b - a + 1) }
    }.toSet
  }

  private def run(docs: Seq[(Long, String)], L: Int): Set[(Long, Int, Int, Int)] =
    ExactSubstr
      .duplicateSpans(docs.toDF("doc_id", "text"), "doc_id", "text", minLen = L)
      .as[(Long, Int, Int, Int)].collect().toSet

  test("planted duplicates: cross-doc block, within-doc repeat, arbitrary alignment") {
    val rnd = new scala.util.Random(7)
    def uniq(n: Int) = Array.fill(n)(('a' + rnd.nextInt(26)).toChar).mkString
    val shared = "the licence header that every file in this corpus repeats verbatim!" // 68 chars
    val rep = uniq(55)
    val docs = Seq(
      1L -> (uniq(120) + shared + uniq(90)),            // shared at offset 120
      2L -> (uniq(37) + shared + uniq(200)),            // shared at offset 37 (different alignment)
      3L -> uniq(300),                                  // clean
      4L -> (uniq(60) + rep + uniq(25) + rep + uniq(40)), // within-doc repeat
      5L -> uniq(45))                                   // shorter than L — no windows
    val L = 50
    val expected = brute(docs, L)
    val got = run(docs, L)
    assert(got == expected,
      s"missing=${expected -- got} extra=${got -- expected}")
    // the planted structure actually exercised every path
    assert(got.exists(s => s._1 == 1L && s._2 == 121 && s._4 == shared.length))
    assert(got.exists(s => s._1 == 2L && s._2 == 38))
    assert(!got.exists(s => s._1 == 3L || s._1 == 5L))
    assert(got.count(_._1 == 4L) == 2) // the 25 unique chars between the copies keep two spans
  }

  /** Brute-force apply stage: keeper = lowest (id, 0-based pos) per
    * window CONTENT; cut = every other duplicated occurrence; interval
    * union; stitch the survivors.
    */
  private def bruteCut(docs: Seq[(Long, String)], L: Int): Set[(Long, String, Long, Long)] = {
    val occ = collection.mutable.Map.empty[String, collection.mutable.ArrayBuffer[(Long, Int)]]
    for ((id, t) <- docs; i <- 0 to t.length - L)
      occ.getOrElseUpdate(t.substring(i, i + L), collection.mutable.ArrayBuffer.empty) += ((id, i))
    val keeper = occ.view.mapValues(_.min).toMap
    docs.map { case (id, t) =>
      val cutStarts = (0 to t.length - L).filter { i =>
        val w = t.substring(i, i + L)
        occ(w).size >= 2 && keeper(w) != ((id, i))
      }
      val spans = collection.mutable.ArrayBuffer.empty[(Int, Int)]
      for (p <- cutStarts) {
        if (spans.nonEmpty && p <= spans.last._2 + 1)
          spans(spans.size - 1) = (spans.last._1, p + L - 1)
        else spans += ((p, p + L - 1))
      }
      val kept = new StringBuilder
      var last = -1
      for ((s, e) <- spans) { kept ++= t.substring(last + 1, s); last = e }
      kept ++= t.substring(last + 1)
      (id, kept.toString,
        spans.size.toLong, spans.map { case (s, e) => e - s + 1 }.sum.toLong)
    }.toSet
  }

  test("cut stage: keep-lowest policy, stitching, untouched docs — vs brute force") {
    val rnd = new scala.util.Random(11)
    def uniq(n: Int) = Array.fill(n)(('a' + rnd.nextInt(26)).toChar).mkString
    val shared = uniq(68)
    val rep = uniq(55)
    val docs = Seq(
      1L -> (uniq(120) + shared + uniq(90)),  // keeper copy (lowest id): untouched
      2L -> (uniq(37) + shared + uniq(200)),  // loses the shared block
      3L -> uniq(300),                        // clean: text unchanged, 0/0
      4L -> (uniq(60) + rep + uniq(25) + rep + uniq(40)), // keeps first, cuts second
      5L -> rep)                              // 55-char doc: windows shared with doc 4
    val L = 50
    val expected = bruteCut(docs, L)
    val got = ExactSubstr
      .cutDuplicateSpans(docs.toDF("doc_id", "text"), "doc_id", "text", minLen = L)
      .as[(Long, String, Long, Long)].collect().toSet
    assert(got == expected,
      s"missing=${(expected -- got).take(2)} extra=${(got -- expected).take(2)}")
    val byId = got.map(g => g._1 -> g).toMap
    assert(byId(1L)._2 == docs.head._2, "keeper copy must be untouched")
    assert(byId(2L)._3 == 1L && !byId(2L)._2.contains(shared))
    assert(byId(3L) == ((3L, docs(2)._2, 0L, 0L)))
    assert(byId(4L)._2.contains(rep) && byId(4L)._3 == 1L,
      "within-doc repeat keeps its first copy only")
  }

  test("digest-space multi-pass (passes = 3) is bit-identical to " +
    "single-pass, spans and cut (sf0.001)") {
    // the scratch-bound mode (r14 verdict #1): pmod(hash(digest), K)
    // slices the digest space; exactness rests on every occurrence of
    // a window sharing its digest and therefore its pass — this pins
    // the union of per-pass results against the one-shuffle answer
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    def all(): (Set[(Long, Long, Long, Long)], Set[(Long, String, Long, Long)]) = (
      ExactSubstr.duplicateSpans(docs, "doc_id", "text", minLen = 50)
        .as[(Long, Long, Long, Long)].collect().toSet,
      ExactSubstr.cutDuplicateSpans(docs, "doc_id", "text", minLen = 50)
        .as[(Long, String, Long, Long)].collect().toSet)
    val single = all()
    assert(single._1.nonEmpty, "fixture has no duplicates — test is vacuous")
    spark.conf.set("spark.graft.exactSubstr.passes", "3")
    try assert(all() == single, "multi-pass diverged from single-pass")
    finally spark.conf.unset("spark.graft.exactSubstr.passes")
  }

  test("sizePasses: both regimes of the scratch provisioning rule, " +
    "degradation on unknown inputs, monotonicity, runaway cap") {
    val GB = 1L << 30
    // fits: 62x of 0.74 GB = 46 GB <= 0.8 x 67 GB -> single pass (the
    // true 2M-doc history: ran fine at K = 1)
    assert(ExactSubstr.sizePasses(743L * (1L << 20), 67 * GB) === 1)
    // does not fit: 62x of 1.5 GB = 93 GB > 0.8 x 67 GB -> minimal K
    // with 93/K <= 53.6, i.e. K = 2 (the r14 4M ENOSPC at K = 1 and
    // the honest minimal fit on a 67 GB-free host)
    assert(ExactSubstr.sizePasses((1536L) * (1L << 20), 67 * GB) === 2)
    // the r15 record host regime: 4M docs against ~40 GB free -> K = 3
    assert(ExactSubstr.sizePasses(1536L * (1L << 20), 40 * GB) === 3)
    // unknown input or free space degrades to the lazy default
    assert(ExactSubstr.sizePasses(0, 67 * GB) === 1)
    assert(ExactSubstr.sizePasses(1536L * (1L << 20), 0) === 1)
    // monotone in input, antitone in free space
    val ks = (1 to 20).map(i =>
      ExactSubstr.sizePasses(i.toLong * GB, 50 * GB))
    assert(ks === ks.sorted)
    // runaway cap: an absurd ratio cannot demand thousands of scans
    assert(ExactSubstr.sizePasses(1000 * GB, 1 * GB) === 64)
  }

  test("passes = auto resolves against real input stats and is " +
    "bit-identical to single-pass when forced into multi-pass by conf") {
    // file-backed corpus: auto sizing reads inputFiles stats, so the
    // in-memory fixture must round-trip through parquet first
    val dir = java.nio.file.Files.createTempDirectory("exsub_auto").toString
    Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text").write.mode("overwrite").parquet(dir)
    val docs = spark.read.parquet(dir)
    def all(): Set[(Long, Long, Long, Long)] =
      ExactSubstr.duplicateSpans(docs, "doc_id", "text", minLen = 50)
        .as[(Long, Long, Long, Long)].collect().toSet
    val single = all()
    assert(single.nonEmpty)
    // tiny corpus, real free space: auto must pick 1 (the <= 2M regime)
    val (k1, in1, free1) = ExactSubstr.autoPassDecision(docs)
    assert(in1 > 0 && free1 > 0 && k1 === 1,
      s"auto picked $k1 on a ${in1}-byte corpus with $free1 free")
    spark.conf.set("spark.graft.exactSubstr.passes", "auto")
    try {
      assert(all() == single, "auto(K=1) diverged from default")
      // force the rule into multi-pass by inflating the scratch factor
      // (the same code path a 100 TB input takes): results unchanged
      spark.conf.set("spark.graft.exactSubstr.scratchPerInputByte", "1e9")
      val (kForced, _, _) = ExactSubstr.autoPassDecision(docs)
      assert(kForced > 1, s"conf-inflated auto still picked $kForced")
      assert(all() == single, "auto multi-pass diverged from single-pass")
    } finally {
      spark.conf.unset("spark.graft.exactSubstr.passes")
      spark.conf.unset("spark.graft.exactSubstr.scratchPerInputByte")
    }
  }

  test("cut stage matches brute force on the real sf0.001 documents table") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    val L = 50
    val expected = bruteCut(docs, L)
    val got = ExactSubstr
      .cutDuplicateSpans(
        Tables.documents(spark, "/root/testdata/sf0.001"), "doc_id", "text", minLen = L)
      .as[(Long, String, Long, Long)].collect().toSet
    assert(expected.exists(_._3 > 0), "fixture cuts nothing — test is vacuous")
    assert(got == expected)
  }

  test("matches brute force on the real sf0.001 documents table") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    val L = 50
    val expected = brute(docs, L)
    val got = ExactSubstr
      .duplicateSpans(
        Tables.documents(spark, "/root/testdata/sf0.001"), "doc_id", "text", minLen = L)
      .as[(Long, Int, Int, Int)].collect().toSet
    assert(expected.nonEmpty, "fixture has no duplicated 50-windows — test is vacuous")
    assert(got == expected,
      s"missing=${(expected -- got).take(3)} extra=${(got -- expected).take(3)}")
  }
}

package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog while the cat watches from the fence nearby"

  private lazy val docs = Seq(
    (1L, base),
    (2L, base), // exact dup of 1
    (3L, base.replace("lazy", "hazy")), // near dup of 1
    (4L, "completely different content about spark query engines and shuffles"),
    (5L, "another unrelated document mentioning neither foxes nor dogs at all")
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts, survivor = min id") {
    val out = Dedup.exact(docs, "doc_id", "text")
      .select("keep_id", "n_copies").as[(Long, Long)].collect().toSet
    assert(out.contains((1L, 2L))) // docs 1+2 collapse, survivor 1
    assert(out.count(_._2 == 1L) == 3)
  }

  test("minhash LSH finds exact and near dup pairs, not unrelated ones") {
    val pairs = Dedup
      .minHashCandidates(docs, "doc_id", "text", numHashes = 64, bands = 32, shingleSize = 5)
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("jaccardVerify: identical ⇒ 1.0; near-dup high; threshold filters") {
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("id_a", "id_b")
    val out = Dedup.jaccardVerify(docs, pairs, "doc_id", "text", 5, threshold = 0.5)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(out((1L, 2L)) == 1.0)
    assert(out((1L, 3L)) > 0.8 && out((1L, 3L)) < 1.0)
    assert(!out.contains((1L, 4L))) // below threshold
  }

  test("q21 banding equals brute-force all-pairs Jaccard at sf0.01 — " +
    "algorithm-independent recall check where banding is complete") {
    // The driver oracle REPLAYS the banding algorithm (r11: salts
    // interpolated from MinHashSig.saltsFor), which verifies
    // cross-engine parity but would also pass a systematic design error
    // shared by both sides. This spec keeps the OLD independent
    // contract alive in the regime where it held: at sf0.01 the
    // duplicate groups are near-identical (J ≫ the 16×4 S-curve knee),
    // banding recall is 1.0, and the banded+verified output must equal
    // a from-scratch all-pairs shingle-set Jaccard — no FNV-1a, no
    // SplitMix64, no banding, shared with NO production code. (At sf1,
    // 8 borderline J 0.40–0.70 pairs legitimately escape banding — that
    // regime is the replay oracle's job, not this contract's.)
    val dir = "/root/testdata/sf0.01"
    val got = graft.SparkEntry.queries("q21_minhash_pairs")(spark, dir)
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val texts = graft.Tables.documents(spark, dir)
      .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1)
    def sh(t: String): Set[String] =
      if (t.length < 5) Set(t)
      else (0 to t.length - 5).map(i => t.substring(i, i + 5)).toSet
    val sets = texts.map { case (id, t) => (id, sh(t)) }
    val want = (for {
      i <- sets.indices.iterator
      j <- (i + 1) until sets.length
      inter = (sets(i)._2 & sets(j)._2).size
      jac = inter.toDouble / (sets(i)._2.size + sets(j)._2.size - inter)
      if jac >= 0.4
    } yield (sets(i)._1, sets(j)._1) ->
      math.floor(jac * 1000000 + 0.50001) / 1000000).toMap
    assert(want.nonEmpty, "fixture must contain near-dup groups")
    assert(got == want,
      s"banding output diverged from the independent brute force: " +
        s"missing=${want.keySet -- got.keySet} extra=${got.keySet -- want.keySet}")
  }

  test("minhash signature is deterministic and length numHashes") {
    val s1 = docs.select(Dedup.minHashSignature("text", 16, 5).as("sig"))
      .as[Seq[Long]].collect()
    val s2 = docs.select(Dedup.minHashSignature("text", 16, 5).as("sig"))
      .as[Seq[Long]].collect()
    assert(s1.toSeq == s2.toSeq)
    assert(s1.forall(_.length == 16))
  }

  test("simhash near-dup pairs: exact dup hamming 0; near dup small; recall guarantee") {
    // loose pass (k=16 needs >16 bands for the pigeonhole guarantee)
    val pairs = Dedup.simHashNearDuplicates(docs, "doc_id", "text",
        maxHamming = 16, bands = 32)
      .as[(Long, Long, Int)].collect().map(p => (p._1, p._2) -> p._3).toMap
    assert(pairs((1L, 2L)) == 0) // identical texts
    assert(pairs.get((1L, 3L)).exists(_ <= 16)) // near dup found
    // exhaustive cross-check: every pair within hamming 3 MUST be found
    // (pigeonhole on 4 bands guarantees recall for k < 4)
    val fps = Dedup.simHashFingerprints(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    val truth = for {
      a <- fps.keys.toSeq; b <- fps.keys.toSeq if a < b
      h = java.lang.Long.bitCount(fps(a) ^ fps(b)) if h <= 3
    } yield (a, b)
    val found3 = Dedup.simHashNearDuplicates(docs, "doc_id", "text", maxHamming = 3)
      .as[(Long, Long, Int)].collect().map(p => (p._1, p._2)).toSet
    assert(truth.toSet == found3, s"truth=$truth found=$found3")
  }

  test("sharedChunkPairs == brute-force 'shares a digest' (exact candidates)") {
    val chunked = Seq(
      (1L, Array(10L, 20L, 30L)),
      (2L, Array(30L, 40L)),       // shares 30 with 1
      (3L, Array(50L)),            // isolated
      (4L, Array(10L, 99L)),       // shares 10 with 1
      (5L, Array(30L, 30L, 30L))   // repeated digest counts once
    ).toDF("doc_id", "ch")
    val got = Dedup.sharedChunkPairs(chunked, "doc_id", "ch")
      .as[(Long, Long)].collect().toSet
    val rows = chunked.as[(Long, Array[Long])].collect()
    val truth = (for {
      (a, ca) <- rows; (b, cb) <- rows if a < b
      if ca.toSet.intersect(cb.toSet).nonEmpty
    } yield (a, b)).toSet
    assert(got == truth, s"got=$got truth=$truth")
  }

  test("sharedChunkPairs: oversized buckets star-expand, keeping connectivity exact") {
    // digest 77 is shared by 5 docs but maxBucket=3: instead of dropping
    // the bucket (losing the pairs entirely), members pair with the
    // bucket's min id — the share-a-chunk graph stays connected
    val chunked = Seq(
      (1L, Array(77L)), (2L, Array(77L)), (3L, Array(77L)),
      (4L, Array(77L)), (5L, Array(77L)),
      (6L, Array(88L)), (7L, Array(88L)) // normal bucket: full pair
    ).toDF("doc_id", "ch")
    val got = Dedup.sharedChunkPairs(chunked, "doc_id", "ch", maxBucket = 3)
      .as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L), (6L, 7L)))
    // and the components derived from those pairs match the brute-force graph
    val comp = ConnectedComponents
      .byMinLabel(Dedup.sharedChunkPairs(chunked, "doc_id", "ch", maxBucket = 3)
        .toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    assert(Seq(1L, 2L, 3L, 4L, 5L).forall(comp(_) == 1L))
    assert(Seq(6L, 7L).forall(comp(_) == 6L))
  }

  test("maxBucket drops oversized buckets instead of exploding quadratically") {
    val many = (1L to 50L).map(i => (i, base)).toDF("doc_id", "text")
    val capped = Dedup.minHashCandidates(
      many, "doc_id", "text", numHashes = 64, bands = 16, shingleSize = 5,
      maxBucket = 10)
    assert(capped.count() == 0) // bucket of 50 identical docs > cap ⇒ dropped
  }
}

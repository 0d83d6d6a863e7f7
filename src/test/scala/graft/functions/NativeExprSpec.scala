package graft.functions

import graft.SparkTestBase
import graft.operators.{Dedup, TextAnalysis}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native expressions must agree exactly with the (slower) column/HOF
  * formulations they replace — cross-checked on real corpus data.
  */
class NativeExprSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private lazy val docs = graft.Tables.documents(spark, sf)

  test("ngram_jaccard == HOF array_intersect/array_union jaccard on corpus pairs") {
    val t = docs.select("doc_id", "text")
    val native = t.alias("a")
      .join(t.alias("b"), col("b.doc_id") === col("a.doc_id") + 1)
      .select(col("a.doc_id").as("id"), expr("ngram_jaccard(a.text, b.text, 5)").as("j"))
      .as[(Long, Double)].collect().toMap
    val sh = docs.select(col("doc_id"), Dedup.shingles("text", 5).as("sh"))
    val hof = sh.alias("a")
      .join(sh.alias("b"), col("b.doc_id") === col("a.doc_id") + 1)
      .select(
        col("a.doc_id").as("id"),
        (size(array_intersect(col("a.sh"), col("b.sh"))).cast("double") /
          size(array_union(col("a.sh"), col("b.sh")))).as("j"))
      .as[(Long, Double)].collect().toMap
    assert(native.keySet == hof.keySet)
    native.foreach { case (id, j) =>
      assert(math.abs(j - hof(id)) < 1e-12, s"doc $id: $j vs ${hof(id)}")
    }
  }

  test("lang_id == column-formulation languageId on the whole corpus") {
    val native = docs.select(col("doc_id"), expr("lang_id(text)").as("l"))
      .as[(Long, String)].collect().toMap
    val column = docs.select(col("doc_id"), TextAnalysis.languageId(col("text")).as("l"))
      .as[(Long, String)].collect().toMap
    assert(native == column)
    assert(native.values.toSet.subsetOf(Set("de", "en", "es", "fr", "unknown")))
  }

  test("ngram_jaccard edge cases: identical, disjoint, empty") {
    assert(NGramJaccard.compute("abcdef", "abcdef", 3) == 1.0)
    assert(NGramJaccard.compute("aaaa", "bbbb", 3) == 0.0)
    assert(NGramJaccard.compute("", "", 3) == 1.0) // both → single '' shingle
    assert(NGramJaccard.compute("ab", "ab", 5) == 1.0) // short-text shingle
  }

  test("fuzz: ngram_jaccard matches a scala Set-based reference on random strings") {
    val rnd = new scala.util.Random(7)
    def randText(): String =
      (0 until rnd.nextInt(60)).map(_ => "ab c".charAt(rnd.nextInt(4))).mkString
    def refJaccard(a: String, b: String, n: Int): Double = {
      def sh(t: String) = (0 to math.max(t.length - n, 0))
        .map(i => t.substring(i, math.min(i + n, t.length))).toSet
      val (sa, sb) = (sh(a), sh(b))
      val u = (sa | sb).size
      if (u == 0) 0.0 else (sa & sb).size.toDouble / u
    }
    for (_ <- 1 to 500) {
      val (a, b) = (randText(), randText())
      val n = 1 + rnd.nextInt(5)
      val got = NGramJaccard.compute(a, b, n)
      val want = refJaccard(a, b, n)
      assert(math.abs(got - want) < 1e-12, s"n=$n a='$a' b='$b': $got vs $want")
    }
  }

  test("fuzz: simhash compute is stable and whitespace-variant-insensitive on token bags") {
    val rnd = new scala.util.Random(11)
    for (_ <- 1 to 200) {
      val tokens = (0 until 1 + rnd.nextInt(10))
        .map(_ => ('a' + rnd.nextInt(4)).toChar.toString * (1 + rnd.nextInt(3)))
      // same token bag, different whitespace → same simhash
      val h1 = SimHash64.compute(tokens.mkString(" "))
      val h2 = SimHash64.compute(tokens.mkString("  ") + " ")
      assert(h1 == h2, tokens.mkString(","))
    }
  }

  test("lang_id edge cases") {
    assert(LangId.compute("") == "unknown")
    assert(LangId.compute("zzz qqq xxx") == "unknown")
    assert(LangId.compute("the cat and the dog") == "en")
    assert(LangId.compute("el perro y la casa del que") == "es")
    // tie between en and es resolves lexicographically last (es)
    assert(LangId.compute("the el") == "es")
  }

  test("ngram_distinct_count == size of the HOF distinct shingle set on corpus docs") {
    val native = docs.select(
      col("doc_id"),
      graft.internal.Cols.of(NGramDistinctCount(
        graft.internal.Cols.expressionOf(col("text")), 5)).as("c"))
      .as[(Long, Int)].collect().toMap
    val hof = docs.select(
      col("doc_id"), size(Dedup.shingles("text", 5)).as("c"))
      .as[(Long, Int)].collect().toMap
    assert(native == hof)
  }

  test("nearest_cells: NaN vector components never crash and still return n valid cells") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val cells = Array(1.0, 0.0, 0.5, /**/ 0.0, 1.0, 0.5) // 2 cells, dim 2, stride 3
    // one NaN component: the NaN cell scores sort last, valid cell first
    val partial = NearestCells
      .compute(new GenericArrayData(Array(Double.NaN, 1.0)), vFloat = false, cells, 3, 2)
      .toIntArray()
    assert(partial.length == 2 && partial.toSet == Set(0, 1))
    // every score NaN: selection must still pick each cell exactly once
    val allNaN = NearestCells
      .compute(new GenericArrayData(Array(Double.NaN, Double.NaN)), vFloat = false, cells, 3, 2)
      .toIntArray()
    assert(allNaN.toSeq == Seq(0, 1)) // deterministic: index order
    // and through the column API (codegen path) on a DataFrame
    val df = Seq((1L, Array(Double.NaN, 1.0)), (2L, Array(0.9, 0.1)))
      .toDF("id", "vec")
    val out = df.select(col("id"),
      NearestCells.toCol(col("vec"), Array(Array(1.0, 0.0), Array(0.0, 1.0)), 1).as("c"))
      .as[(Long, Array[Int])].collect().toMap
    assert(out(1L).length == 1 && out(2L).toSeq == Seq(0))
  }

  test("audio fingerprint natives == the interpreted HOF formulations " +
    "they replaced (frame energies, first-window bits, sub-fingerprints)") {
    import graft.operators.{AudioGen, AudioHash}
    // the r16-retired HOF spellings, inlined verbatim as the reference
    val hofEnergies = expr(
      s"""transform(
         |  sequence(0, CAST(size(pcm) DIV ${AudioGen.FrameLen} AS INT) - 1),
         |  f -> aggregate(slice(pcm, f * ${AudioGen.FrameLen} + 1, ${AudioGen.FrameLen}),
         |                 0L, (a, x) -> a + abs(x)))""".stripMargin)
    def hofPack(fromBit: Int, toBit: Int, idx: String) =
      s"aggregate(sequence($toBit, $fromBit, -1), 0L, (acc, j) -> acc * 2 + " +
        s"IF(element_at(e, $idx + j + 1) > element_at(e, $idx + j + 2), 1L, 0L))"
    val hofSubFps = expr(
      s"""transform(
         |  sequence(0, CAST((size(e) - 65) DIV 2 AS INT)),
         |  wi -> named_struct(
         |    'w', CAST(wi * 2 AS INT),
         |    'lo', ${hofPack(0, 31, "wi * 2")},
         |    'hi', ${hofPack(32, 63, "wi * 2")}))""".stripMargin)
    val clips = (0L until 30L).map { id =>
      val n = 520 + (id % 5).toInt * 131
      (id, AudioGen.samplesVar(id, n).map(_.toInt).toSeq)
    }.toDF("doc_id", "pcm")
      .withColumn("e", AudioHash.frameEnergies("pcm"))
      .withColumn("e_hof", hofEnergies)
    val diff = clips
      .select(
        (col("e") =!= col("e_hof")).as("d1"),
        (AudioHash.fpLo("e") =!= expr(hofPack(0, 31, "0"))).as("d2"),
        (AudioHash.fpHi("e") =!= expr(hofPack(32, 63, "0"))).as("d3"),
        (AudioHash.subFingerprints("e", 2) =!= hofSubFps).as("d4"))
      .filter(col("d1") || col("d2") || col("d3") || col("d4"))
      .count()
    assert(diff == 0L)
  }

  test("image hash natives == the interpreted HOF formulations they " +
    "replaced (graySum, aHash halves, dHash, gridReduce)") {
    import graft.operators.{ImageGen, ImageHash}
    def hofAHash(fromBit: Int, toBit: Int) =
      expr(s"aggregate(sequence($toBit, $fromBit, -1), 0L, (acc, j) -> acc * 2 + " +
        s"IF(element_at(g, j + 1) * 64 > tot_hof, 1L, 0L))")
    val hofDHash = expr(
      s"aggregate(sequence(55, 0, -1), 0L, (acc, k) -> acc * 2 + " +
        s"IF(element_at(g, CAST((k DIV 7) * 8 + (k % 7) + 1 AS INT)) < " +
        s"element_at(g, CAST((k DIV 7) * 8 + (k % 7) + 2 AS INT)), 1L, 0L))")
    val hofGrid = expr(
      s"""transform(sequence(0, 63), k -> CAST(
         |  aggregate(
         |    sequence((k DIV 8) * h DIV 8, ((k DIV 8) + 1) * h DIV 8 - 1),
         |    0L,
         |    (ra, rr) -> ra + aggregate(
         |      sequence((k % 8) * w DIV 8, ((k % 8) + 1) * w DIV 8 - 1),
         |      0L,
         |      (ca, cc) -> ca + element_at(big, CAST(rr * w + cc + 1 AS INT))))
         |  DIV ((((k DIV 8) + 1) * h DIV 8 - (k DIV 8) * h DIV 8)
         |       * (((k % 8) + 1) * w DIV 8 - (k % 8) * w DIV 8))
         |  AS INT))""".stripMargin)
    val imgs = (0L until 30L).map { id =>
      val (w, h) = ImageGen.shapeFor(id)
      (id, w, h, ImageGen.grayPixelsAt(id, w, h).toSeq)
    }.toDF("doc_id", "w", "h", "big")
      .withColumn("g", ImageHash.gridReduce("big", "w", "h"))
      .withColumn("g_hof", hofGrid)
      .withColumn("tot", ImageHash.graySum(col("g")))
      .withColumn("tot_hof", expr("aggregate(g, 0L, (a, x) -> a + x)"))
    val diff = imgs
      .select(
        (col("g") =!= col("g_hof")).as("d1"),
        (col("tot") =!= col("tot_hof")).as("d2"),
        (ImageHash.aHashLo("g", "tot") =!= hofAHash(0, 31)).as("d3"),
        (ImageHash.aHashHi("g", "tot") =!= hofAHash(32, 63)).as("d4"),
        (ImageHash.dHash("g") =!= hofDHash).as("d5"))
      .filter(col("d1") || col("d2") || col("d3") || col("d4") || col("d5"))
      .count()
    assert(diff == 0L)
  }

  test("sorted_jaccard over ngram_shingles == ngram_jaccard over the texts (corpus + edges)") {
    // the q21 verify split: per-doc prebuilt shingle arrays must give
    // the BIT-IDENTICAL jaccard the fused text-pair expression gives
    import graft.internal.Cols
    import graft.functions.{NGramShingles, SortedJaccard}
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val t = docs
      .withColumn("__sh", Cols.of(NGramShingles(Cols.expressionOf(col("text")), 5)))
    val pairs = t.alias("a").join(t.alias("b"), col("b.doc_id") === col("a.doc_id") + 1)
    val diff = pairs
      .select(
        expr("ngram_jaccard(a.text, b.text, 5)").as("fused"),
        Cols.of(SortedJaccard(
          Cols.expressionOf(col("a.__sh")), Cols.expressionOf(col("b.__sh")))).as("split"))
      .filter(col("fused") =!= col("split"))
      .count()
    assert(diff == 0L)
    // edge cases through the split path: identical, disjoint, empty
    def j(a: String, b: String, n: Int): Double =
      graft.functions.NGramJaccard.jaccardSorted(
        graft.functions.NGramJaccard.shingleHashes(a, n),
        graft.functions.NGramJaccard.shingleHashes(b, n))
    assert(j("abcdef", "abcdef", 3) == 1.0)
    assert(j("aaaa", "bbbb", 3) == 0.0)
    assert(j("", "", 3) == 1.0) // both degenerate single empty shingle
  }
}

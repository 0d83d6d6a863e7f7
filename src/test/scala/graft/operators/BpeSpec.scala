package graft.operators

import graft.SparkTestBase
import org.scalatest.funsuite.AnyFunSuite

/** BPE trainer pinned against an INDEPENDENT in-memory implementation —
  * plain Scala maps and string ops, sharing no code with the Spark path.
  */
class BpeSpec extends AnyFunSuite with SparkTestBase {

  /** Code-point lexicographic string order (== UTF-8 byte order), the
    * order Spark's UTF8String comparison uses.
    */
  private val cpOrdering: Ordering[String] = new Ordering[String] {
    def compare(x: String, y: String): Int = {
      val xi = x.codePoints().toArray
      val yi = y.codePoints().toArray
      val n = math.min(xi.length, yi.length)
      var i = 0
      while (i < n) {
        if (xi(i) != yi(i)) return Integer.compare(xi(i), yi(i))
        i += 1
      }
      Integer.compare(xi.length, yi.length)
    }
  }

  /** Independent byte-fallback base decomposition (shares no code with
    * the Spark path): alphabet chars are their own symbol, everything
    * else becomes its UTF-8 bytes as `<0xNN>` tokens (uppercase hex).
    * Iterates CODE POINTS (not UTF-16 units) so supplementary-plane
    * characters decompose into their real 4 UTF-8 bytes, never a `?`
    * per surrogate half.
    */
  private def refSyms(w: String): Vector[String] =
    w.codePoints().toArray.toVector.flatMap { cp =>
      val s = new String(Character.toChars(cp))
      if (cp <= Char.MaxValue && graft.model.BpeMerges.alphabetSet(cp.toChar))
        Vector(s)
      else s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        .toVector.map(b => f"<0x${b & 0xff}%02X>")
    }

  /** Reference BPE (Sennrich et al. 2016 pseudocode, verbatim): vocab as
    * symbol sequences, argmax pair by (count desc, pair asc in code-point
    * order), merges applied left-to-right non-overlapping.
    */
  private def referenceBpe(
      words: Map[String, Long],
      numMerges: Int,
      minFreq: Long): Seq[(String, String)] = {
    var vocab: Map[Vector[String], Long] = words.map { case (w, f) =>
      (refSyms(w) :+ "</w>") -> f
    }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var halt = false
    while (merges.length < numMerges && !halt) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, f) =>
        syms.sliding(2).foreach {
          case Seq(a, b) => counts((a, b)) = counts.getOrElse((a, b), 0L) + f
          case _ =>
        }
      }
      if (counts.isEmpty) halt = true
      else {
        // ties break on (l, r) in CODE POINT order — matching Spark's
        // UTF8String (UTF-8 byte) comparison rather than Java String's
        // UTF-16 code-unit order, which diverges past the BMP
        val (pair, cnt) = counts.minBy { case ((a, b), c) => (-c, a, b) }(
          Ordering.Tuple3(Ordering.Long, cpOrdering, cpOrdering))
        if (cnt < minFreq) halt = true
        else {
          merges += pair
          vocab = vocab.map { case (syms, f) =>
            val out = Vector.newBuilder[String]
            var i = 0
            while (i < syms.length) {
              if (i + 1 < syms.length && syms(i) == pair._1 && syms(i + 1) == pair._2) {
                out += (pair._1 + pair._2); i += 2
              } else { out += syms(i); i += 1 }
            }
            out.result() -> f
          }
        }
      }
    }
    merges.toSeq
  }

  private def corpusDf(texts: Seq[String]) = {
    import spark.implicits._
    texts.toDF("text")
  }

  test("train matches the reference implementation on a hand corpus") {
    val texts = Seq(
      "low low low low low",
      "lower lower newest newest newest newest newest newest",
      "widest widest widest",
      "low lower newest")
    val vocab = Bpe.wordFreq(corpusDf(texts), "text")
    val words = texts.flatMap(_.split(" ")).filter(_.nonEmpty)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = Bpe.train(vocab, numMerges = 10, minFreq = 2L)
    val want = referenceBpe(words, numMerges = 10, minFreq = 2L)
    assert(got == want, s"merge sequences diverge:\n got $got\nwant $want")
    assert(got.nonEmpty)
  }

  test("train matches the reference on real documents (sf0.001)") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val vocab = Bpe.wordFreq(docs, "text")
    import spark.implicits._
    val words = vocab.as[(String, Long)].collect().toMap
    val got = Bpe.train(vocab, numMerges = 8, minFreq = 2L)
    val want = referenceBpe(words, numMerges = 8, minFreq = 2L)
    assert(got == want, s"merge sequences diverge:\n got $got\nwant $want")
    assert(got.length == 8)
  }

  test("trainInMemory is bit-identical to the reference (and thus to " +
    "train) across seeded random corpora, overlap runs, and deep merges") {
    val rng = new scala.util.Random(13)
    for (trial <- 1 to 4) {
      // random words incl. repeated-char runs (the overlap case the
      // incremental bookkeeping must recount exactly)
      val words = (1 to 120).map { i =>
        val w =
          if (i % 11 == 0) "a" * (2 + rng.nextInt(5))
          else (1 to (2 + rng.nextInt(6)))
            .map(_ => ('a' + rng.nextInt(6)).toChar).mkString
        w -> (1L + rng.nextInt(40))
      }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      val n = 50 + rng.nextInt(150)
      val got = Bpe.trainInMemory(words.toSeq, n, minFreq = 2L)
      val want = referenceBpe(words, n, minFreq = 2L)
      assert(got == want,
        s"trial $trial diverges at ${got.zip(want).indexWhere(p => p._1 != p._2)}")
    }
    // and against the DISTRIBUTED trainer on a real corpus (transitive
    // equality train == reference == trainInMemory, asserted directly)
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val vocab = Bpe.wordFreq(docs, "text")
    import spark.implicits._
    val words = vocab.as[(String, Long)].collect().toSeq
    assert(Bpe.trainInMemory(words, 12, 2L) == Bpe.train(vocab, 12, 2L))
  }

  test("applyMerge is left-to-right non-overlapping (the aaa case)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // "aaa</w>" under merge (a,a): [aa, a, </w>], NOT [a, aa, </w>]
    // and never [aa, aa...] chaining into the merged token
    val df = Seq(Seq("a", "a", "a", "</w>"), Seq("a", "a", "a", "a", "</w>"))
      .toDF("syms")
    val out = df.select(Bpe.applyMerge(col("syms"), "a", "a").as("m"))
      .as[Seq[String]].collect()
    assert(out(0) == Seq("aa", "a", "</w>"))
    assert(out(1) == Seq("aa", "aa", "</w>"))
  }

  /** Reference single-word encode: chars + marker, every merge applied
    * as a left-to-right non-overlapping pass — shares no code with the
    * Spark path or the DuckDB replay.
    */
  private def refEncodeWord(
      w: String, merges: Seq[(String, String)]): Vector[String] = {
    var syms = refSyms(w) :+ "</w>"
    merges.foreach { case (a, b) =>
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
          out += (a + b); i += 2
        } else { out += syms(i); i += 1 }
      }
      syms = out.result()
    }
    syms
  }

  test("frozen BpeMerges fixture: 8000 merges, deterministic id space, " +
    "mixed alphabet") {
    val m = graft.model.BpeMerges
    assert(m.merges.size == 8000)
    assert(m.idOf("</w>") == 0)
    // base block: digits 1..10, A-Z 11..36, a-z 37..62, ß é ö ü 63..66
    assert(m.idOf("0") == 1 && m.idOf("9") == 10 && m.idOf("A") == 11 &&
      m.idOf("Z") == 36 && m.idOf("a") == 37 && m.idOf("z") == 62 &&
      m.idOf("ü") == 66)
    // byte-fallback block: <0x00>..<0xFF> at 67..322
    assert(m.idOf("<0x00>") == 67 && m.idOf("<0xFF>") == 322)
    assert(m.byteTokens.size == 256)
    // every merge output has an id at or above the byte block
    m.merges.foreach { case (l, r) => assert(m.idOf(l + r) >= 323) }
    // the production shape is actually exercised: mixed-case, digit and
    // accented merges exist, and oracle-hostile chars never appear
    assert(m.merges.exists { case (l, r) => (l + r).exists(_.isUpper) })
    assert(m.merges.exists { case (l, r) => (l + r).exists(_.isDigit) })
    assert(m.merges.exists { case (l, r) => (l + r).exists(c => c > 127) })
    m.merges.foreach { case (l, r) =>
      assert(!(l + r).exists(c => c == ',' || c == '#' || c == '\'' ||
        c.isWhitespace))
    }
  }

  test("segmentWordFast equals the fold and the per-word reference on " +
    "random corpora, recreated-pair traps, and the frozen fixture") {
    // the divergence trap: rules 1:(a,bc) 2:(abc,d) 3:(ab,c) over
    // "abcd" — in-order must yield [abc, d</w>... ] shapes, never the
    // min-rank-first "abcd"
    val trap = IndexedSeq(("a", "bc"), ("abc", "d"), ("ab", "c"))
    val trapRanks = Bpe.mergeRanks(trap)
    def viaRef(w: String, m: Seq[(String, String)]) = refEncodeWord(w, m)
    for (w <- Seq("abcd", "aabcd", "abcabcd", "xabcdx"))
      assert(Bpe.segmentWordFast(w, trap, trapRanks).toSeq == viaRef(w, trap),
        s"trap diverges on $w")
    // seeded random rule tables + words, incl. repeated-char runs
    val rng = new scala.util.Random(29)
    for (_ <- 1 to 30) {
      val merges = IndexedSeq.fill(6 + rng.nextInt(10)) {
        def t() = (1 to (1 + rng.nextInt(2)))
          .map(_ => ('a' + rng.nextInt(4)).toChar).mkString
        (t(), if (rng.nextInt(5) == 0) "</w>" else t())
      }
      val ranks = Bpe.mergeRanks(merges)
      for (_ <- 1 to 20) {
        val w = (1 to (1 + rng.nextInt(10)))
          .map(_ => ('a' + rng.nextInt(4)).toChar).mkString
        assert(Bpe.segmentWordFast(w, merges, ranks).toSeq ==
          viaRef(w, merges), s"random diverges on $w under $merges")
      }
    }
    // the frozen 8k fixture on real + synthetic words
    val m = graft.model.BpeMerges
    val fixRanks = Bpe.mergeRanks(m.merges)
    val fixIdx = m.merges.toIndexedSeq
    for (w <- Seq("table", "window", "Spark42", "übung", "w4999", "zzzz"))
      assert(Bpe.segmentWordFast(w, fixIdx, fixRanks).toSeq ==
        viaRef(w, m.merges), s"fixture diverges on $w")
  }

  test("encode matches the per-word reference under the FROZEN fixture, " +
    "including digits, byte-fallback chars, repeated words, and multi-space text") {
    import spark.implicits._
    val m = graft.model.BpeMerges
    val texts = Seq(
      (1L, "the slow merge window the the"),
      (2L, "w42 table w42 row7"),            // digits: base ids, no merges
      (3L, "naïve café x"),                  // ï → 2 byte tokens
      (4L, "  spaced   out  "),              // empty split tokens drop
      (5L, "value"))
    val got = Bpe.encode(texts.toDF("doc_id", "text"), "doc_id", "text",
      m.merges, m.idOf)
      .select("doc_id", "n_tokens", "bpe_ids")
      .as[(Long, Long, String)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val want = texts.map { case (id, t) =>
      val toks = t.split(" ").filter(_.nonEmpty).toSeq
        .flatMap(w => refEncodeWord(w, m.merges))
      id -> ((toks.size.toLong,
        toks.map(s => m.idOf.getOrElse(s, -1)).mkString(" ")))
    }.toMap
    assert(got == want)
    // id streams are order-exact (doc 1 has repeated words at distinct
    // positions — a misordered collect_list would still pass a set check)
    assert(got(1L)._2 == want(1L)._2)
    // byte fallback: no id is ever -1, and doc 3's ï really rides as
    // its two UTF-8 byte tokens
    got.values.foreach { case (_, ids) => assert(!ids.split(" ").contains("-1")) }
    assert(got(3L)._2.split(" ").map(_.toInt)
      .exists(id => id >= 67 && id <= 322))
  }

  test("encode matches the reference on the real sf0.001 documents table") {
    import spark.implicits._
    val m = graft.model.BpeMerges
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val got = Bpe.encode(docs, "doc_id", "text", m.merges, m.idOf)
      .select("doc_id", "n_tokens", "bpe_ids")
      .as[(Long, Long, String)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val want = docs.select("doc_id", "text").as[(Long, String)].collect()
      .map { case (id, t) =>
        val toks = t.split(" ").filter(_.nonEmpty).toSeq
          .flatMap(w => refEncodeWord(w, m.merges))
        id -> ((toks.size.toLong,
          toks.map(s => m.idOf.getOrElse(s, -1)).mkString(" ")))
      }.toMap
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("segment applies trained merges and reassembles to the original text") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val texts = Seq("low lower", "newest", "")
    val merges = Seq(("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w"))
    val out = Bpe.segment(corpusDf(texts).withColumn("w", col("text")), "w", merges)
      .select(col("w"), col("bpe_tokens")).as[(String, Seq[String])].collect()
    out.foreach { case (w, toks) =>
      assert(toks.last == "</w>" || (w.isEmpty && toks == Seq("</w>")))
      // lossless: the tokens' byte contributions (tokenHex decodes the
      // byte-fallback tokens the space produces) restore the text
      val hex = toks.filterNot(_ == "</w>").map(Bpe.tokenHex).mkString
      val bytes = hex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
      assert(new String(bytes, java.nio.charset.StandardCharsets.UTF_8) == w)
    }
    // the trained merges actually fire
    val low = out.find(_._1 == "low lower").get._2
    assert(low.contains("low") || low.contains("lo"))
  }

  test("decode(encode(x)) reconstructs the EXACT normalized text under " +
    "byte fallback: punctuation, 2- and 3-byte UTF-8, zero OOV") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val texts = Seq(
      "the Quick brown  fox", // double space collapses
      " leading and trailing ", // edge spaces drop
      "punct,uation! is? kept", // 1-byte non-alphabet round-trips
      "naïve café ßöü ¿sí?", // 2-byte fallback + in-vocab accents
      "0123 MiXeD 9aZ",
      "東京駅 42¢ €5") // 3-byte CJK + currency
    val df = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = Bpe.decode(
      Bpe.encode(df, "doc_id", "text",
        graft.model.BpeMerges.merges, graft.model.BpeMerges.idOf),
      "bpe_ids", graft.model.BpeMerges.idOf)
      .select($"doc_id", $"n_oov", $"decoded")
      .as[(Long, Long, String)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      val expect = t.split(" ").filter(_.nonEmpty).mkString(" ")
      assert(got(i.toLong) === ((0L, expect)), s"doc $i: '$t'")
    }
  }

  test("non-BMP input (emoji, supplementary CJK): fast encoder, fold arm, " +
    "and reference agree on code-point byte fallback; decode is exact") {
    import spark.implicits._
    val m = graft.model.BpeMerges
    // U+1F600 (4-byte emoji), U+2070E (supplementary CJK), mixed with
    // BMP neighbours — the r14 ADVICE corruption case: a UTF-16 iterator
    // turns each surrogate half into a '?' (0x3F) byte token with
    // n_oov = 0, so only an exact-reconstruction check catches it
    val texts = Seq(
      (1L, "smile 😀 end"),
      (2L, "rare 𠜎 char"),
      (3L, "mix😀ed word"))
    val df = texts.toDF("doc_id", "text")
    // base decomposition: the emoji is its 4 real UTF-8 bytes, no 0x3F
    assert(Bpe.baseSyms("😀") ==
      Seq("<0xF0>", "<0x9F>", "<0x98>", "<0x80>"))
    assert(!Bpe.baseSyms("a𠜎b").contains("<0x3F>"))
    // all three spellings agree: the fast encoder, the Catalyst fold
    // (Bpe.segment over the distinct words) and the per-word reference
    val fast = Bpe.encode(df, "doc_id", "text", m.merges.take(64), m.idOf)
      .select("doc_id", "n_tokens", "bpe_ids")
      .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
    val words = texts.flatMap(_._2.split(" ").filter(_.nonEmpty)).distinct
    val fold = Bpe.segment(words.toDF("w"), "w", m.merges.take(64))
      .select($"w", $"bpe_tokens").as[(String, Seq[String])].collect().toMap
    words.foreach(w => assert(fold(w) == refEncodeWord(w, m.merges.take(64)),
      s"fold diverges on '$w'"))
    val want = texts.map { case (id, t) =>
      val toks = t.split(" ").filter(_.nonEmpty).toSeq
        .flatMap(w => refEncodeWord(w, m.merges.take(64)))
      (id, toks.size.toLong, toks.map(s => m.idOf.getOrElse(s, -1)).mkString(" "))
    }
    assert(fast == want)
    // lossless decode: the emoji comes back verbatim, zero OOV
    val dec = Bpe.decode(
      Bpe.encode(df, "doc_id", "text", m.merges, m.idOf),
      "bpe_ids", m.idOf)
      .select($"doc_id", $"n_oov", $"decoded")
      .as[(Long, Long, String)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    texts.foreach { case (id, t) =>
      val expect = t.split(" ").filter(_.nonEmpty).mkString(" ")
      assert(dec(id) === ((0L, expect)), s"doc $id: '$t'")
    }
  }

  test("decode is robust to legacy -1 ids and renders them as '?'") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val idOf = graft.model.BpeMerges.idOf
    val df = Seq((1L, s"${idOf("a")} -1 ${idOf("</w>")}"))
      .toDF("doc_id", "bpe_ids")
    val out = Bpe.decode(df, "bpe_ids", idOf)
      .select($"n_oov", $"decoded").as[(Long, String)].head()
    assert(out == ((1L, "a?")))
  }
}

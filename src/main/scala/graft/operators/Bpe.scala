package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer training (Sennrich et al. 2016), the way
  * it actually scales: every iteration runs on the WORD-FREQUENCY table,
  * not the corpus. Zipf's law makes that table vocabulary-sized — a
  * 100 TB corpus compresses to a few million (word, freq) rows in one
  * combinable aggregation, after which each merge iteration is one tiny
  * pair-count aggregation plus one map over the vocab frame.
  *
  * The only driver-side data is ONE row per iteration (the argmax pair) —
  * the same bounded-by-construction pattern as the IVF quantizer sample.
  * The merge application itself is a pure Catalyst `aggregate` HOF fold:
  * no UDF, no collect of the vocabulary.
  *
  * Matches the reference algorithm exactly: merges apply left-to-right,
  * non-overlapping (after `a b → ab` in `a b b`, the remaining `b` does
  * NOT re-pair with the new `ab`s tail within the same pass), ties on
  * pair count break by (left, right) lexicographic order, and words carry
  * a `</w>` end marker so prefixes and whole words stay distinct tokens.
  */
object Bpe {

  /** Byte-fallback base decomposition of ONE code point (r13 verdict #4,
    * the GPT-2/SentencePiece `byte_fallback` convention): a character in
    * the frozen base alphabet is its own symbol; anything else
    * decomposes into its UTF-8 bytes, one `<0xNN>` token each
    * (uppercase hex — the `hex()` rendering of both engines). With the
    * 256 byte tokens in the id vocabulary the tokenizer has NO
    * out-of-vocabulary input and [[decode]]∘[[encode]] is lossless on
    * ANY text, supplementary planes included: the unit is the CODE
    * POINT, never a UTF-16 unit, so an emoji decomposes into its 4
    * UTF-8 byte tokens — exactly what [[baseSymsCol]]'s `substr`
    * spelling (UTF8String indexes code points) and the DuckDB oracle
    * emit. Iterating Chars here instead would hand each surrogate half
    * to `getBytes` alone, which encodes it as `?` (0x3F) — silent
    * corruption with n_oov = 0 (the r14 ADVICE find).
    */
  private[operators] def charSyms(cp: Int): Seq[String] = {
    val s = new String(Character.toChars(cp))
    if (cp <= Char.MaxValue && graft.model.BpeMerges.alphabetSet(cp.toChar))
      Seq(s)
    else s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      .toSeq.map(b => graft.model.BpeMerges.byteToken(b & 0xff))
  }

  /** [[charSyms]] over a whole word's CODE POINTS (no end marker). */
  private[operators] def baseSyms(w: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      out ++= charSyms(cp)
      i += Character.charCount(cp)
    }
    out.result()
  }

  /** The Catalyst spelling of [[charSyms]]+`</w>` over a text column —
    * shared by [[train]]'s symbol init and [[segment]]'s base (one
    * decomposition, every consumer): per character, alphabet members
    * pass through, others expand to `<0xNN>` tokens via
    * `hex(encode(c, 'UTF-8'))` split into pairs. Spark's `hex` renders
    * uppercase, matching [[graft.model.BpeMerges.byteToken]].
    */
  private[operators] def baseSymsCol(text: Column): Column = {
    val alphaLit = typedlit(graft.model.BpeMerges.baseAlphabet)
    val chars = transform(
      sequence(lit(1), length(text)), i => text.substr(i, lit(1)))
    val decomposed = flatten(transform(chars, c => {
      val h = hex(org.apache.spark.sql.functions.encode(c, "UTF-8"))
      when(array_contains(alphaLit, c), array(c))
        .otherwise(transform(
          sequence(lit(1), (length(h) / 2).cast("int")),
          j => concat(lit("<0x"), h.substr(j * 2 - 1, lit(2)), lit(">"))))
    }))
    // sequence(1, 0) would count DOWN ([1, 0]); empty text gets just
    // the marker
    when(length(text) === 0, array(lit(graft.model.BpeMerges.endWord)))
      .otherwise(concat(
        decomposed, array(lit(graft.model.BpeMerges.endWord))))
  }

  /** Word-frequency table for a text column: one combinable agg pass. */
  def wordFreq(corpus: DataFrame, textCol: String): DataFrame =
    corpus
      .select(explode(split(col(textCol), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w"))
      .agg(count(lit(1)).as("freq"))

  /** Train `numMerges` BPE merge rules over a (w, freq) vocabulary frame.
    * Returns the merges in training order. Stops early when no pair
    * occurs at least `minFreq` times.
    */
  def train(
      vocab: DataFrame,
      numMerges: Int,
      minFreq: Long = 2L): Seq[(String, String)] = {
    var syms = vocab
      .select(
        baseSymsCol(col("w")).as("syms"),
        col("freq").cast("long").as("freq"))
      .localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var done = false
    var it = 0
    while (it < numMerges && !done) {
      // tie-break order is (l, r) in Spark's UTF8String comparison =
      // UTF-8 byte order = Unicode CODE POINT order. Symbols can only
      // be base-alphabet (BMP) characters, `<0xNN>` byte tokens, or
      // concatenations thereof — non-BMP code points byte-decompose on
      // the way in — so Java String order coincides; the spec's
      // independent reference implementation still ties on code points
      // to keep the invariant explicit rather than incidental.
      val top = pairCounts(syms)
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1)
        .collect() // exactly one row — the argmax merge rule
      if (top.isEmpty || top(0).getLong(2) < minFreq) done = true
      else {
        val (a, b) = (top(0).getString(0), top(0).getString(1))
        merges += ((a, b))
        val old = syms
        syms = syms
          .select(applyMerge(col("syms"), a, b).as("syms"), col("freq"))
          .localCheckpoint(true) // vocab-sized; truncates the per-iteration lineage
        old.unpersist()
      }
      it += 1
    }
    syms.unpersist()
    merges.toSeq
  }

  /** Code-point lexicographic string order — the order Spark's
    * UTF8String (UTF-8 byte) comparison induces, which [[train]]'s
    * tie-break uses. Java String's natural order diverges past the BMP
    * (UTF-16 code units sort surrogates low), so spell it explicitly.
    */
  private[operators] val cpOrdering: Ordering[String] =
    new Ordering[String] {
      def compare(x: String, y: String): Int = {
        val n = math.min(x.length, y.length)
        var i = 0
        while (i < n) {
          val cx = x.codePointAt(i)
          val cy = y.codePointAt(i)
          if (cx != cy) return Integer.compare(cx, cy)
          i += Character.charCount(cx)
        }
        Integer.compare(x.length - i, y.length - i)
      }
    }

  /** Dictionary-scale BPE training, in memory, bit-identical to
    * [[train]] (property-spec'd so): same greedy argmax — pair count
    * desc, ties on (l, r) code-point order — same left-to-right
    * non-overlapping merge pass, same minFreq stop.
    *
    * Why it exists: [[train]] pays one Spark round-trip per merge
    * (pair-count agg + 1-row argmax collect + checkpoint) — the right
    * shape when the VOCABULARY doesn't fit one machine, but ~0.6 s per
    * rule makes a production-sized table (thousands of rules) an
    * hour-long offline job. Zipf's law says the word-frequency table is
    * dictionary-sized at ANY corpus scale, so the offline fixture
    * trainer collects it once (the same bounded-by-construction pattern
    * as the IVF quantizer sample) and runs the classic incremental
    * algorithm: a pair→containing-words index plus an ordered candidate
    * set, so each merge touches only the words it changes — O(affected
    * words × word length × log pairs) per rule instead of a full
    * vocabulary pass. 8,000 merges over a 25k-word vocabulary train in
    * seconds. [[train]] remains the unbounded-vocabulary path.
    */
  def trainInMemory(
      words: Seq[(String, Long)],
      numMerges: Int,
      minFreq: Long = 2L): Seq[(String, String)] = {
    type Pair = (String, String)
    val syms = words.map { case (w, _) =>
      scala.collection.mutable.ArrayBuffer.from(
        baseSyms(w) :+ "</w>")
    }.toArray
    val freq = words.map(_._2).toArray
    val pairCount = scala.collection.mutable.HashMap.empty[Pair, Long]
    val pairWords =
      scala.collection.mutable.HashMap.empty[Pair, scala.collection.mutable.BitSet]
    def wordPairs(s: scala.collection.Seq[String]): Iterator[Pair] =
      if (s.length < 2) Iterator.empty
      else (0 until s.length - 1).iterator.map(i => (s(i), s(i + 1)))
    // candidate order: count DESC, then (l, r) code-point ASC — the
    // TreeSet head is always the next merge rule
    implicit val pairOrd: Ordering[(Long, String, String)] =
      new Ordering[(Long, String, String)] {
        def compare(a: (Long, String, String), b: (Long, String, String)): Int = {
          val c = java.lang.Long.compare(b._1, a._1)
          if (c != 0) return c
          val l = cpOrdering.compare(a._2, b._2)
          if (l != 0) l else cpOrdering.compare(a._3, b._3)
        }
      }
    val candidates =
      scala.collection.mutable.TreeSet.empty[(Long, String, String)]
    syms.indices.foreach { wi =>
      wordPairs(syms(wi)).foreach { p =>
        pairCount.updateWith(p) { c => Some(c.getOrElse(0L) + freq(wi)) }
        pairWords.getOrElseUpdate(p, scala.collection.mutable.BitSet.empty) += wi
      }
    }
    pairCount.foreach { case ((l, r), c) => candidates += ((c, l, r)) }

    def applyPairDelta(p: Pair, delta: Long, wi: Int, add: Boolean): Unit = {
      val old = pairCount.getOrElse(p, 0L)
      if (old != 0L) candidates -= ((old, p._1, p._2))
      val nw = old + delta
      if (nw != 0L) {
        pairCount(p) = nw
        candidates += ((nw, p._1, p._2))
      } else pairCount.remove(p)
      val set = pairWords.getOrElseUpdate(p, scala.collection.mutable.BitSet.empty)
      if (add) set += wi else set -= wi
    }

    val merges = scala.collection.mutable.ArrayBuffer.empty[Pair]
    var done = false
    while (merges.length < numMerges && !done) {
      candidates.headOption match {
        case None => done = true
        case Some((cnt, _, _)) if cnt < minFreq => done = true
        case Some((_, a, b)) =>
          merges += ((a, b))
          val affected = pairWords.getOrElse((a, b),
            scala.collection.mutable.BitSet.empty).toArray
          affected.foreach { wi =>
            val s = syms(wi)
            // left-to-right non-overlapping pass (applyMerge semantics)
            val out = scala.collection.mutable.ArrayBuffer.empty[String]
            var i = 0
            while (i < s.length) {
              if (i + 1 < s.length && s(i) == a && s(i + 1) == b) {
                out += (a + b); i += 2
              } else { out += s(i); i += 1 }
            }
            if (out.length != s.length) {
              // exact recount of this word's pair contribution: old
              // multiset out, new multiset in (handles every overlap
              // case the incremental ±1 bookkeeping gets wrong)
              val oldCnts = scala.collection.mutable.HashMap.empty[Pair, Long]
              wordPairs(s).foreach(p =>
                oldCnts.updateWith(p)(c => Some(c.getOrElse(0L) + 1L)))
              val newCnts = scala.collection.mutable.HashMap.empty[Pair, Long]
              wordPairs(out).foreach(p =>
                newCnts.updateWith(p)(c => Some(c.getOrElse(0L) + 1L)))
              (oldCnts.keySet ++ newCnts.keySet).foreach { p =>
                val d = newCnts.getOrElse(p, 0L) - oldCnts.getOrElse(p, 0L)
                val stillThere = newCnts.getOrElse(p, 0L) > 0L
                if (d != 0L) applyPairDelta(p, d * freq(wi), wi, stillThere)
                else if (!stillThere) pairWords.get(p).foreach(_ -= wi)
              }
              // pairs present in both keep wi in their index — only the
              // vanished ones were removed above
              newCnts.keysIterator.foreach(p =>
                pairWords.getOrElseUpdate(p,
                  scala.collection.mutable.BitSet.empty) += wi)
              syms(wi) = out
            }
          }
      }
    }
    merges.toSeq
  }

  /** Frequency-weighted adjacent-pair counts over a (syms, freq) frame. */
  private[operators] def pairCounts(syms: DataFrame): DataFrame =
    syms
      .filter(size(col("syms")) >= 2)
      .select(
        col("freq"),
        explode(expr(
          "transform(sequence(0, size(syms) - 2)," +
            " i -> struct(syms[i] AS l, syms[i + 1] AS r))")).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("freq")).as("cnt"))

  /** One left-to-right, non-overlapping merge pass `(a, b) → ab` over a
    * symbol array, as a Catalyst fold: state = (emitted prefix, pending
    * symbol). A match emits the merged token and clears the pending slot,
    * so the merged token cannot chain into the next pair within this
    * pass — exactly the reference BPE semantics. The empty-string
    * sentinel is safe: every symbol is a non-empty character or a prior
    * merge of non-empty symbols.
    */
  private[operators] def applyMerge(syms: Column, a: String, b: String): Column = {
    // a LITERAL empty array<string> — NOT slice(syms, 1, 0): that would
    // reference `syms` a second time, and under [[segment]]'s nesting
    // each layer's input is the previous layer's whole expression tree,
    // so one extra reference per layer is a 2^depth tree blowup (96
    // frozen merges OOM'd the driver building the plan)
    val empty = typedlit(Seq.empty[String])
    aggregate(
      syms,
      struct(empty.as("acc"), lit("").as("prev")),
      (st, x) => {
        val acc = st.getField("acc")
        val prev = st.getField("prev")
        when(prev === lit(a) && x === lit(b),
          struct(concat(acc, array(lit(a + b))).as("acc"), lit("").as("prev")))
          .otherwise(struct(
            when(prev === lit(""), acc).otherwise(concat(acc, array(prev))).as("acc"),
            x.as("prev")))
      },
      st =>
        when(st.getField("prev") === lit(""), st.getField("acc"))
          .otherwise(concat(st.getField("acc"), array(st.getField("prev")))))
  }

  /** Segment a text column with a trained merge list: chars + `</w>`,
    * then every merge applied in training order. The merge rules are
    * literals compiled into the expression tree — broadcast-by-construction.
    *
    * `chunk` bounds the expression DEPTH: every `chunk` merges the frame
    * is eagerly localCheckpointed, so a production-sized merge table
    * (tens of thousands of rules) compiles as many shallow expression
    * trees instead of one tree deep enough to break codegen — the
    * intended input here is the DICTIONARY frame (distinct words), so
    * each checkpoint materializes a vocabulary-sized, not corpus-sized,
    * frame.
    */
  def segment(
      corpus: DataFrame,
      textCol: String,
      merges: Seq[(String, String)],
      chunk: Int = 32): DataFrame = {
    val base = baseSymsCol(col(textCol))
    val step = math.max(1, chunk)
    merges.grouped(step).zipWithIndex
      .foldLeft(corpus.withColumn("bpe_tokens", base)) {
        case (df, (grp, gi)) =>
          val applied = df.withColumn("bpe_tokens",
            grp.foldLeft(col("bpe_tokens")) {
              case (c, (a, b)) => applyMerge(c, a, b)
            })
          // checkpoint BETWEEN chunks only (the last chunk stays lazy so
          // trivial merge tables add no materialization at all); `step`,
          // not raw `chunk`, so chunk<=0 doesn't eagerly pin every merge
          if ((gi + 1) * step < merges.size) applied.localCheckpoint(true)
          else applied
      }
  }

  /** Sequential-exact single-word segmentation under a frozen merge
    * table, with cost independent of the TABLE size: lazily evaluates
    * the same in-order rule pass [[segment]]'s fold spells (and the
    * DuckDB oracle replays), skipping rules whose pair cannot be
    * present. A candidate heap holds rule ranks whose pair was observed
    * adjacent in some reached state; ranks pop in ascending order (=
    * training order), each pop re-checks presence (stale candidates
    * no-op) and applies the standard left-to-right non-overlapping
    * pass, then re-scans the (short) word for pairs and enqueues each
    * pair's smallest rank ABOVE the current one — a rule already passed
    * never re-fires, exactly the sequential semantics. Per word:
    * O(applied merges × |word| + candidates log candidates), vs the
    * fold's O(all rules × |word|).
    *
    * NOT the HuggingFace min-rank-first loop, deliberately: min-rank-
    * first diverges from in-order application when a later DIFFERENT
    * pair recreates an earlier rule's output string (e.g. rules
    * `1:(a,bc) 2:(abc,d) 3:(ab,c)` over `ab c d` — in-order yields
    * `abc d`, min-rank-first `abcd`); this repo's ground truth (the
    * fold, the reference, the oracle) is in-order, so the fast path
    * must be too. Property-spec'd equal to the fold on random corpora
    * and the frozen fixture.
    *
    * `ranksOf` maps a pair to its SORTED rule ranks (a pair can in
    * principle be re-learned after re-emerging mid-training, so the
    * general form is a list). Non-BMP input is fine: [[baseSyms]]
    * decomposes by code point, matching [[segment]] exactly.
    */
  private[operators] def segmentWordFast(
      w: String,
      merges: IndexedSeq[(String, String)],
      ranksOf: Map[(String, String), Array[Int]]): Array[String] = {
    var syms: Array[String] =
      (baseSyms(w) :+ "</w>").toArray
    if (syms.length < 2) return syms
    val pending = new java.util.TreeSet[Integer]()
    def enqueue(minExclusive: Int): Unit = {
      var i = 0
      while (i < syms.length - 1) {
        ranksOf.get((syms(i), syms(i + 1))).foreach { rs =>
          // smallest rank strictly above the rule just applied
          var lo = 0; var hi = rs.length
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            if (rs(mid) > minExclusive) hi = mid else lo = mid + 1
          }
          if (lo < rs.length) pending.add(rs(lo))
        }
        i += 1
      }
    }
    enqueue(-1)
    while (!pending.isEmpty) {
      val r = pending.pollFirst().intValue()
      val (a, b) = merges(r)
      val out = Array.newBuilder[String]
      var i = 0
      var changed = false
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
          out += (a + b); i += 2; changed = true
        } else { out += syms(i); i += 1 }
      }
      if (changed) {
        syms = out.result()
        enqueue(r)
      }
    }
    syms
  }

  /** `ranksOf` index for [[segmentWordFast]]: pair → sorted rule ranks. */
  private[operators] def mergeRanks(
      merges: Seq[(String, String)]): Map[(String, String), Array[Int]] =
    merges.zipWithIndex.groupBy(_._1).view
      .mapValues(_.map(_._2).toArray.sorted).toMap

  /** Encode a corpus to BPE token ids under a FROZEN merge table + id
    * vocabulary (e.g. the committed [[graft.model.BpeMerges]] fixture) —
    * the tokenizer-apply stage of a training-data pipeline. Output one
    * row per document: `n_tokens` (total BPE tokens, the number sequence
    * packing actually batches by) and `bpe_ids` (the id stream,
    * space-joined — deterministic, engine-portable). Tokens outside the
    * id vocabulary (e.g. characters the table was never trained over)
    * encode as −1, the documented OOV convention.
    *
    * Scale design — the same Zipf observation that makes [[train]]
    * feasible: the corpus is NOT segmented row by row. Distinct words
    * (vocabulary-sized) are segmented once each, then the encoded
    * dictionary joins back to the corpus' exploded word stream and one
    * per-document pass stitches the streams. Plan shape: one exploded
    * corpus pass → distinct (map-side combinable) → vocabulary-sized
    * segmentation (the per-word encoder runs per TYPE, not per
    * occurrence) → SHUFFLE_HASH dictionary join (the r11 broadcast-OOM
    * lesson: a "small" dictionary grows with vocabulary; shuffle-hash
    * keeps the build per-partition-sized at any corpus) → the
    * per-document assembly as a [[SortedGroupFold.reduceGroups]]
    * streaming fold — NOT a `collect_list` aggregate, whose per-group
    * object buffers are untracked heap and OOM'd the 8 GB bench JVM at
    * the 200k-doc TEXTSCALE point; the fold holds exactly one
    * document's id stream at a time over a spillable sort. The id map
    * itself is fixture-sized (vocab of the FROZEN tokenizer, not the
    * corpus) and rides one broadcast with the merge table.
    */
  def encode(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      merges: Seq[(String, String)],
      idOf: Map[String, Int]): DataFrame = {
    val spark = corpus.sparkSession
    val words = Spread.ensure(corpus.select(col(idCol), col(textCol)))
      .select(col(idCol),
        posexplode(split(col(textCol), " ")).as(Seq("__pos", "__w")))
      .filter(length(col("__w")) > 0)
    // the dictionary is segmented by segmentWordFast, whose cost is
    // independent of the rule count: the Catalyst fold ([[segment]])
    // pays one checkpointed dictionary pass per 32 rules and measured
    // 49.3 s/encode against 0.71 s (70x) at sf0.1 under the frozen
    // 8,000-merge fixture. The merge table + id vocab ride one broadcast
    // (fixture-sized), not a per-task closure copy.
    val bc = spark.sparkContext.broadcast(
      (merges.toIndexedSeq, mergeRanks(merges), idOf))
    import spark.implicits._
    val dict = words.select(col("__w")).distinct().as[String]
      .mapPartitions { it =>
        val (m, ranks, ids) = bc.value
        it.map { w =>
          val toks = segmentWordFast(w, m, ranks)
          (w, toks.length.toLong,
            toks.iterator
              .map(t => ids.getOrElse(t, -1).toString).mkString(" "))
        }
      }.toDF("__w", "__n", "__ids")
    val joined = words
      .join(dict.hint("shuffle_hash"), Seq("__w"))
      .select(col(idCol), col("__pos"), col("__n"), col("__ids"))
    val ni = joined.schema.fieldIndex("__n")
    val si = joined.schema.fieldIndex("__ids")
    SortedGroupFold.reduceGroups(
      joined, idCol, Seq("__pos"),
      Seq(
        org.apache.spark.sql.types.StructField(
          "n_tokens", org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField(
          "bpe_ids", org.apache.spark.sql.types.StringType, nullable = false))) {
      () => new SortedGroupFold.GroupReducer {
        private var n = 0L
        private val sb = new java.lang.StringBuilder
        def start(r: Row): Unit = { n = 0L; sb.setLength(0) }
        def next(r: Row): Unit = {
          n += r.getLong(ni)
          if (sb.length > 0) sb.append(' ')
          sb.append(r.getString(si))
        }
        def finish(): Seq[Any] = Seq(n, sb.toString)
      }
    }
  }

  /** Render one vocabulary token as the UPPERCASE hex of the bytes it
    * contributes to decoded text: `</w>` → a space (0x20), a
    * byte-fallback token `<0xNN>` → its byte, anything else → its UTF-8
    * bytes — scanning left to right so merge outputs that CONTAIN the
    * marker or byte tokens (a trained `ing</w>`, or a future merge over
    * byte tokens) render correctly segment by segment. The `<0xNN>`
    * shape cannot collide with text content: `<`, `>`, `x` inside a
    * token string can only have entered AS byte tokens, because the
    * characters themselves are outside the base alphabet and therefore
    * byte-decomposed by [[charSyms]] on the way in.
    */
  private[operators] def tokenHex(t: String): String = {
    val ew = graft.model.BpeMerges.endWord
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < t.length) {
      if (i + 6 <= t.length && t.startsWith("<0x", i) && t.charAt(i + 5) == '>') {
        sb.append(t.substring(i + 3, i + 5)); i += 6
      } else if (t.startsWith(ew, i)) {
        sb.append("20"); i += ew.length
      } else {
        t.charAt(i).toString
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          .foreach(b => sb.append(f"${b & 0xff}%02X"))
        i += 1
      }
    }
    sb.toString
  }

  /** Detokenize an [[encode]]d id stream back to text — the inspection /
    * sample-readback stage of a training-data pipeline (and the proof
    * the frozen id table is invertible). Appends `n_oov` (count of −1
    * ids — a stream encoded under a PRE-byte-fallback table could carry
    * them; [[encode]] itself no longer emits any) and `decoded`, the
    * EXACT reconstruction: with the 256 `<0xNN>` byte tokens in the
    * vocabulary, every non-alphabet character round-trips through its
    * UTF-8 bytes, so `decode(encode(text))` equals the
    * whitespace-normalized source text verbatim — no `?` substitution,
    * no character class lost (r13 verdict #4). That is precisely what
    * the DuckDB q147 oracle computes DIRECTLY from the source text
    * (split on spaces, drop empties, re-join), so the check closes the
    * loop over the whole encode→decode path rather than replaying the
    * decode.
    *
    * Mechanics: each id maps to the hex rendering of its token's bytes
    * ([[tokenHex]] — `</w>` is 0x20, byte tokens their byte), the hex
    * strings concatenate per document, and ONE `decode(unhex(…))`
    * materializes the text. Assembling in hex space is what makes byte
    * tokens composable: a multi-byte character's bytes arrive as
    * SEPARATE tokens, and only the final UTF-8 decode may fuse them.
    *
    * Scale design: pure per-row column expressions — the inverted id
    * table (fixture-sized, the frozen tokenizer's vocabulary) compiles
    * into the plan as a literal ARRAY indexed by id, because ids are
    * dense by construction (base block + byte block + one per merge): a
    * positional `element_at` is O(1) per token, where the literal-MAP
    * spelling is a linear scan of the 8k-entry map per probe — measured
    * 75 s vs the encode's own 23 s at the 1M-doc TEXTSCALE point before
    * the respell (5×10¹¹ key comparisons hiding in one innocuous
    * expression). No join, no shuffle, no UDF.
    */
  def decode(
      df: DataFrame,
      idsCol: String,
      idOf: Map[String, Int],
      oovMark: String = "?"): DataFrame = {
    val maxId = idOf.values.max
    val oovHex = oovMark
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      .map(b => f"${b & 0xff}%02X").mkString
    // dense id → hex of the token's byte contribution; ids skipped by
    // first-writer-wins dedup stay at the OOV rendering
    val slots = Array.fill(maxId + 1)(oovHex)
    idOf.foreach { case (t, i) => slots(i) = tokenHex(t) }
    val hexArr = typedlit(slots.toSeq)
    val hexes = transform(
      split(col(idsCol), " "),
      s => {
        val idL = s.cast("long")
        // the when-guard keeps ANSI element_at in bounds; ids outside
        // [0, maxId] (the legacy −1 OOV convention) fall through
        coalesce(
          when(idL.between(0L, maxId.toLong),
            element_at(hexArr, (idL + 1L).cast("int"))),
          lit(oovHex))
      })
    df.withColumn(
        "n_oov",
        size(filter(split(col(idsCol), " "), s => s === lit("-1")))
          .cast("long"))
      .withColumn(
        "decoded",
        rtrim(org.apache.spark.sql.functions.decode(
          unhex(array_join(hexes, "")), "UTF-8")))
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus quality filtering for LLM-training pipelines: per-document
  * rule signals in the style of the Gopher rules (Rae et al. 2021,
  * appendix A1) and C4 (Raffel et al. 2020), plus within-document
  * repetition signals (duplicate-n-gram fraction).
  *
  * Scale design (100 TB): every signal is a pure column expression over
  * one row (codegen'd built-ins — no UDFs, no shuffle); the rule filter
  * is applied at the scan, so Parquet sees the pushed-down predicate on
  * any materialized signal columns. Repetition needs one groupBy per
  * document (keys = doc ids, perfectly spreadable) and never holds more
  * than one document's n-gram counts per group.
  */
object QualityRules {

  /** Eager checkpoint for corpus-sized or vocabulary²-sized
    * intermediates, pinned DISK_ONLY instead of the default
    * MEMORY_AND_DISK: a multi-GB block set in the storage pool squeezes
    * the unified memory manager's EXECUTION side (storageFraction
    * protects half the pool from eviction), and the KN scorers' own
    * shuffle-hash builds are the first to starve — q138 at
    * the text sweep's 500k-doc point died UNABLE_TO_ACQUIRE_MEMORY with
    * its 60M-row bigram checkpoint resident (r12). Disk blocks read
    * back through the OS page cache; the lineage cut and
    * materialize-once semantics are identical.
    */
  private def pinToDisk(df: DataFrame): DataFrame =
    df.localCheckpoint(true, org.apache.spark.storage.StorageLevel.DISK_ONLY)


  /** Single-space tokenization, empty tokens dropped — the engine-portable
    * token bag (mirrors `string_split(text, ' ')` + non-empty filter in
    * the DuckDB oracles).
    */
  def spaceTokens(text: Column): Column =
    filter(split(text, " "), t => length(t) > 0)

  /** Distinct word n-gram shingles joined by single spaces; empty array
    * when the document has fewer than `n` tokens. Native codegen'd
    * expression ([[graft.functions.WordNGrams]]) — the equivalent
    * higher-order-function chain runs interpreted and costs ~20× on
    * shingle-heavy scans.
    */
  def wordShingles(text: Column, n: Int): Column =
    graft.internal.Cols.of(graft.functions.WordNGrams(
      graft.internal.Cols.expressionOf(text), n, distinct = true))

  /** All word n-grams in order, duplicates kept (repetition signals). */
  def wordNGramsAll(text: Column, n: Int): Column =
    graft.internal.Cols.of(graft.functions.WordNGrams(
      graft.internal.Cols.expressionOf(text), n, distinct = false))

  /** Stopwords used for the presence signal (tiny on purpose — the
    * signal is "does the document contain ANY glue words", not a ratio).
    */
  val stopwords: Seq[String] = Seq("the", "a", "and", "of", "to")

  /** Gopher-style rule signals appended as columns:
    * `n_words`, `mean_word_len` (non-space chars per word),
    * `stop_hits` (distinct stopwords present), `gopher_pass`.
    */
  def gopherSignals(
      df: DataFrame,
      textCol: String,
      minWords: Int = 20,
      maxWords: Int = 90,
      minMeanWordLen: Double = 3.0,
      maxMeanWordLen: Double = 4.6): DataFrame = {
    // tokenize/regex per row is the cost — spread a small single-block
    // scan across cores first (no-op on a many-block production input)
    val src = Spread.ensure(df)
    val t = col(textCol)
    val toks = spaceTokens(t)
    val nWords = size(toks)
    val nChars = length(t)
    // explicit class, not \s: Java's \s includes vertical tab, RE2's
    // (DuckDB) does not — the explicit class is engine-independent
    val nSpace = nChars - length(regexp_replace(t, "[ \\t\\n\\f\\r]", ""))
    val meanLen = when(nWords === 0, lit(0.0))
      .otherwise((nChars - nSpace).cast("double") / nWords)
    val stopHits = size(array_intersect(
      array_distinct(toks), array(stopwords.map(lit): _*)))
    src.withColumn("n_words", nWords.cast("long"))
      .withColumn("mean_word_len", meanLen)
      .withColumn("stop_hits", stopHits.cast("long"))
      .withColumn(
        "gopher_pass",
        nWords.between(minWords, maxWords) &&
          meanLen.between(minMeanWordLen, maxMeanWordLen) &&
          stopHits >= 1)
  }

  /** Statistical quality score: mean add-one-smoothed bigram
    * log-probability of each document under the corpus's own bigram
    * language model — the KenLM-style "perplexity filter" of training
    * pipelines (score low ⇒ text is unlike the corpus: boilerplate,
    * gibberish, wrong language), self-trained so no external model is
    * needed. score = mean over bigrams (w1,w2) of
    * ln((c(w1 w2) + 1) / (c(w1) + V)), V = distinct unigram count.
    *
    * Scale design: two count tables (unigram, bigram) built map-side
    * combinable from one exploded scan each; scoring joins the
    * document's bigrams to the two tables on their keys (hash joins on
    * count tables ~vocabulary-sized, far smaller than the corpus) and
    * one per-doc average. Documents with fewer than 2 tokens drop.
    */
  def bigramLmScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val src = Spread.ensure(df.select(col(idCol), col(textCol)))
    // Count tables and the scoring join run on 64-bit token hashes, not
    // strings: after the explode, nothing string-typed ever shuffles
    // (same reasoning as the q58 similarity join — collisions ~2e-9 at
    // 1e5 distinct tokens, and the oracle agrees because counts, not
    // token identities, reach the output).
    // checkpoint BEFORE the count: V is read off the materialized table,
    // not by re-running the corpus scan + shuffle agg a second time
    val uni = src
      .select(explode(wordNGramsAll(col(textCol), 1)).as("__w1"))
      .select(xxhash64(col("__w1")).as("__w1h"))
      .groupBy("__w1h").agg(count(lit(1)).as("__cu"))
      .localCheckpoint(true)
    val vocab = uni.count()
    // one shingle pass serves both the bigram count table and the
    // scoring join (localCheckpoint: materialized once, lineage cut)
    val bgr = pinToDisk(src
      .select(col(idCol), explode(wordNGramsAll(col(textCol), 2)).as("__bg"))
      .select(
        col(idCol),
        xxhash64(col("__bg")).as("__bgh"),
        xxhash64(substring_index(col("__bg"), " ", 1)).as("__w1h")))
    val bi = bgr.groupBy("__bgh").agg(count(lit(1)).as("__cb"))
    bgr
      .join(bi, "__bgh")
      .join(uni, "__w1h")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_bigrams"),
        avg(log((col("__cb") + 1).cast("double") / (col("__cu") + vocab)))
          .as("lm_logprob"))
  }

  /** Interpolated Kneser-Ney bigram-LM quality score — the smoothing
    * KenLM/CCNet-family perplexity filters actually use (Kneser & Ney
    * 1995; Chen & Goodman 1999 interpolated form), a genuine step past
    * [[bigramLmScore]]'s add-one: probability mass discounted from seen
    * bigrams is redistributed by CONTINUATION counts (how many distinct
    * contexts a word follows), not raw frequency, so boilerplate tokens
    * that appear often in one context stop dominating the backoff.
    *
    *   P(w2|w1) = (c(w1 w2) - D)/c(w1·) + D·N1+(w1·)/c(w1·) · P_cont(w2)
    *   P_cont(w2) = N1+(·w2) / |bigram types|
    *   D = n1/(n1 + 2·n2)  (Ney et al. estimate from singleton/doubleton
    *       type counts; 0.5 if the corpus has neither)
    *
    * Determinism at any scale (the q135/DSIR pattern + the r10 money-sum
    * lesson): each bigram TYPE's log-probability is quantized ONCE to a
    * 1e-6 fixed-point LONG in the model table; per-document scores are
    * then plain LONG sums — order-independent under any partial-agg
    * schedule, so sf1+ hashes cannot flip with accumulation order.
    *
    * Scale design: one exploded bigram pass (localCheckpoint — it feeds
    * both the count table and the scoring join); ALL model statistics
    * (context totals c(w1·), right-diversity N1+(w1·), left-continuation
    * N1+(·w2), type/singleton/doubleton totals) derive from the
    * bigram-TYPE table, which is vocabulary²-bounded and tiny next to
    * the corpus — three map-side-combinable aggs plus one 1-row
    * broadcast. Scoring joins hash-keyed count tables exactly like
    * [[bigramLmScore]]: nothing string-typed ever shuffles, and the
    * oracle agrees because counts, not token identities, reach the
    * output.
    *
    * Key-width domain (see [[knKey]]): the default 64-bit xxhash64 keys
    * are collision-clean for harness/enterprise vocabularies (expected
    * merged type pairs ≈ n²/2⁶⁵: ~2.7e-4 at 1e5 bigram types, ~0.03 at
    * 1e6) but a web-scale model corpus with ~1e9 bigram types expects
    * ~2.7e4 merged pairs — each merge adds two types' counts together,
    * a ppm-level perturbation of an LM *filter* score, invisible next
    * to the discounting itself, but nonzero. The 100 TB design point
    * sets `spark.graft.kn.wideKeys=true`: every type key becomes the
    * 16-byte md5 digest (expected collisions ~1.5e-21 at 1e9 types),
    * same plan shape, keys twice as wide on the vocabulary-sized
    * shuffles only — the corpus-sized per-document agg never carries
    * them. Proven bit-identical to the default on the test corpus
    * (`QualityRulesSpec`). Measured price (r13 TEXTSCALE, same tree as
    * the narrow-key sweep): q138 13.4→17.8 s at 200k docs / 28.3→35.4 s
    * at 500k, q140 15.9→20.2 / 33.7→42.2 — a flat ~25-33% for the
    * collision-free 1e9-type recommendation, all of it the wider
    * md5 evaluation + shuffle bytes on the type tables.
    *
    * Output: (id, n_bigrams, kn_fp) where kn_fp = Σ quantized log-probs
    * (LONG, exact); callers derive the rounded mean. Documents with
    * fewer than 2 tokens drop (no bigrams), as in [[bigramLmScore]].
    */
  def knBigramLmScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val key = knKey(df)
    val src = Spread.ensure(df.select(col(idCol), col(textCol)))
    // one shingle pass serves both the type-count table and the scoring
    // join (localCheckpoint: materialized once, lineage cut)
    val bgr = pinToDisk(src
      .select(col(idCol), explode(wordNGramsAll(col(textCol), 2)).as("__bg"))
      .select(
        col(idCol),
        key(col("__bg")).as("__bgh"),
        key(substring_index(col("__bg"), " ", 1)).as("__w1h"),
        key(substring_index(col("__bg"), " ", -1)).as("__w2h")))
    // bigram TYPE table: within a __bgh group the token hashes are
    // functionally determined (min() spells that deterministically)
    val cb = pinToDisk(bgr.groupBy("__bgh").agg(
      count(lit(1)).as("__cb"),
      min(col("__w1h")).as("__w1h"),
      min(col("__w2h")).as("__w2h")))
    val ctx = cb.groupBy("__w1h").agg(
      sum(col("__cb")).as("__c1"), count(lit(1)).as("__n1p"))
    val cont = cb.groupBy("__w2h").agg(count(lit(1)).as("__n1l"))
    // T, n1, n2 in ONE 1-row aggregate, broadcast back (no collect)
    val tot = cb.agg(
      count(lit(1)).as("__t"),
      sum(when(col("__cb") === 1, 1L).otherwise(0L)).as("__n1"),
      sum(when(col("__cb") === 2, 1L).otherwise(0L)).as("__n2"))
    val d = when(col("__n1") + col("__n2") * 2 > 0,
      col("__n1").cast("double") / (col("__n1") + col("__n2") * 2))
      .otherwise(lit(0.5))
    // every model-side join is SHUFFLE_HASH-hinted: the type tables are
    // only small relative to the corpus — they grow with vocabulary²,
    // and a "small enough by estimate" broadcast of a multi-million-row
    // HashedRelation OOMs the driver (caught by the text sweep's
    // 200k-doc point, ~100k-token vocab). Shuffle-hash keeps each
    // build per-partition-sized at any vocabulary; no sort needed on
    // 64-bit hash keys.
    val model = cb.hint("shuffle_hash")
      .join(ctx.hint("shuffle_hash"), "__w1h")
      .join(cont.hint("shuffle_hash"), "__w2h")
      .crossJoin(broadcast(tot))
      .select(
        col("__bgh"),
        floor(
          log(
            (col("__cb") - d) / col("__c1")
              + d * col("__n1p") / col("__c1")
                * (col("__n1l").cast("double") / col("__t")))
            * 1000000 + lit(0.50001)).cast("long").as("__qlp"))
    bgr
      .join(model.hint("shuffle_hash"), "__bgh")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("__qlp")).as("kn_fp"))
  }

  /** CROSS-CORPUS interpolated-KN scoring — the CCNet shape (Wenzek et
    * al. 2020): the LM is trained on a TARGET corpus (`modelDf`, e.g.
    * the trusted in-domain slice) and scores a DIFFERENT corpus, which
    * is where out-of-vocabulary mass appears ([[knBigramLmScore]]'s
    * self-scoring never meets an unseen bigram). OOV treatment, exact
    * and SQL-replayable:
    *
    *  - seen bigram:        (c−D)/c(w1·) + D·N1+(w1·)/c(w1·)·P_cont(w2)
    *  - seen w1, new pair:  D·N1+(w1·)/c(w1·)·P_cont(w2)   (backoff mass)
    *  - unseen w1:          P_cont(w2)                      (continuation)
    *  - unseen w2 anywhere: P_cont floors at 1/(2T) — half the smallest
    *    seen continuation mass, so OOV words score strictly below every
    *    in-vocabulary word and ln() never sees 0. Deterministic by
    *    construction, no char-level backoff model needed.
    *
    * Quantization happens once per SCORED-corpus bigram type (the model
    * tables no longer cover them), then per-doc scores are the same
    * order-independent LONG sums. Model statistics stay TYPE-table-
    * bounded; the scored corpus pays one exploded pass.
    */
  def knBigramLmScoreAgainst(
      df: DataFrame,
      modelDf: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val key = knKey(df)
    val mbgr = Spread.ensure(modelDf.select(col(textCol)))
      .select(explode(wordNGramsAll(col(textCol), 2)).as("__bg"))
      .select(
        key(col("__bg")).as("__bgh"),
        key(substring_index(col("__bg"), " ", 1)).as("__w1h"),
        key(substring_index(col("__bg"), " ", -1)).as("__w2h"))
    val mcb = pinToDisk(mbgr.groupBy("__bgh").agg(
      count(lit(1)).as("__cb"),
      min(col("__w1h")).as("__w1h"),
      min(col("__w2h")).as("__w2h")))
    val mctx = mcb.groupBy("__w1h").agg(
      sum(col("__cb")).as("__c1"), count(lit(1)).as("__n1p"))
    val mcont = mcb.groupBy("__w2h").agg(count(lit(1)).as("__n1l"))
    val mtot = mcb.agg(
      count(lit(1)).as("__t"),
      sum(when(col("__cb") === 1, 1L).otherwise(0L)).as("__n1"),
      sum(when(col("__cb") === 2, 1L).otherwise(0L)).as("__n2"))
    val d = when(col("__n1") + col("__n2") * 2 > 0,
      col("__n1").cast("double") / (col("__n1") + col("__n2") * 2))
      .otherwise(lit(0.5))
    val bgr = pinToDisk(Spread.ensure(df.select(col(idCol), col(textCol)))
      .select(col(idCol), explode(wordNGramsAll(col(textCol), 2)).as("__bg"))
      .select(
        col(idCol),
        key(col("__bg")).as("__bgh"),
        key(substring_index(col("__bg"), " ", 1)).as("__w1h"),
        key(substring_index(col("__bg"), " ", -1)).as("__w2h")))
    // SCORED-corpus bigram types, LEFT-joined to the model stats —
    // quantized once per type, as in the self-scoring path
    val stypes = bgr.groupBy("__bgh").agg(
      min(col("__w1h")).as("__w1h"), min(col("__w2h")).as("__w2h"))
    // loud guard: a model corpus with zero bigrams must error, not emit
    // log(x/0) garbage (lazy branch — raise_error evaluates only if hit)
    val contP = when(col("__t") > 0,
      coalesce(
        col("__n1l").cast("double") / col("__t"),
        lit(0.5) / col("__t")))
      .otherwise(expr(
        "raise_error('knBigramLmScoreAgainst: model corpus has no bigrams')")
        .cast("double"))
    // shuffle-hash on every type-table join — same driver-OOM reasoning
    // as the self-scoring path above (type tables grow with vocabulary)
    val model = stypes.hint("shuffle_hash")
      .join(mcb.select(col("__bgh"), col("__cb")).hint("shuffle_hash"),
        Seq("__bgh"), "left")
      .join(mctx.hint("shuffle_hash"), Seq("__w1h"), "left")
      .join(mcont.hint("shuffle_hash"), Seq("__w2h"), "left")
      .crossJoin(broadcast(mtot))
      .select(
        col("__bgh"),
        floor(
          log(
            when(col("__cb").isNotNull,
              (col("__cb") - d) / col("__c1")
                + d * col("__n1p") / col("__c1") * contP)
              .when(col("__c1").isNotNull,
                d * col("__n1p") / col("__c1") * contP)
              .otherwise(contP))
            * 1000000 + lit(0.50001)).cast("long").as("__qlp"))
    bgr
      .join(model.hint("shuffle_hash"), "__bgh")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("__qlp")).as("kn_fp"))
  }

  /** Type-table key builder for the KN/CCNet model joins: 64-bit
    * xxhash64 by default; the 16-byte md5 digest when the session sets
    * `spark.graft.kn.wideKeys=true` (the 100 TB design point — see the
    * key-width-domain note on [[knBigramLmScore]]). One source of truth
    * so the self-scoring and cross-corpus paths can never key
    * differently.
    */
  private def knKey(df: DataFrame): Column => Column = {
    if (graft.GraftConf.bool(df.sparkSession, "spark.graft.kn.wideKeys", default = false))
      c => unhex(md5(c))
    else c => xxhash64(c)
  }

  /** Within-document repetition: the duplicate-bigram signal. For each
    * document, the count of its most frequent word bigram, the total
    * bigram count, and their ratio — the standard "top n-gram fraction"
    * repetition rule. Documents with fewer than 2 tokens drop out.
    */
  def duplicateBigramFraction(
      df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val bigrams = Spread.ensure(df.select(col(idCol), col(textCol)))
      .select(
        col(idCol),
        explode(wordNGramsAll(col(textCol), 2)).as("__bg"))
      // 64-bit hash key: only counts reach the output, so the bigram
      // string itself never needs to shuffle (cf. bigramLmScore)
      .select(col(idCol), xxhash64(col("__bg")).as("__bgh"))
    bigrams
      .groupBy(col(idCol), col("__bgh"))
      .agg(count(lit(1)).as("__n"))
      .groupBy(col(idCol))
      .agg(
        max(col("__n")).as("top_bigram_n"),
        sum(col("__n")).as("n_bigrams"))
      .withColumn(
        "dup_bigram_frac",
        col("top_bigram_n").cast("double") / col("n_bigrams"))
  }
}

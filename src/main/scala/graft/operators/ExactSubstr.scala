package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact duplicate-substring detection — the suffix-array dedup family
  * (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
  * Better", ExactSubstr): every maximal character span covered by some
  * length-≥L substring that also occurs elsewhere in the corpus. This is
  * the alignment-free sibling of q105's C4 span dedup (which only sees
  * duplicates that start on 10-word span boundaries) and the exact
  * complement of MinHash (which scores whole documents): boilerplate
  * headers, licence blocks, and quoted passages are caught at ANY offset
  * and marked character-exactly.
  *
  * Distributed spelling: a global suffix array wants the corpus in one
  * address space; instead, observe that a character lies in a duplicated
  * substring of length ≥ L iff it lies in some duplicated window of
  * length EXACTLY L — so the duplicated-character set is the interval
  * union of the duplicated L-windows, and maximal duplicated spans are
  * maximal runs of window starts at gaps ≤ L. This is Lee et al.'s
  * bounded-suffix-key observation: suffixes need only be compared on
  * their first L bytes, so "sort the suffixes" collapses to "group the
  * L-windows".
  *
  * Scale shape (100 TB): ONE corpus-sized shuffle of (digest, doc, pos)
  * triples — the window is keyed by its 128-bit MD5 (the repo's exact-
  * dedup convention, cf. [[Dedup.exact]]), 16 bytes instead of an L-byte
  * suffix key — then a per-doc window merge that shuffles only the
  * marked positions. NEVER all-pairs and no per-bucket expansion: a
  * window duplicated a million times (the degenerate boilerplate case)
  * is handled by its bucket COUNT; positions are marked, not paired, so
  * there is no quadratic arm to cap. The per-doc island merge partitions
  * by doc — bounded by document length, embarrassingly parallel.
  *
  * Scratch bound (r14 verdict #1; factor re-anchored r16): the digest
  * shuffle's merge phase holds spill files + merged output
  * simultaneously — ~2× its shuffle bytes of transient scratch, which
  * ENOSPC'd this host at 4M docs under BOTH codecs. The best-measured
  * peak is [[ScratchPerInputByte]] ≈ 62× the parquet input bytes under
  * the zstd default (the r15 4M record: 23.2 GB peak at K = 4 over
  * 1.5 GB input; the earlier "~20×" figure underestimated — it was
  * read from a mid-run disk sample, not the K-normalized peak, and the
  * same-corpus ENOSPC at >74 GB free already implied ≥ 49×). Per-node
  * DISK, not time, is the binding constraint at 100 TB — so
  * `spark.graft.exactSubstr.passes = K` partitions the DIGEST SPACE into
  * K sequential passes: pass i keeps only windows with
  * `pmod(hash(digest), K) = i` BEFORE the shuffle, marks/cuts them, and
  * releases its shuffle files before pass i+1 starts (eager
  * localCheckpoint + GC-driven ContextCleaner). EXACT by construction:
  * every occurrence of a window shares its digest, hence its pass, so
  * the duplicated-position set is the disjoint union of the per-pass
  * sets and the downstream island merge never notices. Cost: K window-
  * generation scans (MD5 recompute — CPU, which is not the wall) for a
  * merge-peak scratch bound of ~1/K per pass; `passes = auto` turns
  * the rule into provisioning ([[sizePasses]]).
  */
object ExactSubstr {

  /** Measured merge-peak scratch per parquet input byte under the zstd
    * default codec: the r15 TEXTSCALE 4M-doc record ran K = 4 passes
    * over 1.5 GB of input at 23.2 GB peak scratch ⇒ ~62× input bytes
    * per full digest shuffle (consistent with the r14 K = 1 ENOSPC at
    * >74 GB free on the same corpus: 62 × 1.5 ≈ 93 GB > 74). Override
    * via `spark.graft.exactSubstr.scratchPerInputByte` — e.g. roughly
    * double it under lz4 (zstd ~halves shuffle scratch, the r14 A/B).
    */
  val ScratchPerInputByte: Double = 62.0

  /** Planning fill-factor of currently-free scratch space: auto mode
    * provisions each pass to use at most this fraction of what is free
    * NOW. 0.8 reproduces the true historical decisions (2M docs fit at
    * K = 1; 4M did not) while guarding the estimate's variance — the
    * failure costs are asymmetric (ENOSPC kills a multi-hundred-second
    * job; one extra pass costs ~K-th of a corpus re-scan). Override via
    * `spark.graft.exactSubstr.scratchHeadroom`.
    */
  val ScratchHeadroom: Double = 0.8

  /** Minimal pass count whose per-pass merge-peak scratch
    * (`scratchPerInputByte · inputBytes / K`) fits inside
    * `headroom · freeBytes`. Pure — spec'd on both regimes. Unknown
    * input or free space (≤ 0) degrades to 1, the lazy single-shuffle
    * default; the 64 cap is a runaway backstop (a K that large means
    * the scratch volume is ~wrong for the host, not that 65 corpus
    * re-scans are a good plan).
    */
  def sizePasses(
      inputBytes: Long,
      freeBytes: Long,
      scratchPerInputByte: Double = ScratchPerInputByte,
      headroom: Double = ScratchHeadroom): Int = {
    if (inputBytes <= 0 || freeBytes <= 0) 1
    else {
      val need = scratchPerInputByte * inputBytes
      val budget = headroom * freeBytes
      if (need <= budget) 1 else math.min(64, math.ceil(need / budget).toInt)
    }
  }

  /** The auto-mode decision against `df`'s real input stats and the
    * host's real local-dir free space: (passes, inputBytes, freeBytes).
    * Public so the TEXTSCALE record can carry the decision inputs.
    */
  def autoPassDecision(df: DataFrame): (Int, Long, Long) = {
    val spark = df.sparkSession
    val perByte = graft.GraftConf.positiveDouble(
      spark, "spark.graft.exactSubstr.scratchPerInputByte", ScratchPerInputByte)
    val headroom = graft.GraftConf.positiveDouble(
      spark, "spark.graft.exactSubstr.scratchHeadroom", ScratchHeadroom)
    val input = Spread.inputBytes(df)
    val free = freeScratchBytes(spark)
    (sizePasses(input, free, perByte, headroom), input, free)
  }

  /** Usable bytes across the session's `spark.local.dir` targets (the
    * dirs shuffle scratch actually lands in), JVM tmpdir fallback —
    * distinct paths summed, mirroring Spark's own round-robin use.
    */
  private def freeScratchBytes(
      spark: org.apache.spark.sql.SparkSession): Long = {
    val dirs = Option(spark.sparkContext.getConf.get("spark.local.dir", null))
      .getOrElse(System.getProperty("java.io.tmpdir", "/tmp"))
    dirs.split(",").map(_.trim).filter(_.nonEmpty).distinct
      .map(d => new java.io.File(d).getUsableSpace).sum
  }

  /** Digest-space pass count: an explicit integer conf is taken as-is
    * (the measured dial); `auto` provisions via [[sizePasses]] against
    * real input stats + free scratch, with a loud log of the decision
    * and its inputs. Default 1 — auto is OPT-IN because K > 1 changes
    * execution semantics (eager, non-reliable; see [[duplicateSpans]]),
    * which a library must not spring on callers by disk state.
    */
  private def digestPasses(df: DataFrame): Int =
    graft.GraftConf.read(df.sparkSession, "spark.graft.exactSubstr.passes", Option(1),
      "auto or a positive integer") { v =>
      if (v.equalsIgnoreCase("auto")) Some(None)
      else v.toIntOption.filter(_ >= 1).map(Some(_))
    }.getOrElse {
      val (k, input, free) = autoPassDecision(df)
      System.err.println(
        f"[exactSubstr] auto passes=$k (input=${input / 1e9}%.2f GB, " +
          f"scratch~${ScratchPerInputByte * input / 1e9}%.1f GB at K=1, " +
          f"free=${free / 1e9}%.1f GB)")
      k
    }

  /** The (id, pos, digest) window frame — one fused pass per doc builds
    * all window digests (len·MD5 per doc, the suite's most compute-dense
    * scan family, hence the spread weight; see Spread.computeWeight and
    * the q37 A/B). `unhex`: key by the 16 BINARY digest bytes, not
    * md5's 32-char hex rendering — halves the corpus-sized shuffle's
    * key width.
    */
  private def windowDigests(
      df: DataFrame, idCol: String, textCol: String, L: Int): DataFrame =
    Spread
      .ensure(df.select(col(idCol), col(textCol)), computeWeight = 10.0)
      .filter(length(col(textCol)) >= L)
      .select(
        col(idCol).as("__id"),
        posexplode(expr(
          s"transform(sequence(1, length($textCol) - ${L - 1}), " +
            s"i -> unhex(md5(substring($textCol, i, $L))))")).as(Seq("__p0", "__h")))
      .select(col("__id"), (col("__p0") + 1).as("pos"), col("__h"))

  /** Run `stage` (a digest-keyed mark/cut producing (id, pos) rows)
    * either once over the whole window frame, or as `passes` sequential
    * digest-space slices. Each slice filters
    * `pmod(hash(__h), passes) = i` BEFORE the shuffle — Murmur3 over
    * the 16 digest bytes, so the slice is deterministic and every
    * occurrence of a window lands in the same pass — then EAGERLY
    * materializes (localCheckpoint) so the pass's shuffle scratch can
    * be reclaimed before the next pass allocates its own. The explicit
    * GC nudge is what turns "can be reclaimed" into "is reclaimed
    * now": Spark's ContextCleaner deletes shuffle files only when the
    * ShuffleDependency is garbage-collected, and a multi-minute pass
    * would otherwise keep K−1 dead passes' files on disk — exactly the
    * accumulation this mode exists to prevent.
    */
  private def multiPass(wins: DataFrame, passes: Int)(
      stage: DataFrame => DataFrame): DataFrame =
    if (passes <= 1) stage(wins)
    else
      (0 until passes).map { i =>
        val part = stage(
          wins.filter(pmod(hash(col("__h")), lit(passes)) === i))
          .localCheckpoint(true)
        System.gc()
        part
      }.reduce(_.union(_))

  /** Maximal duplicated spans `(id, span_start, span_end, span_len)`,
    * 1-based inclusive character positions; a span is reported for every
    * document it occurs in (Lee et al. remove all but one copy — that
    * choice is a one-line filter on top of this frame, kept out so the
    * caller owns the keep policy).
    *
    * @param minLen window length L: a duplicated substring shorter than
    *               L is not reported; one of length ≥ L is reported
    *               exactly (its every character is covered by a
    *               duplicated L-window). 50 is the Lee et al. default.
    *
    * @note With `spark.graft.exactSubstr.passes` > 1 this call EXECUTES
    *       the K mark passes eagerly at DataFrame-construction time
    *       (each pass localCheckpoints so its shuffle scratch releases
    *       before the next allocates — the whole point of the mode),
    *       and localCheckpoint is non-reliable: executor loss mid-job
    *       fails the job instead of recomputing. Both are deliberate
    *       trades for the measured ~/K scratch bound; callers composing
    *       this lazily (e.g. building many frames before acting) should
    *       leave passes at 1. Default passes = 1 is fully lazy.
    */
  def duplicateSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minLen: Int = 50): DataFrame = {
    val L = minLen
    require(L >= 2, s"minLen must be >= 2, got $L")
    val passes = digestPasses(df) // conf read before any work
    val wins = windowDigests(df, idCol, textCol, L)
    // mark: window duplicated corpus-wide (count over the digest key;
    // the only corpus-sized shuffle — or K digest-space slices of it
    // under spark.graft.exactSubstr.passes, each released before the
    // next: see the object scaladoc's scratch bound)
    val dup = multiPass(wins, passes)(markDuplicated)
    // merge: gaps-and-islands per doc — window starts p1 < p2 cover a
    // contiguous character run iff p2 ≤ p1 + L
    val byDoc = Window.partitionBy(col("__id")).orderBy(col("pos"))
    dup
      .withColumn("__gap",
        when(col("pos") - lag(col("pos"), 1).over(byDoc) > L, 1).otherwise(0))
      .withColumn("__grp",
        sum(col("__gap")).over(byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("__id"), col("__grp"))
      .agg(
        min(col("pos")).as("span_start"),
        (max(col("pos")) + L - 1).as("span_end"))
      .select(
        col("__id").as(idCol),
        col("span_start"),
        col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_len"))
  }

  /** Mark stage: the (id, pos) rows whose window digest occurs ≥ 2
    * times corpus-wide, counted over a digest-partitioned window — ONE
    * corpus shuffle carries the whole decision. The window is the only
    * spelling because it beat a count-per-digest + semi-join spelling at
    * every measured point (r12, interleaved: q133 200k docs 20.9 s vs
    * 23.3 s, 500k 47.3 s vs 58.4 s), whose second corpus pass and
    * corpus-fraction-sized build side grow with duplication.
    */
  private def markDuplicated(wins: DataFrame): DataFrame =
    wins
      .withColumn("__cnt", count(lit(1)).over(Window.partitionBy(col("__h"))))
      .filter(col("__cnt") >= 2)
      .select(col("__id"), col("pos"))

  /** The APPLY stage (Lee et al. §3: remove duplicated text, keep one
    * copy): the deduplicated corpus `(id, text_dedup, n_spans_cut,
    * n_chars_cut)`.
    *
    * Keep policy — explicit and window-level: for every duplicated
    * L-window (digest count ≥ 2 corpus-wide) the occurrence with the
    * LOWEST `(id, pos)` is the kept copy; every other occurrence is
    * cut. A document's removed characters are the interval union of its
    * cut windows, and `text_dedup` is the concatenation of what
    * survives. Two consequences worth stating: (a) the first document
    * (by id) containing a piece of boilerplate keeps it, later ones
    * lose it — deterministic and order-independent; (b) keeping is
    * per-window, so a kept occurrence can still lose characters to a
    * NEIGHBORING cut window overlapping it — the same granularity the
    * detection pass reports.
    *
    * Scale shape: identical to [[duplicateSpans]] — the one digest
    * shuffle now also carries the keeper (min (id, pos) per digest; a
    * bucket duplicated a million times costs its bucket size, never a
    * pair arm), the island merge shuffles only cut positions by doc,
    * and the final stitch is a co-partitioned join back to the corpus
    * on id.
    *
    * @note Same multi-pass eager-execution caveat as
    *       [[duplicateSpans]]: under `spark.graft.exactSubstr.passes`
    *       > 1, building this frame runs the K cut passes immediately
    *       (non-reliable localCheckpoints), which also means anything
    *       composing it — `CurationPipeline.curateToShards` stage 1 —
    *       executes that stage at build time. Default passes = 1 stays
    *       lazy.
    */
  def cutDuplicateSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minLen: Int = 50): DataFrame = {
    val L = minLen
    require(L >= 2, s"minLen must be >= 2, got $L")
    val passes = digestPasses(df) // conf read before any work
    val wins = windowDigests(df, idCol, textCol, L)
    // Keeper decision — duplicated at all (count ≥ 2) and keeper
    // (min (id, pos)) — as count + row_number over the digest window:
    // ONE corpus shuffle carries both decisions. It beat a
    // (count, min-struct)-per-digest + join-back spelling at every
    // measured point (r12, interleaved: q134 200k docs 23.5 s vs 28.9 s,
    // 500k 57.4 s vs 116.8 s). Keeper + cut are per-DIGEST decisions, so
    // they slice cleanly into digest-space passes (multiPass): every
    // occurrence of a window is in the same pass as its keeper.
    def cutStage(w: DataFrame): DataFrame = {
      val byDigest = Window.partitionBy(col("__h"))
      w
        .withColumn("__cnt", count(lit(1)).over(byDigest))
        .withColumn("__rk",
          row_number().over(byDigest.orderBy(col("__id"), col("pos"))))
        .filter(col("__cnt") >= 2 && col("__rk") > 1)
        .select(col("__id"), col("pos"))
    }
    val cut = multiPass(wins, passes)(cutStage)
    val byDoc = Window.partitionBy(col("__id")).orderBy(col("pos"))
    val spans = cut
      .withColumn("__gap",
        when(col("pos") - lag(col("pos"), 1).over(byDoc) > L, 1).otherwise(0))
      .withColumn("__grp",
        sum(col("__gap")).over(byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("__id"), col("__grp"))
      .agg(
        min(col("pos")).as("s"),
        (max(col("pos")) + L - 1).as("e"))
      .groupBy(col("__id"))
      .agg(
        sort_array(collect_list(struct(col("s"), col("e")))).as("__spans"),
        count(lit(1)).as("n_spans_cut"),
        sum(col("e") - col("s") + 1).as("n_chars_cut"))
    // stitch: fold the (disjoint, sorted) cut spans left to right,
    // emitting the text between the previous cut's end and the next
    // cut's start, then the tail after the last cut
    val stitched = expr(
      s"""aggregate(
         |  __spans,
         |  struct(CAST(0 AS INT) AS last, CAST('' AS STRING) AS out),
         |  (acc, sp) -> struct(
         |    CAST(sp.e AS INT),
         |    concat(acc.out, substring($textCol, acc.last + 1, sp.s - acc.last - 1))),
         |  acc -> concat(acc.out,
         |    substring($textCol, acc.last + 1, length($textCol) - acc.last)))""".stripMargin)
    df.select(col(idCol), col(textCol))
      .join(spans, col(idCol) === col("__id"), "left")
      .select(
        col(idCol),
        when(col("__spans").isNull, col(textCol))
          .otherwise(stitched).as("text_dedup"),
        coalesce(col("n_spans_cut"), lit(0L)).as("n_spans_cut"),
        coalesce(col("n_chars_cut"), lit(0L)).as("n_chars_cut"))
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StructField}

/** Greedy sequence packing: assign ordered documents to fixed-capacity
  * bins (the training-batch "sequence packing" step — concatenate docs
  * up to the context length, start a new pack when the next doc would
  * overflow). First-fit in arrival order, no splitting: a document larger
  * than the capacity gets a bin of its own.
  *
  * Scale design (100 TB): same shape as [[Allocation.greedy]] — one hash
  * shuffle on the group key, a partition-local sort, then a streaming
  * O(1)-state pass. Packing is sequential WITHIN a group (that is its
  * semantics — pack order must be deterministic for reproducible
  * training); parallelism comes from packing groups (language, shard,
  * source bucket) independently. For a single giant group, pre-shard by
  * `hashBucket(id)` into synthetic subgroups first — packs stay valid,
  * only pack boundaries differ.
  */
object Packing {

  /** Appends `binCol`: the 0-based pack index within `groupCol`.
    *
    * @param groupCol  independent packing domains (e.g. lang, shard)
    * @param sizeCol   numeric size (token count); null/negative ⇒ 0
    * @param orderCols deterministic total order within a group
    * @param capacity  pack capacity in the same unit as sizeCol
    */
  def greedyPack(
      df: DataFrame,
      groupCol: String,
      sizeCol: String,
      orderCols: Seq[String],
      capacity: Long,
      binCol: String = "bin"): DataFrame = {
    require(capacity > 0, "capacity must be positive")
    val si = df.schema.fieldIndex(sizeCol)
    SortedGroupFold.appendColumn(df, groupCol, orderCols, binCol, LongType) {
      () => new SortedGroupFold.Fold {
        // O(1) state: (bin index, used capacity) of the current group
        private var bin = 0L
        private var used = 0L
        private def sz(r: Row): Long =
          if (r.isNullAt(si)) 0L
          else math.max(0L, r.get(si).asInstanceOf[Number].longValue())
        override def start(r: Row): Unit = { bin = 0L; used = -1L }
        override def next(r: Row): Any = {
          val s = sz(r)
          if (used < 0L) used = s // first row of the group
          else if (used + s > capacity) { bin += 1L; used = s }
          else used += s
          bin
        }
      }
    }
  }

  /** Global token offset of every document under a total order — the
    * concat-and-split packing family (Brown et al. 2020 §2.3 / Raffel
    * et al. 2020: concatenate the ordered corpus into one token stream,
    * then cut it into fixed-length training sequences; a document's
    * placement is purely its stream offset). Appends `outCol` = the
    * exclusive prefix sum of `sizeCol` over `orderCols`.
    *
    * The naive spelling — `sum(size).over(Window.orderBy(order))` — is
    * an `Exchange SinglePartition`: one task scans and sums the entire
    * corpus. This is instead the classic two-pass distributed scan, the
    * [[Ranking.globalRowNumber]] shape with token sums in place of row
    * counts: ONE range exchange on the order key (partition i's rows
    * all order before partition i+1's), per-partition token totals read
    * back in one job and prefix-summed on the driver
    * ([[Ranking.pidOffsets]], ≤ one entry per range partition), then a
    * streaming O(1)-state `mapPartitions` pass emits `pid offset +
    * running local sum`. Every pass over the rows is parallel.
    *
    * The sorted frame feeds TWO consumers (the totals job and the
    * fold) that must observe the SAME physical partition layout. That
    * invariant is enforced by MATERIALIZATION, not plan canonicalization:
    * the range exchange runs exactly once, inside an eager
    * localCheckpoint of the sorted+pid-stamped frame, and both consumers
    * read the frozen blocks — so correctness cannot silently depend on
    * AQE/ReuseExchange collapsing two canonically-identical exchanges
    * (r11 ADVICE: `spark.sql.execution.reuseExchange=false`, or a future
    * optimizer pruning one consumer's columns, would have re-split the
    * exchanges and produced wrong offsets with no error; now either
    * simply re-reads the same blocks). A second, earlier checkpoint pins
    * the INPUT so the range partitioner's boundary-sampling job doesn't
    * re-run the caller's upstream plan. Under AQE, adjacent range
    * partitions may coalesce; the fold therefore keys its running sum on
    * the per-row `__pid` and resets at pid boundaries, so a task holding
    * several (contiguous) pids still emits exact offsets.
    *
    * Offsets are exchange-boundary-invariant: wherever the sampler cuts
    * the range partitions, prefix sums over a total order come out
    * identical — the output is a pure function of the data (spec'd by
    * re-running under different partition counts).
    *
    * @param sizeCol   token count (numeric; null/negative ⇒ 0)
    * @param orderCols deterministic TOTAL order (include a unique
    *                  tiebreaker — with ties the split of equal rows
    *                  across partitions would reorder offsets)
    */
  def tokenOffsets(
      df: DataFrame,
      sizeCol: String,
      orderCols: Seq[String],
      outCol: String = "tok_start"): DataFrame = {
    val order: Seq[Column] = orderCols.map(col)
    // the trailing localCheckpoint is the correctness pin: ONE range
    // exchange executes (inside this materialization) and every
    // consumer below reads its frozen blocks — see the scaladoc.
    // The INPUT pin is cost-only (don't re-run upstream for the range
    // sampler) and skipped when the input already replays as a narrow
    // pass over checkpoint blocks (Ranking.cheapReplay — the r16
    // q150/q153/q152 shape: token-balanced cuts over the pinned gather)
    val pinned =
      if (Ranking.cheapReplay(df)) df else df.localCheckpoint(true)
    val sorted = pinned
      .repartitionByRange(order: _*)
      .sortWithinPartitions(order: _*)
      .select(col("*"), spark_partition_id().as("__pid"))
      .localCheckpoint(true)
    val offsets = Ranking.pidOffsets(sorted, lit(0L),
      greatest(coalesce(col(sizeCol).cast("long"), lit(0L)), lit(0L)))
      .map { case (pid, (_, off)) => pid -> off }
    val pi = sorted.schema.fieldIndex("__pid")
    val si = sorted.schema.fieldIndex(sizeCol)
    val outSchema = df.schema.add(outCol, LongType, nullable = false)
    implicit val enc: Encoder[Row] = Encoders.row(outSchema)
    val width = df.schema.length
    sorted.mapPartitions { rows =>
      // O(1) state: running token offset, restarted at each pid run (AQE
      // may coalesce several contiguous pids into one task)
      var curPid = -1
      var run = 0L
      rows.map { r =>
        val pid = r.getInt(pi)
        if (pid != curPid) { curPid = pid; run = offsets(pid) }
        val s =
          if (r.isNullAt(si)) 0L
          else math.max(0L, r.get(si).asInstanceOf[Number].longValue())
        val start = run
        run += s
        // the sorted layout is [df columns…, __pid]; emit the original
        // columns + the offset
        Row.fromSeq(r.toSeq.take(width) :+ start)
      }
    }
  }

  /** Materialize the packed training sequences themselves — the final
    * gather from per-document token-id streams into the
    * `(seq_id, token_ids: array<long>)` rows a training job actually
    * reads. [[tokenOffsets]] places every document in the global
    * concat-and-split token stream; this cuts that stream at multiples
    * of `capacity` and reassembles each sequence from the document
    * fragments that cover it (a document can span sequences; a sequence
    * concatenates fragments of adjacent documents). Every sequence holds
    * exactly `capacity` tokens except the final partial one.
    *
    * Input: one row per document — `idsCol` the space-joined token-id
    * stream (the [[Bpe.encode]] output convention) and `sizeCol` its
    * token count. Zero-token rows contribute nothing to the stream and
    * are dropped up front (prefix sums over the survivors are
    * unchanged — zero-size rows add 0).
    *
    * Scale design (100 TB): no stage ever holds more than one document
    * or one sequence. The doc→fragment fan-out slices each document's id
    * array ONCE into its covered sequences (`transform` over the covered
    * range, then `posexplode`), so an exploded row carries only its
    * ≤ `capacity`-token slice — never the whole document duplicated per
    * sequence. Assembly is a [[SortedGroupFold.reduceGroups]] streaming
    * fold (hash shuffle on `seq_id`, spillable partition sort by
    * `tok_start`, one sequence's buffer live at a time) — NOT
    * `collect_list`, whose untracked per-group buffers OOM'd the 8 GB
    * bench JVM at the 200k-doc TEXTSCALE point (r12, q142). Fragment
    * rows total exactly the corpus token count: the shuffle is one
    * linear pass over the stream, the same weight class as the
    * [[tokenOffsets]] exchange that precedes it.
    *
    * @param df       per-document frame (must contain `sizeCol`, `idsCol`)
    * @param sizeCol  token count (long; ≤ 0 ⇒ row dropped)
    * @param idsCol   space-joined token-id stream, `sizeCol` entries
    * @param orderCols deterministic TOTAL order of the stream
    * @param capacity tokens per training sequence (context length)
    */
  def gatherSequences(
      df: DataFrame,
      sizeCol: String,
      idsCol: String,
      orderCols: Seq[String],
      capacity: Long,
      seqCol: String = "seq_id",
      outCol: String = "token_ids"): DataFrame = {
    require(capacity > 0, "capacity must be positive")
    val L = capacity
    val withOff = tokenOffsets(
      df.filter(col(sizeCol) > 0)
        .select((Seq(col(sizeCol), col(idsCol)) ++ orderCols.map(col)): _*),
      sizeCol, orderCols)
    // fragment each doc ONCE: array-of-slices over the covered sequence
    // range, then posexplode — global sequence s owns stream positions
    // [s*L, (s+1)*L); the doc owns [tok_start, tok_start+n); the
    // fragment is their intersection, re-based to 1-based local indices
    val fragments = withOff
      .withColumn("__ids_arr", split(col(idsCol), " "))
      .select(
        col("tok_start"),
        expr(s"tok_start DIV $L").as("__sf"),
        posexplode(expr(
          s"""transform(
             |  sequence(tok_start DIV $L, (tok_start + $sizeCol - 1) DIV $L),
             |  s -> slice(__ids_arr,
             |    cast(greatest(s * $L, tok_start) - tok_start + 1 as int),
             |    cast(least((s + 1) * $L, tok_start + $sizeCol)
             |      - greatest(s * $L, tok_start) as int)))""".stripMargin))
          .as(Seq("__p", "__frag")))
      .select(
        (col("__sf") + col("__p")).as(seqCol),
        col("tok_start"),
        col("__frag"))
    val fi = 2 // (seqCol, tok_start, __frag)
    SortedGroupFold.reduceGroups(
      fragments, seqCol, Seq("tok_start"),
      Seq(
        StructField("n_tokens", LongType, nullable = false),
        StructField(outCol, ArrayType(LongType, containsNull = false),
          nullable = false))) {
      () => new SortedGroupFold.GroupReducer {
        // one sequence's ids (≤ capacity) — the only live buffer
        private val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
        def start(r: Row): Unit = buf.clear()
        def next(r: Row): Unit =
          r.getSeq[String](fi).foreach(s => buf += java.lang.Long.parseLong(s))
        def finish(): Seq[Any] = Seq(buf.length.toLong, buf.toSeq)
      }
    }
  }
}

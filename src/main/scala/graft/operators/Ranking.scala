package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed ranking primitives — the scale-safe replacements for the
  * two places a global `row_number().over(Window.orderBy(...))` sneaks
  * into analytic queries. That spelling is an `Exchange SinglePartition`
  * of the whole frame: one task sorts everything, which caps throughput
  * at one core and one executor's memory no matter the cluster size.
  *
  * Two shapes cover every use:
  *
  *  - only the top k rows (and their ranks) are wanted → [[topK]]:
  *    `orderBy(...).limit(k)` plans as `TakeOrderedAndProject` —
  *    per-partition bounded heaps, merge of k-row candidates, no global
  *    sort — and the rank is stamped on the k survivors.
  *
  *  - every row needs its exact global rank (e.g. reciprocal-rank fusion,
  *    where downstream math consumes the full ranking) →
  *    [[globalRowNumber]]: range-repartition on the sort key so partition
  *    i holds ranks strictly before partition i+1, rank locally, and add
  *    per-partition offsets — the classic distributed ranking, every
  *    stage parallel, the only extra cost one range exchange (plus its
  *    boundary-sampling pass).
  *
  * Both require `order` to be a TOTAL order (include a unique tiebreak
  * column) — with ties the assignment of equal rows to ranks would be
  * partitioning-dependent.
  */
object Ranking {

  /** `orderBy(order).limit(k)` + ranks 1..k stamped on the survivors.
    *
    * The stamp is `monotonically_increasing_id() + 1`, NOT a window:
    * `TakeOrderedAndProjectExec` emits its k rows as ONE partition in
    * sort order, so the per-row id IS the zero-based rank, and no
    * single-partition exchange ever appears in the plan. (A window over
    * k rows would be harmless at runtime but reintroduces the
    * `Exchange SinglePartition` node the plan guards forbid.)
    * Spec-pinned against the window spelling in `RankingSpec`.
    */
  def topK(df: DataFrame, k: Int, order: Seq[Column], out: String): DataFrame =
    df.orderBy(order: _*)
      .limit(k)
      .withColumn(out, (monotonically_increasing_id() + 1L).cast("int"))

  /** True iff `df` replays as a narrow per-row pass over RDD-backed
    * blocks: only Project/Filter/alias operators over a LogicalRDD leaf
    * (i.e. a prior localCheckpoint). Such a frame does not need the
    * sampling-cost INPUT pin below — the range partitioner's boundary
    * sampling job re-reads local blocks through one codegen'd map,
    * which is cheaper than the extra materialization job + second block
    * copy an unconditional pin pays (r16: q150/q153 rank their
    * md5-keyed frame, a projection over the already-checkpointed gather
    * output). Anything wider — joins, aggregates, generates — keeps the
    * pin: re-running those for the sampler measured ~1.9× on q104.
    */
  private[operators] def cheapReplay(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    // deterministic-only: a nondeterministic projection would evaluate
    // differently in the sampler pass and the exchange pass once the pin
    // is skipped — boundary placement stays correctness-neutral for the
    // two-pass scans, but there is no reason to admit the ambiguity
    def ok(p: LogicalPlan): Boolean = p match {
      case _: org.apache.spark.sql.execution.LogicalRDD => true
      case p: Project => p.projectList.forall(_.deterministic) && ok(p.child)
      case f: Filter => f.condition.deterministic && ok(f.child)
      case s: SubqueryAlias => ok(s.child)
      case _ => false
    }
    ok(df.queryExecution.analyzed)
  }

  /** Exact global `row_number` over `order` for EVERY row, without a
    * single-partition exchange.
    *
    * Plan shape: range-repartition on the sort key (partition boundaries
    * from the sampler, so partition i's rows all order before partition
    * i+1's), local sort, then `monotonically_increasing_id()` — whose
    * value is (partition << 33) + local row index, i.e. the LOCAL rank
    * is `mid - min(mid)` of the partition. Per-partition (min, count)
    * comes back to the driver in one job ([[pidOffsets]]); the rank is
    * then a per-row literal lookup — no aggregate, no join, no shuffle
    * after the sort.
    */
  def globalRowNumber(df: DataFrame, order: Seq[Column], out: String): DataFrame = {
    // TWO eager localCheckpoints, each load-bearing:
    //  (a) cost — the INPUT pin: the range exchange's boundary SAMPLING
    //      is its own job over the child; unpinned, it would re-run the
    //      caller's whole upstream (scans, joins, aggs) once more before
    //      the shuffle even starts (measured ~1.9× on q104);
    //  (b) correctness — the SORTED-frame pin: the frame below is
    //      consumed twice (the per-pid stats job and the ranked output),
    //      and the two consumers MUST see the same partition layout.
    //      RangePartitioner's sample seed mixes in the shuffle RDD's id,
    //      so two INDEPENDENT exchanges would draw different boundaries
    //      — corrupted ranks, no error. Materializing the sorted frame
    //      makes that structurally impossible: the exchange runs exactly
    //      ONCE (inside the checkpoint job, __pid/__mid frozen in the
    //      blocks) and both consumers read the blocks — correctness no
    //      longer depends on AQE/ReuseExchange collapsing two
    //      canonically-identical plans (r11 ADVICE on the Packing
    //      sibling: reuseExchange=false, or an optimizer pruning one
    //      consumer's columns, would have silently re-split them).
    // Callers rank narrow (key, score) frames, so the pinned bytes are
    // rows × a few columns — corpus-fraction row count, but thin.
    //
    // repartitionByRange deliberately does NOT pin the partition count:
    // an explicit count is exempt from AQE coalescing, which would force
    // full-width stages over kilobyte frames at test scale (measured
    // ~0.3 s of pure task overhead per stage); without it AQE coalesces
    // ADJACENT range partitions when bytes are small — contiguity keeps
    // the pid-order-equals-rank-order invariant — and leaves the full
    // width when the frame is actually large.
    val pinned = if (cheapReplay(df)) df else df.localCheckpoint(true)
    val sorted = pinned
      .repartitionByRange(order: _*)
      .sortWithinPartitions(order: _*)
      .select(col("*"),
        spark_partition_id().as("__pid"),
        monotonically_increasing_id().as("__mid"))
      .localCheckpoint(true)
    // rank = offset + (mid - min mid) + 1, folded per pid into one base
    val base = pidOffsets(sorted, col("__mid"), lit(1L))
      .map { case (pid, (mn, off)) => pid -> (off - mn + 1L) }
    // rank is emitted as LONG: this helper exists for corpus-fraction
    // frames, where an int rank would overflow negative past 2^31 rows
    // with no error. Callers that want an int column cast down AFTER
    // whatever bounds their frame (e.g. q104 subtracts a per-list base).
    sorted
      .withColumn(out, element_at(typedLit(base), col("__pid")) + col("__mid"))
      .drop("__pid", "__mid")
  }

  /** Placement of each range partition of a sorted, `__pid`-stamped
    * checkpoint, read back in ONE job — a narrow pass over the
    * checkpoint blocks, no shuffle. For every pid that holds rows:
    * (minimum of `first`, sum of `weight` over all LOWER pids). Pid
    * order is sort order: range partition i's rows all order before
    * partition i+1's, and AQE only coalesces adjacent range partitions
    * into one pid. The exclusive prefix sum runs on the driver over at
    * most one entry per range partition.
    */
  private[operators] def pidOffsets(
      sorted: DataFrame, first: Column, weight: Column): Map[Int, (Long, Long)] = {
    import sorted.sparkSession.implicits._
    val perPid = sorted
      .select(col("__pid"), first.cast("long"), weight.cast("long"))
      .as[(Int, Long, Long)]
      .mapPartitions { rows =>
        val acc = scala.collection.mutable.Map.empty[Int, (Long, Long)]
        rows.foreach { case (pid, f, w) =>
          val (mn, sum) = acc.getOrElse(pid, (f, 0L))
          acc(pid) = (math.min(mn, f), sum + w)
        }
        acc.iterator.map { case (pid, (mn, sum)) => (pid, mn, sum) }
      }
      .collect()
      .groupMapReduce(_._1)(t => (t._2, t._3)) {
        case ((m1, s1), (m2, s2)) => (math.min(m1, m2), s1 + s2)
      }
    var before = 0L
    perPid.toSeq.sortBy(_._1).map { case (pid, (mn, sum)) =>
      val placed = pid -> ((mn, before))
      before += sum
      placed
    }.toMap
  }
}

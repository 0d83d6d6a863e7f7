package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an undirected edge list — the step that
  * turns near-duplicate PAIRS into duplicate CLUSTERS (pick one survivor
  * per component). Implemented as iterative min-label propagation:
  * every vertex starts labelled with itself; each round it adopts the
  * minimum label in its closed neighborhood; fixpoint when no label
  * changes. Rounds needed ≤ the graph diameter — dedup graphs are
  * near-cliques, so 2–4 rounds in practice.
  *
  * Scale notes: each round is one self-contained shuffle-agg
  * (edges ⋈ labels → groupBy min), the classic "hash-to-min" building
  * block (Rastogi et al. 2013). Labels are cached per round and the
  * previous round's cache is dropped; lineage is cut by the cache so the
  * plan does not grow with iterations. The driver only ever sees a
  * one-row convergence count, never the data.
  *
  * Why not large-star/small-star or frontier-restricted propagation
  * (measured, GRAPHSCALE.json): at bench scale (~10⁵-edge bipartite
  * order→part graph, 8 rounds to fixpoint) wall-clock is bound by
  * per-round FIXED job cost — the |V|-row label shuffle, the eager
  * checkpoint, the scalar probe — not by propagation volume. A
  * frontier variant (join only edges whose dst label changed last
  * round) measured 13.3 s vs 14.2 s on that graph: the frontier shrinks
  * the probe side but the |V|-row merge join + checkpoint it still
  * needs per round dominates, so the 7 % gain does not buy its extra
  * join and the simpler spelling is kept. Starting pointer jumping at
  * round 2 instead of 4 changes nothing (the neighbor step, not the
  * jump, limits propagation on chain-through-shared-parts topology).
  * At production scale the fixed costs amortize and growth is governed
  * by edges × rounds: 16× edges ⇒ 4.5× time on the replicated-graph
  * bench (sublinear — ≤ O(E) — because rounds stay constant when
  * replication preserves diameter). Large-star/small-star has the same
  * O(log d) round bound with a strictly heavier per-round edge rewrite,
  * so it loses on both regimes here.
  */
object ConnectedComponents {

  /** @param edges two-column DataFrame (src, dst) — undirected, ids of one
    *              orderable type
    * @return (id, component) — component = min vertex id reachable
    * @throws IllegalStateException when the fixpoint is not reached within
    *         `maxIter` rounds — partial labels are WRONG (split components)
    *         and must never be silently returned; raise `maxIter` instead.
    *         From round 4 on, a pointer-jumping branch (adopt the label of
    *         your label) doubles the propagated distance per round, so
    *         rounds needed ≈ 2 + log₂(diameter) — a 100k-link chain
    *         converges in ~20 rounds, not 100k.
    */
  def byMinLabel(edges: DataFrame, maxIter: Int = 25): DataFrame = {
    val e = edges.toDF("src", "dst")
    val spark = e.sparkSession
    // spark.graft.cc.roundMode: "auto" (default — broadcast rounds when
    // the measured labels bytes fit the broadcast threshold) or
    // "shuffle" (force the pre-r16 lazy-union rounds; the A/B arm and
    // the escape hatch for a host where the 2|E|-row cache is unwelcome).
    // Read before any work, so a typo fails at once instead of meaning
    // "auto".
    val mode = graft.GraftConf.choice(
      spark, "spark.graft.cc.roundMode", "auto", Seq("auto", "shuffle"))
    // symmetric closure once. localCheckpoint (eager) MATERIALIZES and
    // TRUNCATES lineage — essential for any iterative dataflow: with
    // plain cache() every round's plan still embeds all previous rounds'
    // plans, and Catalyst analysis/codegen blows the driver heap after a
    // handful of iterations (measured: OOM by round ~4 on a 1k-vertex
    // graph).
    // no distinct: min-label propagation is idempotent to duplicate
    // edges (they only repeat a min), and pair generators emit distinct
    // pairs already — a dedup shuffle here would be pure overhead. A
    // caller with a heavily duplicated edge list should pre-distinct.
    // Checkpoint the DIRECTED edges only, and mirror LAZILY: union's two
    // branches are separate plans, so symmetrizing before a checkpoint
    // would execute the (often expensive — a similarity join) edge
    // derivation twice in one job, while checkpointing the union too
    // would store the edge data twice for the application lifetime.
    // A lazy union over the one materialized checkpoint costs each round
    // two cheap reads of local blocks and keeps lineage depth constant.
    val ck = e.localCheckpoint(true)
    var labels = ck.union(ck.select(col("dst"), col("src")))
      .select(col("src").as("id")).distinct()
      .withColumn("component", col("id"))
      .localCheckpoint(true)
    // Closed neighborhood as self-loops IN the edge relation: the round
    // below used to union a separate `labels` branch into the groupBy
    // to keep each vertex's own label in the min — a |V|-row exchange
    // per round. A (id, id) self-loop per vertex delivers the own label
    // through the SAME join, so the round is one union branch (and one
    // AQE stage job) slimmer; the loop rows are lazy reads of the
    // already-checkpointed label blocks.
    val symBase = ck.union(ck.select(col("dst"), col("src")))
      .union(labels.select(col("id").as("src"), col("id").as("dst")))
    // Regime decision from MEASURED bytes, not estimates: both ck and
    // labels are materialized localCheckpoints, so their true in-memory
    // sizes are on the driver's storage listing for free (no extra job).
    val conf = spark.sessionState.conf
    val symPartitions = broadcastPartitions(
      mode, storedBytes(ck), storedBytes(labels), conf.autoBroadcastJoinThreshold,
      conf.getConf(org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES),
      conf.numShufflePartitions)
    val broadcastRounds = symPartitions.isDefined
    // Broadcast regime (labels measured under the broadcast threshold —
    // every oracle/bench scale, and any production graph whose label
    // table fits an executor): pre-partition the CONSTANT symmetric
    // relation by src ONCE and persist it. Each round then plans as
    // [InMemoryTableScan ⋈ BroadcastHashJoin(labels) → partial+final
    // HashAggregate] with ZERO data exchanges — the cache's
    // hashpartitioning(src) alias-propagates through the join's stream
    // side into the groupBy(id), so the round's only shuffle is the
    // probe's one-row aggregate. persist(), not localCheckpoint: a
    // LogicalRDD forgets outputPartitioning (measured: the checkpointed
    // round kept its groupBy exchange), while InMemoryRelation preserves
    // the cached plan's layout. GraftSession turns
    // canChangeCachedPlanOutputPartitioning on, so AQE may coalesce a
    // persisted plan's final shuffle; the layout still holds because an
    // explicit repartition(nSym, src) is REPARTITION_BY_NUM, which AQE
    // never coalesces (measured: q50, q82, q94 at sf0.1 on 4 cores,
    // three JVMs per arm, conf off vs on: 615 jobs, 615 stages and 894
    // tasks in every run, totals 10.9-12.5 s vs 11.6-12.6 s). Cost: the
    // union is stored once (2|E|+|V| rows) instead of read lazily off the
    // ck blocks — the storage-for-shuffles trade only taken when it pays
    // every round.
    // Partition count is scale-adaptive (guide §2): derived from the
    // measured checkpoint bytes against the session's advisory partition
    // size, so a small graph runs 1-task rounds (what AQE coalescing
    // produced here anyway) and a big one scales out; never above
    // numShufflePartitions, the width the shuffle regime would use.
    // Shuffle regime (labels over the threshold, a size not measured, or
    // broadcasting disabled): keep the lazy union — rounds shuffle as
    // before, and no 2|E|-row cache is paid for nothing.
    val sym = symPartitions match {
      case None => symBase
      case Some(nSym) => symBase.repartition(nSym, col("src")).persist()
    }
    // Convergence probe: labels are per-vertex non-increasing (each
    // round takes the min over the closed neighborhood, own label
    // included), so for NUMERIC ids Σ component strictly decreases
    // until fixpoint — equal sums ⟺ no label changed. One scalar agg
    // over the just-checkpointed frame replaces the next⋈prev
    // change-count join (one fewer shuffle per round). Non-numeric ids
    // fall back to the join probe.
    // integral only: a fractional id would round in the decimal cast
    // (IntegralType itself is private[sql] — enumerate the public types)
    val numericIds = {
      import org.apache.spark.sql.types._
      labels.schema("component").dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
    }
    var prevSum: Option[java.math.BigDecimal] = None
    var converged = false
    var it = 0
    // The returned labels frame is a fully materialized checkpoint (the
    // last probe ran over it), so the cached union is dead weight once
    // the loop ends — release it, on every path, rather than hold 2|E|
    // rows for the app lifetime.
    try {
      while (!converged && it < maxIter) {
        // candidate label per vertex: min over its own label and every
        // neighbor's label
        // The broadcast hint is backed by the MEASURED labels bytes above,
        // so it can never bake an unbounded broadcast into the plan; in
        // the shuffle regime the planner keeps its own choice.
        val labelsSide =
          if (broadcastRounds) broadcast(labels) else labels
        val viaNeighbors = sym
          .join(labelsSide.withColumnRenamed("id", "dst"), Seq("dst"))
          .select(col("src").as("id"), col("component"))
        // Pointer jumping (label-of-label) from round 4 on: near-clique
        // dedup graphs reach fixpoint in ≤ 2 rounds + 1 probe round, so
        // they never pay the extra join; a long-diameter graph doubles its
        // propagated distance every round from here (O(log d) total rounds
        // instead of O(d)).
        val viaPointer =
          if (it < 3) None
          else Some(
            labels.alias("a")
              .join(labelsSide.alias("b"), col("a.component") === col("b.id"))
              .select(col("a.id"), col("b.component").as("component")))
        // LAZY checkpoint on the numeric path: the convergence probe right
        // below is a full-scan aggregate over this frame, so it is the
        // action that materializes the checkpoint blocks — one job per
        // round instead of two (eager-checkpoint job + probe job), and the
        // probe no longer pays a second read pass over the stored blocks.
        // Lineage is truncated at plan-build time either way (the frame is
        // LogicalRDD-backed from construction), which is what the
        // "plan must not grow with iterations" note above actually needs.
        // The non-numeric fallback keeps the eager checkpoint: its join
        // probe is limit(1)-short-circuited and may scan only some
        // partitions, which would leave the checkpoint partially
        // materialized for the next round's three consumers.
        val next = (viaNeighbors +: viaPointer.toSeq)
          .reduce(_ union _)
          .groupBy("id")
          .agg(min("component").as("component"))
          .localCheckpoint(eager = !numericIds)
        if (numericIds) {
          val s = next
            .agg(sum(col("component").cast("decimal(38,0)")))
            .first().getDecimal(0)
          converged = prevSum.contains(s)
          prevSum = Some(s)
        } else {
          converged = next.alias("n")
            .join(labels.alias("p"), Seq("id"))
            .filter(col("n.component") =!= col("p.component"))
            .limit(1).count() == 0
        }
        labels = next
        it += 1
      }
    } finally {
      if (broadcastRounds) sym.unpersist(false)
    }
    // Non-convergence means labels are still mid-propagation: components
    // are SPLIT and downstream survivor selection would silently keep
    // duplicates. Fail loudly rather than return wrong labels.
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge in $maxIter rounds; " +
          "the graph diameter exceeds the iteration budget — raise maxIter")
    labels
  }

  /** Measured in-memory bytes of a materialized localCheckpoint — read
    * off the driver's block-manager listing (no job). None when the
    * frame is not a checkpoint or its blocks are not (yet) reported.
    */
  /** The round regime, from the measured checkpoint sizes: the symmetric
    * relation's partition count when rounds broadcast the labels, `None`
    * for the shuffle regime. Broadcast needs mode `auto`, a positive
    * threshold, the labels measured under it, and the edges measured too:
    * the partition count is sized from both, and an unmeasured size must
    * not read as zero bytes.
    */
  private[operators] def broadcastPartitions(
      mode: String,
      ckBytes: Option[Long],
      labelsBytes: Option[Long],
      threshold: Long,
      advisory: Long,
      maxPartitions: Int): Option[Int] =
    for {
      ck <- ckBytes
      labels <- labelsBytes
      if mode != "shuffle" && threshold > 0 && labels > 0 && labels <= threshold
    } yield {
      val symBytes = 2L * ck + labels
      math.max(1L, math.min(
        maxPartitions.toLong, (symBytes + advisory - 1) / math.max(1L, advisory))).toInt
    }

  private def storedBytes(df: DataFrame): Option[Long] =
    df.queryExecution.analyzed
      .collectFirst {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
      }
      .flatMap { id =>
        df.sparkSession.sparkContext.getRDDStorageInfo
          .find(_.id == id).map(i => i.memSize + i.diskSize)
      }
      .filter(_ > 0)
}

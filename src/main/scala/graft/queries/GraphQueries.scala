package graft.queries

import graft.Tables
import graft.functions.TriangleCredits
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics beyond PageRank (q76) and connected components (q50):
  * triangle counting over the part co-purchase graph (parts that appear
  * in the same order share an edge).
  *
  * Scale design — the classic degree-ordered orientation (Schank &
  * Wagner 2005): every undirected edge is directed from its
  * LOWER-(degree, id) endpoint to the higher one, so any node's oriented
  * out-degree is bounded by its count of HIGHER-degree neighbors
  * (≤ √(2·|E|)) and total triangle work is O(|E|^1.5) instead of Σ deg².
  * On top of that orientation this uses the EDGE-ITERATOR formulation,
  * not wedge materialization: per oriented edge (u,v) the triangles
  * through it are |N⁺(u) ∩ N⁺(v)|, computed by a codegen'd merge walk
  * over the two SORTED out-neighbor arrays (`TriangleCredits`). The
  * wedge-join alternative materializes O(|E|^1.5) ROWS (41M at sf0.1)
  * through a shuffle or hash probe — measured 4–10× slower purely on
  * per-row overhead; the merge walk keeps the same work inside tight
  * primitive loops, touching only |E| rows. Every triangle u→v, u→w,
  * v→w is found exactly once, at its base edge (u,v), crediting u and v
  * once per closing w and each w once.
  *
  * Data layout: the whole pipeline is adjacency-ARRAY shaped — two
  * shuffles build the undirected adjacency (per-order baskets, then
  * per-node neighbor sets), one more re-groups the oriented arrays; the
  * final pass streams edges out of their owner's adjacency row and
  * attaches the dst adjacency by a SHUFFLE hash join (explode → shuffle
  * attach → merge walk → explode credits → hash agg). Nothing
  * broadcasts at data scale: degrees and adjacency are |V|- and
  * |E|-sized, both unbounded, so both joins are hash-partitioned —
  * per-executor memory never holds more than its partition of the
  * build side. Nothing row-expands beyond Σ basket² ≈ 2|E|; the
  * shuffled bytes of the final attach are bounded by the same
  * O(|E|^1.5) term as the merge-walk compute (each edge row carries
  * one sorted out-neighbor array of ≤ √(2|E|) entries). A pathological
  * hub node would cap via degree-based edge sampling (Pagh &
  * Tsourakakis 2012) before the adjacency build; basket sizes here are
  * order line counts, naturally small. Scale growth is measured, not
  * asserted: GRAPHSCALE.json fits time vs |E| for q110/q76/q50 at
  * 1×/scaled replicas.
  */
object GraphQueries {
  private type Q = (SparkSession, String) => DataFrame

  /** The width of every explicit edge-scale repartition below: one
    * partition per core (`spark.sql.shuffle.partitions`, see
    * `GraftSession`). Not `conf.numShufflePartitions`, which under AQE
    * returns `coalescePartitions.initialPartitionNum` (8× cores): an
    * explicit count is exempt from coalescing, so every triangle stage
    * would run 8× the tasks the work needs.
    */
  private[graft] def corePartitions(s: SparkSession): Int =
    s.sessionState.conf.defaultNumShufflePartitions

  private def byDegThenId(du: Column, u: Column, dv: Column, v: Column): Column =
    du < dv || (du === dv && u < v)

  /** Per-part triangle participation counts in the co-purchase graph. */
  private def q110(s: SparkSession, d: String): DataFrame = {
    val nPart = corePartitions(s)
    // per-order baskets → all directed co-purchase pairs (Σ basket², the
    // natural basket size squared) → per-node sorted neighbor sets.
    // collect_set dedupes edge multiplicity across orders, so no
    // edge-level distinct shuffle is ever needed. The explicit
    // repartitions ahead of each adjacency aggregation are deliberate:
    // the shuffled BYTES are node-count-small, so AQE would coalesce to
    // 1-4 tasks — but the WORK these stages emit (pair expansion, array
    // builds, the merge-walk pass) is edge-scale. Partition for the work
    // you emit, not the bytes you read; an explicit repartition is
    // exempt from AQE coalescing.
    val pairs = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .repartition(nPart, col("o"))
      .groupBy(col("o")).agg(collect_set(col("p")).as("ps"))
      .select(explode(col("ps")).as("u"), col("ps"))
      .select(col("u"), explode(col("ps")).as("v"))
      .filter(col("u") =!= col("v"))
    trianglePerPartCredits(pairs, nPart)
  }

  /** The q110 kernel from an arbitrary directed-both-ways pair frame
    * `(u, v)` (duplicates fine — `collect_set` dedupes): degree-ordered
    * orientation + edge-iterator merge walk → per-part triangle credits
    * (Σ credits = 3 × triangles). Factored so the sampled estimator
    * (q129) and the scale bench run the IDENTICAL kernel the exact
    * query runs.
    */
  private[graft] def trianglePerPartCredits(pairs: DataFrame, nPart: Int): DataFrame = {
    val und = pairs
      .repartition(nPart, col("u"))
      .groupBy(col("u")).agg(sort_array(collect_set(col("v"))).as("nbrs"))
    // orientation: keep only higher-(degree, id) neighbors. Degrees are
    // |V| × 2 longs and arrive per NEIGHBOR via the exploded join below
    // (the owner's degree is just size(nbrs)). No forced strategy and no
    // explicit broadcast(): |V| grows with the data, so the PLAN must
    // not bake in a node-scale broadcast — but a degree table that
    // happens to fit executor memory is exactly what AQE's runtime
    // shuffle→broadcast conversion is for, so the decision stays with
    // the runtime statistics at every scale. The shuffled edge rows are
    // three longs each either way.
    val degB = und.select(col("u").as("v"), size(col("nbrs")).as("dv"))
    val adj = und
      .select(col("u"), size(col("nbrs")).as("du"), explode(col("nbrs")).as("v"))
      .join(degB, "v")
      .filter(byDegThenId(col("du"), col("u"), col("dv"), col("v")))
      .repartition(nPart, col("u"))
      .groupBy(col("u")).agg(sort_array(collect_list(col("v"))).as("nbrs"))
    val adjD = adj.select(col("u").as("dst"), col("nbrs").as("nd"))
    // No checkpoints: everything runs as ONE action, so the und/adj
    // subplans appearing under the degree broadcast and the edge stream
    // share their shuffle exchanges via ReuseExchange instead of paying
    // a materialization job each (the per-job overhead dominated the
    // checkpointed variant). The final pass: stream every oriented edge
    // out of its owner's adjacency row (ns rides along — generated
    // in-place, never shuffled), SHUFFLE-join the dst adjacency on dst
    // — NOT a broadcast: the oriented adjacency is O(|E|) entries, and
    // an edge-scale broadcast is a multi-GB per-executor copy at
    // cluster scale. The shuffled bytes are bounded by the same
    // O(|E|^1.5) term as the merge-walk compute (each edge row carries
    // ns ≤ √(2|E|) entries), so the join never dominates the
    // algorithm's own bound; the dst side reuses adj's existing hash
    // layout, and the hash-join hint keeps the edge stream from being
    // sort-merged.
    adj.select(col("u").as("src"), col("nbrs").as("ns"), explode(col("nbrs")).as("dst"))
      .join(adjD.hint("shuffle_hash"), "dst")
      .select(explode(TriangleCredits.toCol(
        col("ns"), col("nd"), col("src"), col("dst"))).as("m"))
      .groupBy(col("m.part_id").as("part_id"))
      .agg(sum(col("m.c")).as("n_triangles"))
  }

  /** Canonical co-purchase edge set `(u < v)`, the frame both triangle
    * queries' oracles define their graphs over.
    */
  private[graft] def coPurchaseEdges(s: SparkSession, d: String): DataFrame =
    coPurchaseEdgesOf(Tables.lineitem(s, d), corePartitions(s))

  private[graft] def coPurchaseEdgesOf(lineitem: DataFrame, nPart: Int): DataFrame =
    lineitem
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .repartition(nPart, col("o"))
      .groupBy(col("o")).agg(collect_set(col("p")).as("ps"))
      .select(explode(col("ps")).as("u"), col("ps"))
      .select(col("u"), explode(col("ps")).as("v"))
      .filter(col("u") < col("v"))
      .distinct()

  /** Deterministic Doulion keep-rule (Tsourakakis et al. 2009): an edge
    * survives iff its md5 bucket (the q44 cross-engine hash recipe over
    * "u:v") lands under `keepOf1000` — a pure per-row predicate, no RNG
    * state, replayed bit-for-bit by the DuckDB oracle.
    */
  private[graft] def edgeKeep(keepOf1000: Int): Column =
    graft.operators.Splits.hashBucket(
      concat_ws(":", col("u"), col("v")), 1000) < keepOf1000

  private[graft] def bothDirections(edges: DataFrame): DataFrame =
    edges.select(col("u"), col("v"))
      .unionAll(edges.select(col("v").as("u"), col("u").as("v")))

  /** Approximate GLOBAL triangle count by deterministic edge
    * sparsification — q110's scale sibling, with the error envelope IN
    * the result (the q70 pattern: exact yardstick + estimate + bound
    * verdict in one row, all three oracle-replayed).
    *
    * Estimator: keep each edge iff its hash bucket < 300 (p = 0.3 — no
    * RNG, so the sample, the estimate, and the bound check replay
    * exactly in SQL), run the IDENTICAL q110 kernel on the sampled
    * graph, scale by 1/p³ (a triangle survives iff all 3 edges do).
    * Measured error: 4.8 % at sf0.001, 0.3 % at sf0.01 — the 15 %
    * envelope asserted in-plan holds with huge margin, and Doulion's
    * concentration only tightens as the graph grows.
    *
    * Scale shape: kernel work drops from O(E^1.5) to O((pE)^1.5); at a
    * FIXED relative error p may shrink as E^(-1/3) (variance/T² stays
    * constant), making sampled work O(E) — linear in the corpus where
    * exact counting is superlinear. GRAPHSCALE.json records exactly
    * that schedule (`tri_sampled_kernel`, p = 0.3·k^(-1/3)). The exact
    * branch here is the in-query yardstick, priced like q70's exact
    * countDistinct: it keeps the envelope CHECKED, not assumed, at
    * oracle scales; a 100 TB run drops it and keeps the estimate.
    */
  private def q129(s: SparkSession, d: String): DataFrame = {
    // The exact O(E^1.5) yardstick is config-gated (r8 verdict #4): ON
    // by default so the oracle keeps the envelope CHECKED at sf0.01/0.1;
    // OFF in Bench/production so the headline time prices the sampled
    // path a 100 TB run would actually execute. When off, n_exact and
    // within_bound are NULL — same schema, estimate untouched. Read
    // before any work, so a misspelt value fails before a job starts.
    val wantExact =
      graft.GraftConf.bool(s, "spark.graft.triangle.exactYardstick", default = true)
    val nPart = corePartitions(s)
    val p = 0.027 // p³ for p = 0.3
    val edges = coPurchaseEdges(s, d)
    def count3T(e: DataFrame): DataFrame =
      trianglePerPartCredits(bothDirections(e), nPart)
        .agg(sum(col("n_triangles")).as("c3"))
    val est = count3T(edges.filter(edgeKeep(300)))
      .select(((col("c3") / 3) / p).as("est_raw"))
    val withExact =
      if (wantExact)
        count3T(edges)
          .select((col("c3") / 3).cast("long").as("n_exact"))
          .crossJoin(est)
      else est.select(lit(null).cast("long").as("n_exact"), col("est_raw"))
    withExact.select(
      col("n_exact"),
      (floor(col("est_raw") * 100 + lit(0.50001)) / 100).as("n_est"),
      (abs(col("est_raw") - col("n_exact")) / col("n_exact") <= 0.15)
        .as("within_bound"))
  }

  val defs: Map[String, Q] = Map(
    "q110_triangle_count" -> q110,
    "q129_triangle_approx" -> q129)

  val oracles: Map[String, String] = Map(
    // the full estimator replays: same edge set, same md5 keep-rule,
    // same 1/p³ scale-up, same rounding, same 15 % bound verdict
    "q129_triangle_approx" ->
      """WITH co AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS (
        |  SELECT DISTINCT a.p AS u, b.p AS v
        |  FROM co a JOIN co b ON a.o = b.o AND a.p < b.p),
        |samp AS (
        |  SELECT u, v FROM e
        |  WHERE CAST(CONCAT('0x', substring(md5(u || ':' || v), 1, 8)) AS BIGINT)
        |        % 1000 < 300),
        |t AS (
        |  SELECT count(*) AS c FROM e e1
        |  JOIN e e2 ON e2.u = e1.v
        |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |ts AS (
        |  SELECT count(*) AS c FROM samp e1
        |  JOIN samp e2 ON e2.u = e1.v
        |  JOIN samp e3 ON e3.u = e1.u AND e3.v = e2.v)
        |SELECT CAST(t.c AS BIGINT) AS n_exact,
        |  floor(ts.c / 0.027 * 100 + 0.50001) / 100 AS n_est,
        |  abs(ts.c / 0.027 - t.c) / t.c <= 0.15 AS within_bound
        |FROM t, ts""".stripMargin,
    "q110_triangle_count" ->
      """WITH co AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS (
        |  SELECT DISTINCT a.p AS u, b.p AS v
        |  FROM co a JOIN co b ON a.o = b.o AND a.p < b.p),
        |t AS (
        |  SELECT e1.u AS n1, e1.v AS n2, e2.v AS n3
        |  FROM e e1
        |  JOIN e e2 ON e2.u = e1.v
        |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |members AS (
        |  SELECT n1 AS part_id FROM t
        |  UNION ALL SELECT n2 FROM t
        |  UNION ALL SELECT n3 FROM t)
        |SELECT part_id, count(*) AS n_triangles
        |FROM members GROUP BY part_id""".stripMargin)
}

package graft.queries

import graft.Tables
import graft.operators.{ConnectedComponents, Spread}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-3 additions, part two: the remaining operators a large-scale
  * training-data / analytics engine needs beyond q01–q81 — SemDeDup-style
  * semantic deduplication over embeddings (exact variant, so the whole
  * pipeline stays oracle-checkable), RANGE-interval rolling time-series
  * features, fused unicode text normalization (NFC + casefold + whitespace
  * collapse as ONE native codegen'd expression), interval sweep-line
  * concurrency, equi-width histograms, and deterministic per-group
  * argmax/argmin (max_by/min_by). All six are DuckDB-oracle-checked,
  * including the connected-components closure (recursive CTE).
  */
object ScaleQueries {
  private type Q = (SparkSession, String) => DataFrame

  private def r2(c: Column): Column = floor(c * 100 + lit(0.50001)) / 100
  private def r6(c: Column): Column = floor(c * 1000000 + lit(0.50001)) / 1000000

  /** Exact integer composite (acctbal·100)·10¹⁰ + custkey — strictly
    * monotonic in (acctbal, custkey), so per-group winners and orderings
    * keyed on it are deterministic on any engine (custkey < 10¹⁰ at every
    * scale factor this repo targets; widen the multiplier before custkey
    * can cross it). Shared by q87 (argmax) and q90 (ordered LISTAGG).
    */
  private def acctbalKey: Column =
    round(col("c_acctbal") * 100).cast("long") *
      lit(10000000000L) + col("c_custkey")

  /** q89's sketch eps — ONE constant feeds both the count_min_sketch
    * call and the error-envelope bound, so they cannot drift apart.
    */
  private val CmsEps = 0.0001

  /** SemDeDup (Abbas et al. 2023) made exact: embedding pairs with
    * cosine ≥ 0.4 → connected components → keep ONE survivor (min
    * vec_id) per semantic cluster. The production path would block
    * pairs by IVF cell (q32's quantizer) before the pairwise pass; the
    * exact all-pairs variant here is the recall yardstick the blocked
    * one is measured against, and is fully oracle-checkable (brute
    * force + recursive-CTE closure in DuckDB).
    */
  private def q82(s: SparkSession, d: String): DataFrame = {
    // the broadcast self-join's parallelism is the STREAMED side's
    // partition count — a single-row-group corpus file caps the whole
    // N² cosine pass at 1-2 cores (measured 39 s at sf1, ~4 s spread)
    val e = graft.operators.Spread.ensure(Tables.embeddings(s, d).select(
      col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v")))
    val pairs = e.alias("a")
      .join(e.alias("b"), col("a.vec_id") < col("b.vec_id"))
      .filter(expr("cosine_sim(a.v, b.v)") >= 0.4)
      .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"))
    val dropped = ConnectedComponents.byMinLabel(pairs)
      .filter(col("id") =!= col("component"))
      .select(col("id").as("vec_id"))
    Tables.embeddings(s, d).select("vec_id", "label")
      .join(dropped, Seq("vec_id"), "left_anti")
  }

  /** RANGE-interval rolling features: per-priority daily revenue with a
    * 7-DAY moving average and count — RANGE BETWEEN 6 PRECEDING over the
    * day ordinal, so calendar gaps shrink the frame (a missing day is
    * NOT a zero row; ROWS BETWEEN would silently widen the window past
    * 7 calendar days). One shuffle: groupBy and window share the
    * priority key.
    */
  private def q83(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.orders(s, d)
      .groupBy(
        col("o_orderpriority").as("prio"),
        to_date(col("o_orderdate")).as("day"))
      .agg(sum(col("o_totalprice")).as("rev"), count(lit(1)).as("n"))
      .withColumn("dayno", datediff(col("day"), lit("1970-01-01")))
    val w = Window.partitionBy(col("prio")).orderBy(col("dayno"))
      .rangeBetween(-6, Window.currentRow)
    daily.select(
      col("prio"), col("day"),
      r2(col("rev")).as("rev"),
      r2(avg(col("rev")).over(w)).as("ma7"),
      sum(col("n")).over(w).as("n7"))
  }

  /** Fused unicode normalization (native expression, q84): the corpus is
    * ASCII, so a deterministic augmentation plants decomposed accents
    * (e+U+0301, I+U+0308), uppercase, and a double space on every 4th
    * document — the same expression the oracle applies — and the
    * normalized text is pinned by md5. NFC must run BEFORE lowercase
    * (I+U+0308 → Ï → ï); both engines pin that order.
    */
  private def q84(s: SparkSession, d: String): DataFrame = {
    val aug = when(
      col("doc_id") % 4 === 0,
      concat(col("text"), lit(" Cafe\u0301 NAI\u0308VE  End")))
      .otherwise(col("text"))
    Spread.ensure(Tables.documents(s, d).select("doc_id", "text"))
      .select(col("doc_id"), aug.as("__t"))
      .select(
        col("doc_id"),
        length(col("__t")).cast("long").as("len_raw"),
        length(expr("normalize_text(__t)")).cast("long").as("len_norm"),
        md5(expr("normalize_text(__t)")).as("norm_md5"))
  }

  /** Interval sweep-line: max concurrent events per type, each event
    * occupying [ts, ts + value seconds]. Classic +1/−1 endpoint encoding
    * with a running sum; the default RANGE frame makes tied endpoints
    * deterministic (all peers aggregate together), and ordering ends
    * (−1) before starts (+1) at equal timestamps means touching
    * intervals never count as concurrent. One shuffle on event_type.
    */
  private def q85(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(
      col("event_type"),
      col("ts"),
      expr("timestampadd(MICROSECOND, CAST(round(value * 1000000) AS BIGINT), ts)")
        .as("te"))
    val pts = ev.select(col("event_type"), col("ts").as("t"), lit(1L).as("delta"))
      .unionAll(ev.select(col("event_type"), col("te").as("t"), lit(-1L).as("delta")))
    val w = Window.partitionBy(col("event_type")).orderBy(col("t"), col("delta"))
    pts.select(col("event_type"), sum(col("delta")).over(w).as("conc"))
      .groupBy(col("event_type"))
      .agg(max(col("conc")).as("max_concurrent"))
  }

  /** Equi-width histogram of line-item price: one map-side-combinable
    * pass (bin = floor(x / 5000)), per-bin count/min/max/mean — the
    * profiling primitive that stays one scan at any scale (contrast the
    * exact-quantile path q36, which must sort).
    */
  private def q86(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(floor(col("l_extendedprice") / 5000).cast("long").as("bin"))
      .agg(
        count(lit(1)).as("n"),
        r2(min(col("l_extendedprice"))).as("lo"),
        r2(max(col("l_extendedprice"))).as("hi"),
        r2(avg(col("l_extendedprice"))).as("mean"))

  /** Deterministic per-group argmax/argmin via max_by/min_by. Ties on
    * acctbal exist in the data (8 at sf0.1), so the order key is the
    * exact integer composite round(bal·100)·10^10 + custkey — strictly
    * monotonic in (bal, custkey), hence ONE well-defined winner per
    * group on any engine (DuckDB's arg_max takes only scalar keys, so a
    * struct tiebreak would not be portable).
    */
  private def q87(s: SparkSession, d: String): DataFrame = {
    val key = acctbalKey
    Tables.customer(s, d)
      .groupBy(col("c_nationkey"))
      .agg(
        max_by(col("c_name"), key).as("richest"),
        min_by(col("c_name"), key).as("poorest"),
        r2(max(col("c_acctbal"))).as("max_bal"),
        r2(min(col("c_acctbal"))).as("min_bal"),
        count(lit(1)).as("n_cust"))
  }

  /** PMI collocation scoring: pointwise mutual information of every
    * bigram seen ≥ 5 times — ln((cb·NU·NU)/(NB·cu1·cu2)). Count tables
    * are one shuffle each; the scoring joins move only (hash, count)
    * pairs plus the surviving bigram strings. The arithmetic is pinned
    * to ONE double expression shape (left-assoc multiplies of
    * exact-integer-valued doubles) so both engines round identically.
    */
  private def q88(s: SparkSession, d: String): DataFrame = {
    import graft.operators.QualityRules.wordNGramsAll
    val src = Spread.ensure(Tables.documents(s, d).select("text"))
    val uni = src
      .select(explode(wordNGramsAll(col("text"), 1)).as("__w"))
      .select(xxhash64(col("__w")).as("__wh"))
      .groupBy("__wh").agg(count(lit(1)).as("__cu"))
      .localCheckpoint(true)
    val nu = uni.agg(sum("__cu")).first().getLong(0)
    val bcAll = src
      .select(explode(wordNGramsAll(col("text"), 2)).as("__bg"))
      .groupBy("__bg").agg(count(lit(1)).as("__cb"))
      .localCheckpoint(true)
    val nb = bcAll.agg(sum("__cb")).first().getLong(0)
    val bc = bcAll.filter(col("__cb") >= 5)
      .select(
        col("__bg"), col("__cb"),
        xxhash64(substring_index(col("__bg"), " ", 1)).as("__w1h"),
        xxhash64(substring_index(col("__bg"), " ", -1)).as("__w2h"))
    bc
      .join(uni.select(col("__wh").as("__w1h"), col("__cu").as("__cu1")), "__w1h")
      .join(uni.select(col("__wh").as("__w2h"), col("__cu").as("__cu2")), "__w2h")
      .select(
        col("__bg").as("bigram"),
        col("__cb").as("n"),
        r6(log(
          col("__cb").cast("double") * lit(nu.toDouble) * lit(nu.toDouble) /
            (lit(nb.toDouble) * col("__cu1").cast("double") *
              col("__cu2").cast("double")))).as("pmi"))
  }

  /** Count-Min sketch round-trip: per-type sketches over user_id
    * (built-in combinable aggregate), probed back inside the SAME plan
    * with the native `cms_estimate` expression for the 10 lowest user
    * ids. CMS guarantees estimate ∈ [exact, exact + eps·N] with
    * probability ≥ confidence; eps·N < 1 at every test scale, so the
    * oracle asserts the exact count and a literally-true bound flag —
    * if the sketch ever over-counts past the envelope the hash compare
    * fails (q70's pattern).
    */
  private def q89(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val sketches = ev.groupBy(col("event_type")).agg(
      expr(f"count_min_sketch(user_id, $CmsEps%.6fd, 0.99d, 42)").as("__sk"),
      count(lit(1)).as("__n"))
    val exact = ev.filter(col("user_id") <= 10)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("n_exact"))
    exact
      .join(broadcast(sketches), "event_type")
      .select(
        col("event_type"),
        col("user_id"),
        col("n_exact"),
        (expr("cms_estimate(__sk, user_id)") >= col("n_exact") &&
          expr("cms_estimate(__sk, user_id)") <=
            col("n_exact") + ceil(lit(CmsEps) * col("__n")).cast("long"))
          .as("within_bound"))
  }

  /** Ordered string aggregation (LISTAGG/string_agg): top-priority
    * customer names per nation as one comma-joined string, order pinned
    * by (acctbal desc, custkey) so both engines emit identical bytes.
    * Spark has no ordered string_agg — the portable form is
    * sort_array(collect_list(struct(key, val))) → transform → join,
    * one shuffle, deterministic under ANY partitioning.
    */
  private def q90(s: SparkSession, d: String): DataFrame = {
    val key = acctbalKey
    Tables.customer(s, d)
      .filter(col("c_acctbal") > 9900)
      .groupBy(col("c_nationkey"))
      .agg(sort_array(collect_list(struct(key.as("__k"), col("c_name").as("__n"))))
        .as("__ord"))
      .select(
        col("c_nationkey"),
        size(col("__ord")).as("n_top"),
        array_join(transform(col("__ord"), e => e.getField("__n")), ",")
          .as("names"))
  }

  /** Statistical aggregate family: stddev/variance (sample + population),
    * covariance, and Pearson correlation per group. Both engines compute
    * these with different internal summation orders, so outputs are
    * pinned at 1e-6 — the quantities are O(1)-to-O(10⁴) and the engines
    * agree to ~1e-11, far inside the guard.
    */
  private def q91(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        r6(stddev_samp(col("l_quantity"))).as("sd_qty"),
        r6(var_samp(col("l_quantity"))).as("var_qty"),
        r6(stddev_pop(col("l_discount"))).as("sdp_disc"),
        r6(covar_samp(col("l_quantity"), col("l_extendedprice")))
          .as("cov_qty_price"),
        r6(corr(col("l_quantity"), col("l_extendedprice")))
          .as("corr_qty_price"))

  /** CDC snapshot diff: classify every key across two table snapshots as
    * INSERT / DELETE / UPDATE / UNCHANGED — the incremental-load
    * primitive (reference reprocesses whole days; a production pipeline
    * diffs). One full-outer join on the key; snapshots are synthesized
    * deterministically from orders (same expressions in the oracle):
    * "old" drops every 7th key, "new" drops every 11th and re-prices
    * every 5th.
    */
  private def q92(s: SparkSession, d: String): DataFrame = {
    val base = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_totalprice"))
    val old = base.filter(col("o_orderkey") % 7 =!= 0)
      .select(col("o_orderkey"), col("o_totalprice").as("__old"))
    val neu = base.filter(col("o_orderkey") % 11 =!= 0)
      .select(
        col("o_orderkey"),
        when(col("o_orderkey") % 5 === 0, col("o_totalprice") * 2)
          .otherwise(col("o_totalprice")).as("__new"))
    old.join(neu, Seq("o_orderkey"), "full_outer")
      .select(
        col("o_orderkey"),
        when(col("__old").isNull, "I")
          .when(col("__new").isNull, "D")
          .when(col("__old") =!= col("__new"), "U")
          .otherwise("N").as("op"))
      .groupBy(col("op"))
      .agg(count(lit(1)).as("n"), min(col("o_orderkey")).as("first_key"))
  }

  /** Sequence-gap detection (data-quality audit): ranges of missing ids
    * in the event_id sequence, as (start, end, width) rows.
    *
    * Two-level lead(), never a global sort: a plain
    * `Window.orderBy(event_id)` plans Exchange SinglePartition — the
    * whole table through one task, the exact failure mode this file
    * exists to avoid. Instead ids are bucketed by range (id-div-width),
    * lead() runs per bucket in parallel, and only the per-bucket
    * (min, max) boundary rows — one row per ~4M ids — go through a
    * single-partition window to catch gaps that straddle a bucket edge.
    * At 10¹² ids that boundary frame is ~250k rows of three longs.
    */
  private def q93(s: SparkSession, d: String): DataFrame = {
    val present = Tables.events(s, d)
      // synthesized gaps (same predicate in the oracle): drop id ranges
      // ending in 13 or 14 mod 100
      .filter(col("event_id") % 100 =!= 13 && col("event_id") % 100 =!= 14)
      .select(col("event_id"))
    val bounds = present
      .agg(min(col("event_id")).as("mn"), max(col("event_id")).as("mx"))
      .head()
    val empty = present.select(
      (col("event_id") + 1).as("gap_start"),
      (col("event_id") + 1).as("gap_end"),
      (col("event_id") + 1).as("gap_width")).limit(0)
    if (bounds.isNullAt(0)) return empty
    val (mn, mx) = (bounds.getLong(0), bounds.getLong(1))
    // ~4M ids per bucket, floor 32 buckets so small inputs still spread
    val span = mx - mn + 1
    val width = math.max(1L, span / math.max(32L, span / 4000000L))
    // `div` (integral division), not `/`: float quotients of 64-bit ids
    // can round across a bucket edge
    val withB = present.withColumn("__b", expr(s"(event_id - $mn) div $width"))
    val wb = Window.partitionBy(col("__b")).orderBy(col("event_id"))
    val inner = withB
      .withColumn("__next", lead(col("event_id"), 1).over(wb))
      .filter(col("__next") > col("event_id") + 1)
      .select(
        (col("event_id") + 1).as("gap_start"),
        (col("__next") - 1).as("gap_end"),
        (col("__next") - col("event_id") - 1).as("gap_width"))
    // cross-bucket gaps: each bucket's max vs the NEXT non-empty
    // bucket's min (lead over buckets handles empty buckets for free)
    val wo = Window.orderBy(col("__b")) // one row per bucket — tiny by construction
    val edge = withB
      .groupBy(col("__b"))
      .agg(max(col("event_id")).as("__bmax"), min(col("event_id")).as("__bmin"))
      .withColumn("__nmin", lead(col("__bmin"), 1).over(wo))
      .filter(col("__nmin") > col("__bmax") + 1)
      .select(
        (col("__bmax") + 1).as("gap_start"),
        (col("__nmin") - 1).as("gap_end"),
        (col("__nmin") - col("__bmax") - 1).as("gap_width"))
    inner.unionAll(edge)
  }

  /** The blocked (IVF-cell) SemDeDup — q82's production-scale sibling:
    * candidates ≈ Σ cell² instead of N², here over the SCALE-KEYED
    * frozen Lloyd's codebook ([[graft.model.IvfCentroids.blockingFor]]:
    * K = 40/128/400 by corpus generation, each trained on its own
    * generation at the auto-K size — the q77/q32 freeze discipline,
    * made scale-honest in r9). Freezing makes the candidate set
    * deterministic, so the whole blocked pipeline — multi-cell
    * assignment, shared-cell pairs, cosine ≥ τ, connected components,
    * survivor selection — is hash-checked against a DuckDB replay
    * (q82's recursive-CTE closure restricted to shared-cell pairs),
    * whose `cent` CTE gates the same books on the same corpus count.
    * In-query auto-K training remains the operator default, pinned by
    * `SimilaritySpec` (blocked drops ⊆ exact drops + recall floor,
    * asserted for BOTH the trained and the frozen path); it picks the
    * SAME K as the frozen path, so the oracle now covers the
    * production-shaped candidate volume too.
    */
  private def q94(s: SparkSession, d: String): DataFrame =
    graft.operators.Similarity
      .blockedSemDedup(
        Tables.embeddings(s, d).select("vec_id", "embedding", "label"),
        "vec_id", "embedding", tau = 0.4,
        frozenCentroids = Some(graft.model.IvfCentroids.blockingFor(s, d)))
      .select("vec_id", "label")

  /** Interval-union coverage: total time covered by ≥1 event interval
    * per type (the sweep-line companion to q85's max-concurrency).
    * Segment trick: between consecutive sweep points the coverage count
    * is constant, so union length = Σ (next_t − t) over rows whose
    * running sum > 0. Tie groups are safe without RANGE frames: rows
    * inside a tie contribute zero-length segments, and the tie-FINAL
    * row's prefix sum includes the whole group, so only deterministic
    * values reach the output. All arithmetic in integer microseconds.
    */
  private def q95(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(
      col("event_type"),
      unix_micros(col("ts")).as("t0"),
      unix_micros(expr(
        "timestampadd(MICROSECOND, CAST(round(value * 1000000) AS BIGINT), ts)"))
        .as("t1"))
    val pts = ev.select(col("event_type"), col("t0").as("t"), lit(1L).as("delta"))
      .unionAll(ev.select(col("event_type"), col("t1").as("t"), lit(-1L).as("delta")))
    val ord = Window.partitionBy(col("event_type")).orderBy(col("t"), col("delta"))
    val wSum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pts
      .select(
        col("event_type"),
        sum(col("delta")).over(wSum).as("__conc"),
        (lead(col("t"), 1).over(ord) - col("t")).as("__len"))
      .filter(col("__conc") > 0 && col("__len").isNotNull)
      .groupBy(col("event_type"))
      .agg(sum(col("__len")).as("covered_us"))
  }

  /** SemDeDup AT INGEST: the batch tenth of the corpus (vec_id % 10 = 0)
    * near-dup-checked against the indexed history through the
    * scale-keyed frozen IVF index — [[graft.operators.Similarity
    * .incrementalSemDedup]], the cosine lift of q99 and the query twin
    * of q127's layout append. Same τ=0.4 and codebook as q94; statuses
    * and the min-id dup attribution replay in SQL, so the entire ingest
    * decision function is hash-checked.
    */
  private def q131(s: SparkSession, d: String): DataFrame = {
    val vecs = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    graft.operators.Similarity.incrementalSemDedup(
      vecs.filter(col("vec_id") % 10 =!= 0),
      vecs.filter(col("vec_id") % 10 === 0),
      "vec_id", "embedding", tau = 0.4,
      centroids = graft.model.IvfCentroids.blockingFor(s, d))
  }

  /** SEMANTIC decontamination (q56's embedding lift): every 25th vector
    * is the "benchmark suite" (the q56 convention); corpus vectors
    * within cosine 0.4 of any eval vector are flagged through the same
    * scale-keyed frozen IVF index as q131 — eval PROBES 4 cells, corpus
    * is touched only through its rank-1 indexed cell.
    */
  private def q139(s: SparkSession, d: String): DataFrame = {
    val vecs = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    graft.operators.Similarity.evalContaminated(
      vecs.filter(col("vec_id") % 25 =!= 0),
      vecs.filter(col("vec_id") % 25 === 0),
      "vec_id", "embedding", tau = 0.4,
      centroids = graft.model.IvfCentroids.blockingFor(s, d))
  }

  /** q139's EXACT yardstick (r11 verdict #1): the brute-force
    * eval×corpus cosine check q139's per-regime recall was measured
    * against at sf1, registered in-suite so the scaladoc's "run the
    * exact sibling" points at a green CORRECTNESS row — the
    * q33→q94 / q104→q132 / q110→q129 exact-vs-scale pattern applied
    * to decontamination. Same τ and the same %25 eval split as q139,
    * so the two outputs are directly comparable (q139 ⊆ q141 rows by
    * construction; the gap IS the nprobe-bounded recall).
    */
  private def q141(s: SparkSession, d: String): DataFrame = {
    val vecs = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    graft.operators.Similarity.evalContaminatedExact(
      vecs.filter(col("vec_id") % 25 =!= 0),
      vecs.filter(col("vec_id") % 25 === 0),
      "vec_id", "embedding", tau = 0.4)
  }

  val defs: Map[String, Q] = Map(
    "q131_incremental_semdedup" -> q131,
    "q139_embed_decontam" -> q139,
    "q141_exact_decontam" -> q141,
    "q95_interval_union" -> q95,
    "q92_snapshot_diff" -> q92,
    "q93_sequence_gaps" -> q93,
    "q94_semdedup_blocked" -> q94,
    "q90_string_agg" -> q90,
    "q91_stats_family" -> q91,
    "q82_semdedup_survivors" -> q82,
    "q83_rolling_range" -> q83,
    "q84_normalize_text" -> q84,
    "q85_concurrency" -> q85,
    "q86_histogram" -> q86,
    "q87_argmax_group" -> q87,
    "q88_pmi_collocations" -> q88,
    "q89_countmin_roundtrip" -> q89)

  /** q94's oracle = the blocked component closure of
    * [[BlockingOracleSql]] (scale-gated frozen books, fast
    * inner-product scores, fixed-round min-label propagation — see
    * there for the exactness argument) ending at the min-id SURVIVOR
    * set: every id that is a non-min member of its component drops.
    */
  private def q94OracleSql: String = {
    val r = BlockingOracleSql.rounds
    s"""WITH ${BlockingOracleSql.assignPrefix(nprobe = 4)},
       |${BlockingOracleSql.edgeCtes(tau = 0.4, nprobe = 4)},
       |${BlockingOracleSql.closureCtes(r)}
       |SELECT vec_id, label FROM embeddings
       |WHERE vec_id NOT IN (SELECT id FROM l$r WHERE id <> lbl)
       |UNION ALL
       |${BlockingOracleSql.poisonGuard("-1, -1")}""".stripMargin
  }

  /** q131's oracle: the full ingest decision function replayed — frozen
    * 128-cell scores (the exact `NearestCells` arithmetic), rn=1 cell
    * assignment for the indexed side, rn≤4 probes for the batch,
    * cell-equi candidates gated on (history ∨ earlier-batch), cosine ≥
    * τ, and the q99 status/dup-of attribution via min ids (duplicate
    * candidate rows from shared cells collapse under min for free).
    */
  private def q131OracleSql: String = {
    s"""WITH ${BlockingOracleSql.assignPrefix(nprobe = 4)},
       |assign AS MATERIALIZED (
       |  SELECT vec_id, cpos AS cell FROM (
       |    SELECT vec_id, cpos,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cpos ASC) AS rn
       |    FROM sc) t WHERE rn = 1),
       |probes AS MATERIALIZED (
       |  SELECT vec_id, cell FROM cells WHERE vec_id % 10 = 0),
       |cand AS (
       |  SELECT p.vec_id AS bid, a.vec_id AS iid, a.vec_id % 10 <> 0 AS is_hist
       |  FROM probes p JOIN assign a ON a.cell = p.cell
       |  JOIN ev pv ON pv.vec_id = p.vec_id
       |  JOIN ev iv ON iv.vec_id = a.vec_id
       |  WHERE a.vec_id <> p.vec_id
       |    AND (a.vec_id % 10 <> 0 OR a.vec_id < p.vec_id)
       |    AND list_cosine_similarity(pv.v, iv.v) >= 0.4),
       |agg AS (SELECT bid,
       |    min(CASE WHEN is_hist THEN iid END) AS hist_id,
       |    min(CASE WHEN NOT is_hist THEN iid END) AS bdup_id
       |  FROM cand GROUP BY bid)
       |SELECT b.vec_id,
       |  CASE WHEN hist_id IS NOT NULL THEN 'dup_of_history'
       |       WHEN bdup_id IS NOT NULL THEN 'dup_in_batch'
       |       ELSE 'kept' END AS status,
       |  coalesce(hist_id, bdup_id) AS dup_of
       |FROM (SELECT vec_id FROM embeddings WHERE vec_id % 10 = 0) b
       |LEFT JOIN agg ON agg.bid = b.vec_id""".stripMargin
  }

  /** q82's oracle: same all-pairs exact-SemDeDup semantics as r10, two
    * replays made budget-feasible at sf1 (the r10 spelling DNF'd its
    * 600 s window):
    *
    *  - EDGES: the 200M-pair scan pre-filters with DuckDB's vectorized
    *    fixed-size `array_cosine_similarity(DOUBLE[64])` kernel at a
    *    `τ - 1e-6` guard band, then re-checks survivors (~100k pairs)
    *    with the ORIGINAL `list_cosine_similarity(DOUBLE[])` call — so
    *    the edge set is bit-identical to r10's definition. The band
    *    covers kernel reassociation drift (≤ ~64 ulps ≈ 1e-14 on unit
    *    vectors, nine orders below the band); ~31k pairs sit within
    *    ±0.005 of τ at sf1, so matching the list kernel exactly — not
    *    approximately — is load-bearing.
    *
    *  - CLOSURE: the `reach` transitive closure materializes
    *    Σ component² rows, and at sf1 the τ=0.4 graph percolates into
    *    one ~20k-node component (97.8k edges, 2 survivors) — replaced
    *    by [[BlockingOracleSql.closureCtes]]' fixed-round min-label
    *    propagation with pointer doubling and its loud convergence
    *    poison, the same machinery q94/q50/q131 already trust.
    */
  private def q82OracleSql: String = {
    val r = BlockingOracleSql.rounds
    s"""WITH ev AS MATERIALIZED (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[64]) AS arr, embedding
       |  FROM embeddings),
       |e AS MATERIALIZED (
       |  SELECT src, dst FROM (
       |    SELECT a.vec_id AS src, b.vec_id AS dst,
       |      list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
       |        CAST(b.embedding AS DOUBLE[])) AS c
       |    FROM ev a JOIN ev b ON a.vec_id < b.vec_id
       |    WHERE array_cosine_similarity(a.arr, b.arr) >= 0.4 - 1e-6) t
       |  WHERE c >= 0.4),
       |sym AS MATERIALIZED (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
       |${BlockingOracleSql.closureCtes(r)}
       |SELECT vec_id, label FROM embeddings
       |WHERE vec_id NOT IN (SELECT id FROM l$r WHERE id <> lbl)
       |UNION ALL
       |${BlockingOracleSql.poisonGuard("CAST(-1 AS BIGINT), CAST(-1 AS INTEGER)")}""".stripMargin
  }

  /** q139's oracle: rank-1 indexed corpus cells, rn≤4 eval probes —
    * the q131 assignment CTEs with the sides swapped — then cosine ≥ τ
    * and the (count, min) attribution. No DISTINCT needed: a corpus
    * row lives in exactly ONE indexed cell, so a (corpus, eval) pair
    * cannot surface twice.
    */
  private def q139OracleSql: String = {
    s"""WITH ${BlockingOracleSql.assignPrefix(nprobe = 4)},
       |assign AS MATERIALIZED (
       |  SELECT vec_id, cpos AS cell FROM (
       |    SELECT vec_id, cpos,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cpos ASC) AS rn
       |    FROM sc) t WHERE rn = 1),
       |probes AS MATERIALIZED (
       |  SELECT vec_id, cell FROM cells WHERE vec_id % 25 = 0),
       |cand AS (
       |  SELECT a.vec_id AS cid, p.vec_id AS eid
       |  FROM probes p JOIN assign a ON a.cell = p.cell
       |  JOIN ev cv ON cv.vec_id = a.vec_id
       |  JOIN ev pv ON pv.vec_id = p.vec_id
       |  WHERE a.vec_id % 25 <> 0
       |    AND list_cosine_similarity(pv.v, cv.v) >= 0.4)
       |SELECT cid AS vec_id,
       |  CAST(count(*) AS BIGINT) AS n_eval_hits,
       |  min(eid) AS eval_id
       |FROM cand GROUP BY cid""".stripMargin
  }

  /** q141's oracle: the pure brute-force pair check — DuckDB's
    * vectorized fixed-size cosine kernel prefilters at a `τ - 1e-6`
    * guard band, survivors re-check with the original variable-size
    * list kernel (the q82 two-kernel discipline: the band covers ≤
    * ~1e-14 reassociation drift, nine orders below it), then the same
    * (count, min) attribution as q139.
    */
  private def q141OracleSql: String =
    """WITH ev AS MATERIALIZED (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[64]) AS arr,
      |    CAST(embedding AS DOUBLE[]) AS v
      |  FROM embeddings),
      |cand AS (
      |  SELECT c.vec_id AS cid, e.vec_id AS eid
      |  FROM ev c JOIN ev e
      |    ON c.vec_id % 25 <> 0 AND e.vec_id % 25 = 0
      |    AND array_cosine_similarity(c.arr, e.arr) >= 0.4 - 1e-6
      |  WHERE list_cosine_similarity(c.v, e.v) >= 0.4)
      |SELECT cid AS vec_id,
      |  CAST(count(*) AS BIGINT) AS n_eval_hits,
      |  min(eid) AS eval_id
      |FROM cand GROUP BY cid""".stripMargin

  val oracles: Map[String, String] = Map(
    "q131_incremental_semdedup" -> q131OracleSql,
    "q139_embed_decontam" -> q139OracleSql,
    "q141_exact_decontam" -> q141OracleSql,
    "q94_semdedup_blocked" -> q94OracleSql,
    "q95_interval_union" ->
      """WITH iv AS (
        |  SELECT event_type, epoch_us(ts) AS t0,
        |    epoch_us(ts + to_microseconds(CAST(round(value * 1000000) AS BIGINT))) AS t1
        |  FROM events),
        |pts AS (
        |  SELECT event_type, t0 AS t, CAST(1 AS BIGINT) AS delta FROM iv
        |  UNION ALL
        |  SELECT event_type, t1 AS t, CAST(-1 AS BIGINT) AS delta FROM iv),
        |seg AS (
        |  SELECT event_type,
        |    sum(delta) OVER (PARTITION BY event_type ORDER BY t, delta
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc,
        |    lead(t) OVER (PARTITION BY event_type ORDER BY t, delta) - t AS len
        |  FROM pts)
        |SELECT event_type, CAST(sum(len) AS BIGINT) AS covered_us
        |FROM seg WHERE conc > 0 AND len IS NOT NULL
        |GROUP BY event_type""".stripMargin,
    "q92_snapshot_diff" ->
      """WITH old AS (
        |  SELECT o_orderkey, o_totalprice AS v FROM orders WHERE o_orderkey % 7 <> 0),
        |neu AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 2 ELSE o_totalprice END AS v
        |  FROM orders WHERE o_orderkey % 11 <> 0),
        |d AS (
        |  SELECT coalesce(old.o_orderkey, neu.o_orderkey) AS k,
        |    CASE WHEN old.v IS NULL THEN 'I'
        |         WHEN neu.v IS NULL THEN 'D'
        |         WHEN old.v <> neu.v THEN 'U'
        |         ELSE 'N' END AS op
        |  FROM old FULL OUTER JOIN neu ON old.o_orderkey = neu.o_orderkey)
        |SELECT op, count(*) AS n, min(k) AS first_key FROM d GROUP BY op""".stripMargin,
    "q93_sequence_gaps" ->
      """WITH ids AS (
        |  SELECT event_id FROM events
        |  WHERE event_id % 100 <> 13 AND event_id % 100 <> 14),
        |nx AS (SELECT event_id, lead(event_id) OVER (ORDER BY event_id) AS n FROM ids)
        |SELECT event_id + 1 AS gap_start, n - 1 AS gap_end,
        |  n - event_id - 1 AS gap_width
        |FROM nx WHERE n > event_id + 1""".stripMargin,
    "q90_string_agg" ->
      """SELECT c_nationkey,
        |CAST(count(*) AS INT) AS n_top,
        |string_agg(c_name, ',' ORDER BY
        |  CAST(round(c_acctbal * 100) AS BIGINT) * 10000000000 + c_custkey) AS names
        |FROM customer WHERE c_acctbal > 9900
        |GROUP BY c_nationkey""".stripMargin,
    "q91_stats_family" ->
      """SELECT l_returnflag, count(*) AS n,
        |floor(stddev_samp(l_quantity) * 1000000 + 0.50001) / 1000000 AS sd_qty,
        |floor(var_samp(l_quantity) * 1000000 + 0.50001) / 1000000 AS var_qty,
        |floor(stddev_pop(l_discount) * 1000000 + 0.50001) / 1000000 AS sdp_disc,
        |floor(covar_samp(l_quantity, l_extendedprice) * 1000000 + 0.50001) / 1000000 AS cov_qty_price,
        |floor(corr(l_quantity, l_extendedprice) * 1000000 + 0.50001) / 1000000 AS corr_qty_price
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q82_semdedup_survivors" -> q82OracleSql,
    "q83_rolling_range" ->
      """WITH daily AS (
        |  SELECT o_orderpriority AS prio, CAST(o_orderdate AS DATE) AS day,
        |         sum(o_totalprice) AS rev, count(*) AS n
        |  FROM orders GROUP BY 1, 2)
        |SELECT prio, day,
        |  floor(rev * 100 + 0.50001) / 100 AS rev,
        |  floor((avg(rev) OVER w) * 100 + 0.50001) / 100 AS ma7,
        |  CAST(sum(n) OVER w AS BIGINT) AS n7
        |FROM daily
        |WINDOW w AS (PARTITION BY prio
        |  ORDER BY date_diff('day', DATE '1970-01-01', day)
        |  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)""".stripMargin,
    "q84_normalize_text" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 0
        |      THEN text || ' Cafe' || chr(769) || ' NAI' || chr(776) || 'VE  End'
        |      ELSE text END AS t
        |  FROM documents),
        |norm AS (
        |  SELECT doc_id, t,
        |    trim(regexp_replace(lower(nfc_normalize(t)), '\s+', ' ', 'g')) AS nt
        |  FROM aug)
        |SELECT doc_id, length(t) AS len_raw, length(nt) AS len_norm,
        |  md5(nt) AS norm_md5 FROM norm""".stripMargin,
    "q85_concurrency" ->
      """WITH iv AS (
        |  SELECT event_type, ts,
        |    ts + to_microseconds(CAST(round(value * 1000000) AS BIGINT)) AS te
        |  FROM events),
        |pts AS (
        |  SELECT event_type, ts AS t, CAST(1 AS BIGINT) AS delta FROM iv
        |  UNION ALL
        |  SELECT event_type, te AS t, CAST(-1 AS BIGINT) AS delta FROM iv),
        |run AS (
        |  SELECT event_type,
        |    sum(delta) OVER (PARTITION BY event_type ORDER BY t, delta) AS conc
        |  FROM pts)
        |SELECT event_type, CAST(max(conc) AS BIGINT) AS max_concurrent
        |FROM run GROUP BY event_type""".stripMargin,
    "q86_histogram" ->
      """SELECT CAST(floor(l_extendedprice / 5000) AS BIGINT) AS bin,
        |count(*) AS n,
        |floor(min(l_extendedprice) * 100 + 0.50001) / 100 AS lo,
        |floor(max(l_extendedprice) * 100 + 0.50001) / 100 AS hi,
        |floor(avg(l_extendedprice) * 100 + 0.50001) / 100 AS mean
        |FROM lineitem GROUP BY 1""".stripMargin,
    "q88_pmi_collocations" ->
      """WITH toks AS (
        |  SELECT list_filter(string_split(text, ' '), x -> len(x) > 0) AS tk
        |  FROM documents),
        |unir AS (SELECT unnest(tk) AS w FROM toks),
        |uc AS (SELECT w, count(*) AS cu FROM unir GROUP BY w),
        |nu AS (SELECT CAST(count(*) AS DOUBLE) AS nu FROM unir),
        |bgr AS (SELECT tk[i] AS w1, tk[i + 1] AS w2,
        |               tk[i] || ' ' || tk[i + 1] AS bigram
        |        FROM toks, unnest(generate_series(1, len(tk) - 1)) AS g(i)
        |        WHERE len(tk) >= 2),
        |nb AS (SELECT CAST(count(*) AS DOUBLE) AS nb FROM bgr),
        |bc AS (SELECT bigram, min(w1) AS w1, min(w2) AS w2, count(*) AS cb
        |       FROM bgr GROUP BY bigram HAVING count(*) >= 5)
        |SELECT bigram, cb AS n,
        |  floor(ln(CAST(cb AS DOUBLE) * nu.nu * nu.nu
        |           / (nb.nb * CAST(u1.cu AS DOUBLE) * CAST(u2.cu AS DOUBLE)))
        |        * 1000000 + 0.50001) / 1000000 AS pmi
        |FROM bc
        |JOIN uc u1 ON bc.w1 = u1.w
        |JOIN uc u2 ON bc.w2 = u2.w, nu, nb""".stripMargin,
    "q89_countmin_roundtrip" ->
      """SELECT event_type, user_id, count(*) AS n_exact, TRUE AS within_bound
        |FROM events WHERE user_id <= 10
        |GROUP BY event_type, user_id""".stripMargin,
    "q87_argmax_group" ->
      """SELECT c_nationkey,
        |arg_max(c_name, CAST(round(c_acctbal * 100) AS BIGINT) * 10000000000 + c_custkey) AS richest,
        |arg_min(c_name, CAST(round(c_acctbal * 100) AS BIGINT) * 10000000000 + c_custkey) AS poorest,
        |floor(max(c_acctbal) * 100 + 0.50001) / 100 AS max_bal,
        |floor(min(c_acctbal) * 100 + 0.50001) / 100 AS min_bal,
        |count(*) AS n_cust
        |FROM customer GROUP BY c_nationkey""".stripMargin
  )
}

package graft.queries

import graft.Tables
import graft.sinks.{BucketedTables, PartitionedParquetSink}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Storage-layout operators — the physical-design levers that decide
  * whether a 100 TB job shuffles petabytes or nothing at all. Each is
  * exposed as a bench/correctness query whose RESULT is layout-invariant
  * (hash-matches the plain-layout DuckDB oracle) while its PLAN carries
  * the scale behavior, asserted in `StorageQueriesSpec`:
  *
  *  - q96: bucketed fact-fact join — both tables written bucketed+sorted
  *    on the join key, so the sort-merge join runs with ZERO exchanges
  *    and ZERO sorts (bucket pairs join locally; the bench time includes
  *    the one-off bucketed write, the cost that buys every later join).
  *  - q97: day-partitioned layout — a 3-of-30-day filter becomes
  *    partition PRUNING (27 days of files are never opened).
  *  - q98: runtime bloom-filter join pruning — a selective dimension
  *    filter is turned into a bloom probe on the fact scan, dropping
  *    non-joining rows BEFORE the shuffle.
  *  - q99: incremental dedup — a new batch is deduplicated against the
  *    corpus's stored fingerprint index without ever re-shuffling the
  *    historical corpus (semi-join against the index; at 100 TB the
  *    index is a bucketed table and the probe co-locates).
  */
object StorageQueries {
  private type Q = (SparkSession, String) => DataFrame

  private def r2(c: Column): Column = floor(c * 100 + lit(0.50001)) / 100
  // order-independent 2dp money aggregation — per-row exact cents, LONG
  // sum (see CoreQueries.sumR2 for the full scale rationale)
  private def sumR2(c: Column): Column =
    sum(floor(c * 100 + lit(0.50001)).cast("long")) / 100.0

  /** Layout roots live under java.io.tmpdir, scoped by sf dir so
    * different scale factors never read each other's layouts.
    */
  private def layoutRoot(d: String): String = {
    val tag = java.lang.Long.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(d).toLong & 0xffffffffL)
    s"${sys.props("java.io.tmpdir")}/graft_layout_$tag"
  }

  /** One-off layout writes, keyed by (sessionUUID, sf, layout): a JVM
    * re-running the query (bench loops, spec + verify in one process)
    * pays the write once — exactly like production, where the layout is
    * written once and amortized over every query that reads it.
    */
  private val written = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def once(s: SparkSession, d: String, what: String)(write: => Unit): Unit = {
    val key = s"${s.sparkContext.applicationId}|$d|$what"
    if (!written.contains(key)) synchronized {
      if (!written.contains(key)) { write; written.add(key) }
    }
  }

  /** Bucketed co-located join: orders ⋈ lineitem on the order key, both
    * sides bucketed AND sorted by that key — the catalog's bucket spec
    * replaces both exchanges and both sorts of a plain sort-merge join.
    * The aggregation groups on the same key, so it rides the bucket
    * distribution too: the whole plan is exchange-free.
    */
  private def q96(sParent: SparkSession, d: String): DataFrame = {
    // Child session: Spark ≥3.0 ignores bucket sortBy metadata unless
    // the legacy flag is on (a bucket with >1 file would need a merge
    // read). writeBucketed repartitions to exactly one file per bucket,
    // which is precisely the regime where the flag is sound — scope it
    // here instead of mutating the caller's session.
    val s = sParent.newSession()
    s.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    val root = layoutRoot(d)
    val tag = root.substring(root.lastIndexOf('_') + 1)
    val (ot, lt) = (s"graft_bkt_orders_$tag", s"graft_bkt_lineitem_$tag")
    once(s, d, "bucketed") {
      BucketedTables.writeBucketed(
        Tables.orders(s, d).select("o_orderkey", "o_orderstatus"),
        ot, "o_orderkey", 8, sortCol = Some("o_orderkey"),
        path = Some(s"$root/$ot"))
      BucketedTables.writeBucketed(
        Tables.lineitem(s, d).select("l_orderkey", "l_extendedprice", "l_discount"),
        lt, "l_orderkey", 8, sortCol = Some("l_orderkey"),
        path = Some(s"$root/$lt"))
    }
    BucketedTables.table(s, ot)
      .join(
        BucketedTables.table(s, lt).hint("merge"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n_lines"),
        sumR2(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("net_total"))
  }

  /** Partition-pruned scan: events written day-partitioned, then a
    * 3-of-30-day rollup — the filter is resolved against the directory
    * listing, not the data (27/30 of the files are never opened).
    */
  private def q97(s: SparkSession, d: String): DataFrame = {
    val path = s"${layoutRoot(d)}/events_by_day"
    once(s, d, "daypart") {
      PartitionedParquetSink.writeDayPartitioned(Tables.events(s, d), "ts", path)
    }
    // keep the partition column a STRING on read: inference would type
    // `date=20240105` as INT and the output schema would depend on the
    // layout, not the data
    s.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
    PartitionedParquetSink.readDayRange(s, path, "20240105", "20240107")
      .groupBy(col("date"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sumR2(col("value")).as("total_value"))
  }

  /** Runtime bloom-filter join pruning, exercised at bench scale: the
    * selective part-side filter becomes a bloom probe on the lineitem
    * scan (visible as `might_contain` in the scan's filters), so
    * non-joining fact rows are dropped before the join's shuffle. Runs
    * in a child session: the injection thresholds default to 10 GB and
    * broadcast joins bypass injection, so both knobs are scoped there
    * rather than mutated on the caller's session.
    */
  private def q98(s: SparkSession, d: String): DataFrame = {
    val s2 = s.newSession()
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s2.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val dim = Tables.part(s2, d)
      .filter(col("p_size") === 1)
      .select(col("p_partkey"), col("p_type"))
    Tables.lineitem(s2, d)
      .select(col("l_partkey"), col("l_quantity"))
      .join(dim, col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_type"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(col("l_quantity")).cast("long").as("total_qty"))
  }

  /** Incremental dedup: new-batch documents (doc_id ≡ 0 mod 10) checked
    * against the historical corpus's fingerprint index and against
    * earlier rows of the same batch. The history is touched ONLY through
    * its (hash → min doc_id) index — one distinct-agg to build here, a
    * stored bucketed table in production — so ingesting a 1 TB batch
    * into a 100 TB corpus shuffles ~1 TB, not 101 TB.
    */
  private def q99(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), md5(col("text")).as("h"))
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val index = docs.filter(col("doc_id") % 10 =!= 0)
      .groupBy(col("h")).agg(min(col("doc_id")).as("hist_id"))
    val wBatch = Window.partitionBy(col("h")).orderBy(col("doc_id"))
    batch
      .withColumn("batch_first", min(col("doc_id")).over(
        Window.partitionBy(col("h"))))
      .withColumn("rn", row_number().over(wBatch))
      .join(index, Seq("h"), "left")
      .select(
        col("doc_id"),
        when(col("hist_id").isNotNull, lit("dup_of_history"))
          .when(col("rn") > 1, lit("dup_in_batch"))
          .otherwise(lit("kept")).as("status"),
        coalesce(col("hist_id"),
          when(col("rn") > 1, col("batch_first"))).as("dup_of"))
  }

  /** Range-clustered layout: lineitem range-partitioned AND sorted on
    * `l_extendedprice`, so each parquet file (and each row group inside
    * it) covers a narrow, disjoint price band — a selective price filter
    * then skips whole row groups on footer min/max stats instead of
    * decoding them. The same decode-skipping a Z-order layout buys for
    * multi-column predicates, shown here on the single-column case
    * Spark's writer can express natively. The spec proves the skipping:
    * the scan's numOutputRows under this layout is a fraction of the
    * plain layout's under the identical filter.
    */
  private def q100(s: SparkSession, d: String): DataFrame = {
    val path = s"${layoutRoot(d)}/lineitem_by_price"
    once(s, d, "rangesort") {
      Tables.lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_quantity")
        .repartitionByRange(8, col("l_extendedprice"))
        .sortWithinPartitions("l_extendedprice")
        .write.mode("overwrite").parquet(path)
    }
    s.read.parquet(path)
      .filter(col("l_extendedprice") >= 900.0 && col("l_extendedprice") < 5000.0)
      .groupBy(col("l_quantity"))
      .agg(
        count(lit(1)).as("n_lines"),
        sumR2(col("l_extendedprice")).as("total_price"))
  }

  /** Bit-interleave the low 16 bits of two keys into a Morton (Z-order)
    * value — pure codegen'd bitwise column arithmetic, no UDF. The
    * classic parallel bit-spread: each OR-shift-mask stage doubles the
    * gap between payload bits.
    */
  private def spread16(c: Column): Column = {
    val x0 = c.bitwiseAND(lit(0xFFFFL))
    val x1 = x0.bitwiseOR(shiftleft(x0, 8)).bitwiseAND(lit(0x00FF00FFL))
    val x2 = x1.bitwiseOR(shiftleft(x1, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val x3 = x2.bitwiseOR(shiftleft(x2, 2)).bitwiseAND(lit(0x33333333L))
    x3.bitwiseOR(shiftleft(x3, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** Z-order-clustered layout: lineitem laid out along the Morton curve
    * of (l_partkey, l_suppkey), so each file and row group covers a
    * narrow range in BOTH dimensions at once — the multi-column
    * generalization of q100's single-column range clustering. A 2-D box
    * predicate then skips most row groups on plain per-column min/max
    * footer stats; no special reader needed, the LAYOUT carries the
    * information. 16-bit lanes cover this dataset's key domains;
    * production keys interleave 32-bit lanes into the same long. The
    * spec proves the skipping (decoded-row fraction vs the plain
    * layout); the oracle proves the result is layout-invariant.
    */
  private def q109(s: SparkSession, d: String): DataFrame = {
    val path = s"${layoutRoot(d)}/lineitem_zorder"
    once(s, d, "zorder") {
      Tables.lineitem(s, d)
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
        .withColumn("z",
          spread16(col("l_partkey")).bitwiseOR(shiftleft(spread16(col("l_suppkey")), 1)))
        .repartitionByRange(8, col("z"))
        .sortWithinPartitions("z")
        .drop("z")
        .write.mode("overwrite").parquet(path)
    }
    s.read.parquet(path)
      .filter(col("l_partkey") < 60 && col("l_suppkey") < 4)
      .groupBy(col("l_suppkey"))
      .agg(
        count(lit(1)).as("n_lines"),
        sumR2(col("l_quantity")).as("total_qty"))
  }

  /** IVF cells as a PHYSICAL layout — the claim in `Similarity`'s IVF
    * scaladoc ("at 100 TB the corpus can be PARTITIONED BY cell id so a
    * query touches nprobe partitions") made real and oracle-checked.
    * The corpus is written `partitionBy(cell)` under the FROZEN 16-cell
    * codebook ([[graft.model.IvfCentroids.cells]] — the codebook q32
    * searches with), and the probe cells of the 3 query vectors become
    * LITERAL partition predicates, so 16 − |probed| cell directories
    * are never opened (`PartitionFilters`, asserted in
    * `StorageQueriesSpec`). In-partition work is the same in-cell
    * cosine top-k q32's oracle replays — layout moves the candidate
    * pruning from a join to the DIRECTORY LISTING, which at 100 TB is
    * the difference between scanning nprobe/K of the corpus and
    * scanning none of the rest even once.
    *
    * The probe cells are computed DRIVER-side: a 3-row bounded collect
    * of the query vectors (the literal `vec_id < 3` predicate), scored
    * against the fixture with the exact `NearestCells` accumulation
    * (sequential dot − ‖c‖²/2, ties toward the lower cell) — the same
    * arithmetic the oracle replays in SQL, so the pruned layout serves
    * exactly the oracle's candidate set.
    */
  private def q126(s: SparkSession, d: String): DataFrame = {
    val path = s"${layoutRoot(d)}/embeddings_by_cell"
    val cents = graft.model.IvfCentroids.cells
    once(s, d, "ivfcells") {
      graft.operators.IvfLayout.writeBase(Tables.embeddings(s, d), cents, path)
    }
    ivfProbeTopK(s, d, path)
  }

  /** The probe side of the IVF layout, shared by q126 (write-once
    * layout) and q127 (base + incremental append): probe cells of the 3
    * query vectors become literal partition predicates over `path`, then
    * in-cell cosine top-k — identical to q32's oracle replay. Layout
    * construction must be result-invisible, so both queries hash against
    * the same `ivfOracleSql(maxQueryId = 3)`.
    */
  private def ivfProbeTopK(s: SparkSession, d: String, path: String): DataFrame = {
    val cents = graft.model.IvfCentroids.cells
    val qvecs = Tables.embeddings(s, d)
      .filter(col("vec_id") < 3) // 3 rows — bounded by the literal predicate
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    // NearestCells' scoring replayed on the driver: sequential dot,
    // minus the half-norm computed exactly as NearestCells.toCol bakes it
    def probeCells(v: Array[Double], nprobe: Int): Seq[Int] = {
      val scored = cents.zipWithIndex.map { case (c, i) =>
        var dot = 0.0
        var j = 0
        while (j < v.length) { dot += v(j) * c(j); j += 1 }
        (dot - c.map(x => x * x).sum / 2, i)
      }
      scored.sortBy { case (sc, i) => (-sc, i) }.take(nprobe).map(_._2).toSeq
    }
    val probes = qvecs.map { case (id, v) => (id, v, probeCells(v, 4)) }
    val allCells = probes.flatMap(_._3).distinct.sorted
    // partition-column inference off: `cell=3` must read as the string
    // "3" so the output schema is layout-independent (the q97 rule)
    s.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
    import s.implicits._
    val qDf = probes.toSeq.toDF("query_id", "qv", "probes")
      .withColumn("probe_cell", explode(col("probes")))
      .select(col("query_id"), col("qv"), col("probe_cell").cast("string").as("probe_cell"))
    val corpus = s.read.parquet(path)
      .filter(col("cell").isin(allCells.map(_.toString): _*)) // literal → directory pruning
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    corpus
      .join(broadcast(qDf), col("cell") === col("probe_cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        expr("cosine_sim(transform(embedding, x -> CAST(x AS DOUBLE)), qv)")
          .as("cosine"))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .withColumn("cosine", floor(col("cosine") * 1000000 + lit(0.50001)) / 1000000)
  }

  /** q126's layout, built INCREMENTALLY: base corpus (vec_id % 10 ≠ 0)
    * written once, then the remaining tenth ingested as an append batch
    * through [[graft.operators.IvfLayout.appendBatch]] — only the batch
    * is assigned and written; the base layout's files are never read or
    * rewritten (q99's incremental-dedup contract applied to the ANN
    * index; per-cell file-level witness in `IvfLayoutSpec`). The probe
    * is byte-for-byte q126's, and the oracle is the SAME full-corpus IVF
    * replay — append must be result-invisible: base + batch under the
    * frozen codebook serves exactly the candidate set a from-scratch
    * build serves. Small-file growth from repeated appends is handled by
    * `IvfLayout.compactCells` (per-cell rewrite via dynamic partition
    * overwrite), spec-checked, not part of this query's timed path.
    */
  private def q127(s: SparkSession, d: String): DataFrame = {
    val path = s"${layoutRoot(d)}/embeddings_by_cell_incr"
    val cents = graft.model.IvfCentroids.cells
    once(s, d, "ivfcells_incr") {
      val all = Tables.embeddings(s, d)
      graft.operators.IvfLayout.writeBase(
        all.filter(col("vec_id") % 10 =!= 0), cents, path)
      graft.operators.IvfLayout.appendBatch(
        all.filter(col("vec_id") % 10 === 0), cents, path)
    }
    ivfProbeTopK(s, d, path)
  }

  val defs: Map[String, Q] = Map(
    "q96_bucketed_join" -> q96,
    "q97_partition_prune" -> q97,
    "q98_bloom_prune_join" -> q98,
    "q99_incremental_dedup" -> q99,
    "q100_range_layout" -> q100,
    "q109_zorder_layout" -> q109,
    "q126_ivf_partition_prune" -> q126,
    "q127_ivf_append" -> q127)

  val oracles: Map[String, String] = Map(
    // layout-invariance: the cell-partitioned read must produce exactly
    // the logical IVF candidate top-k (q32's replay at 3 queries)
    "q126_ivf_partition_prune" -> ExtQueries.ivfOracleSql(maxQueryId = 3),
    // append-invariance: base + appended batch must serve the SAME
    // candidate set as the from-scratch build — one oracle, two layouts
    "q127_ivf_append" -> ExtQueries.ivfOracleSql(maxQueryId = 3),
    "q96_bucketed_join" ->
      """SELECT o_orderkey, o_orderstatus, count(*) AS n_lines,
        |sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.50001) AS BIGINT)) / 100.0
        |  AS net_total
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1, 2""".stripMargin,
    "q97_partition_prune" ->
      """SELECT strftime(ts, '%Y%m%d') AS date, event_type,
        |count(*) AS n_events,
        |sum(CAST(floor(value * 100 + 0.50001) AS BIGINT)) / 100.0 AS total_value
        |FROM events
        |WHERE strftime(ts, '%Y%m%d') BETWEEN '20240105' AND '20240107'
        |GROUP BY 1, 2""".stripMargin,
    "q98_bloom_prune_join" ->
      """SELECT p_type, count(*) AS n_lines,
        |CAST(sum(l_quantity) AS BIGINT) AS total_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_size = 1
        |GROUP BY p_type""".stripMargin,
    "q99_incremental_dedup" ->
      """WITH d AS (SELECT doc_id, md5(text) AS h FROM documents),
        |batch AS (SELECT doc_id, h,
        |    row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn,
        |    min(doc_id) OVER (PARTITION BY h) AS batch_first
        |  FROM d WHERE doc_id % 10 = 0),
        |idx AS (SELECT h, min(doc_id) AS hist_id
        |  FROM d WHERE doc_id % 10 <> 0 GROUP BY h)
        |SELECT b.doc_id,
        |  CASE WHEN i.hist_id IS NOT NULL THEN 'dup_of_history'
        |       WHEN b.rn > 1 THEN 'dup_in_batch'
        |       ELSE 'kept' END AS status,
        |  coalesce(i.hist_id, CASE WHEN b.rn > 1 THEN b.batch_first END)
        |    AS dup_of
        |FROM batch b LEFT JOIN idx i ON b.h = i.h""".stripMargin,
    "q100_range_layout" ->
      """SELECT l_quantity, count(*) AS n_lines,
        |sum(CAST(floor(l_extendedprice * 100 + 0.50001) AS BIGINT)) / 100.0 AS total_price
        |FROM lineitem
        |WHERE l_extendedprice >= 900.0 AND l_extendedprice < 5000.0
        |GROUP BY l_quantity""".stripMargin,
    "q109_zorder_layout" ->
      """SELECT l_suppkey, count(*) AS n_lines,
        |sum(CAST(floor(l_quantity * 100 + 0.50001) AS BIGINT)) / 100.0 AS total_qty
        |FROM lineitem
        |WHERE l_partkey < 60 AND l_suppkey < 4
        |GROUP BY l_suppkey""".stripMargin)
}

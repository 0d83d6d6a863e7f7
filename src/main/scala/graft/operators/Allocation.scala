package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Sequential inventory allocation — the one operator in the reference
  * workload that Spark's built-in relational operators cannot express
  * (reference: data_processor.py:188-262 does it as a single-threaded
  * driver loop over `collect()`ed rows; see SURVEY.md §2.8).
  *
  * Semantics: greedy first-come-first-served with NO partial fills. Lines
  * are processed per capacity key (e.g. product_id) in a caller-supplied
  * deterministic order; a line is filled fully if the remaining capacity
  * covers its quantity, else its allocation is 0 (a "cancelled" line) and
  * its quantity remains available to later, smaller lines. That
  * release-after-cancel behaviour is why this is NOT a cumulative-sum
  * window (stock 5, requests [4,3,1] → greedy fills 4 and 1; a
  * cumsum-threshold cancels both 3 and 1's successors differently).
  *
  * Scale design (100 TB): one hash shuffle on the key, then a streaming
  * O(1)-state pass per partition. `repartition(key)` +
  * `sortWithinPartitions(key, order...)` makes each key's lines contiguous
  * and ordered inside a partition, so a single `mapPartitions` can thread
  * "remaining capacity" through each key run without materializing any
  * group in memory (unlike `groupByKey.flatMapGroups`, which buffers no
  * rows either, but cannot guarantee intra-group order without an in-group
  * sort that DOES buffer). Work per key is O(lines-of-key); parallelism is
  * across keys — inherent to the semantics. A single dominant key is the
  * only skew risk and is bounded by that key's line count, not table size.
  */
object Allocation {

  /** Greedy allocation over `lines`, which must already carry a capacity
    * column (join your capacity/dimension table first — broadcast it when
    * small). Appends `allocCol`: the filled quantity (== qtyCol) or 0.0.
    *
    * @param keyCol    capacity key; allocation is sequential within a key
    * @param qtyCol    requested quantity (numeric; null/≤0 ⇒ alloc 0)
    * @param capCol    capacity available for the key (same value on every
    *                  row of the key; read once at the start of each run)
    * @param orderCols total order of lines within a key — must be
    *                  deterministic (include a tiebreaker column)
    * @param slots     explicit placement of the keys over the fold's
    *                  partitions (see [[SortedGroupFold.appendColumn]]);
    *                  a hash of the key when `None`
    */
  def greedy(
      lines: DataFrame,
      keyCol: String,
      qtyCol: String,
      capCol: String,
      orderCols: Seq[String],
      allocCol: String = "alloc_qty",
      slots: Option[(Int, Column)] = None): DataFrame = {

    val qi = lines.schema.fieldIndex(qtyCol)
    val ci = lines.schema.fieldIndex(capCol)
    SortedGroupFold.appendColumn(lines, keyCol, orderCols, allocCol, DoubleType, slots) {
      () => new SortedGroupFold.Fold {
        // O(1) state: the current key's remaining capacity
        private var remaining = 0.0
        override def start(r: Row): Unit =
          remaining =
            if (r.isNullAt(ci)) 0.0 else r.get(ci).asInstanceOf[Number].doubleValue()
        override def next(r: Row): Any = {
          val qty =
            if (r.isNullAt(qi)) 0.0 else r.get(qi).asInstanceOf[Number].doubleValue()
          if (qty > 0 && qty <= remaining) { remaining -= qty; qty } else 0.0
        }
      }
    }
  }

  /** Cumulative-sum window variant: fills a line iff the running total of
    * ALL requested quantities so far (cancelled or not) fits the capacity.
    * Fully relational (one window), stays in whole-stage codegen, and is a
    * valid fast path when no release-after-cancel case can occur — but it
    * is NOT greedy (see object doc). Kept as the benchmark/fallback.
    */
  def cumulativeThreshold(
      lines: DataFrame,
      keyCol: String,
      qtyCol: String,
      capCol: String,
      orderCols: Seq[String],
      allocCol: String = "alloc_qty"): DataFrame = {
    // ROWS frame, not the default RANGE: with ties in orderCols RANGE would
    // give all tie-peers the same cumulative sum, diverging from the
    // sequential semantics (and from the oracle's explicit ROWS frame).
    val w = Window.partitionBy(col(keyCol)).orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lines
      .withColumn("__cum", sum(col(qtyCol)).over(w))
      .withColumn(
        allocCol,
        when(col("__cum") <= col(capCol), col(qtyCol).cast(DoubleType))
          .otherwise(lit(0.0)))
      .drop("__cum")
  }

  /** Remaining capacity per key after a greedy pass: capacity − Σ filled.
    * Keys with no lines keep their original capacity (left join +
    * coalesce — the reference's J2/P6 "writeback merge").
    */
  def remainingCapacity(
      capacities: DataFrame,
      allocated: DataFrame,
      keyCol: String,
      capCol: String,
      allocCol: String = "alloc_qty",
      outCol: String = "remaining_cap"): DataFrame = {
    val used = allocated
      .groupBy(col(keyCol))
      .agg(sum(col(allocCol)).as("__used"))
    capacities
      .join(used, Seq(keyCol), "left")
      .withColumn(outCol, col(capCol) - coalesce(col("__used"), lit(0.0)))
      .drop("__used")
  }
}

package graft.etl

import graft.model.CandyModel.Money
import graft.operators.Allocation
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

/** Pure DataFrame→DataFrame stages of the candy-store pipeline
  * (SURVEY.md §2.2–§2.6, §2.8; reference entry points EP1–EP3).
  *
  * Differences from the reference, by design:
  *  - allocation is the distributed greedy pass ([[Allocation.greedy]]),
  *    not a driver loop over `collect()` (reference data_processor.py:188-262);
  *  - the day-by-day inventory-writeback join chain (one extra join per
  *    day, reference data_processor.py:250-259) is gone — remaining stock
  *    is derived relationally from the allocation output in one step;
  *  - each line carries its transaction timestamp through the pipeline, so
  *    the reference's re-scan of every transaction day in EP2
  *    (data_processor.py:310-313) and its J5 date re-attach join
  *    (data_processor.py:412-414) are unnecessary;
  *  - money is DECIMAL(10,2) (see [[graft.model.CandyModel]]);
  *  - dates render `yyyy-MM-dd` (golden form), not the reference's
  *    `yyyy-M-dd` format bug (data_processor.py:426-428).
  */
object CandyEtl {

  // The four report frames below are single-file CSVs, written by one
  // task (SingleFileCsvSink's coalesce(1)). Each ends in
  // `repartition(1).sortWithinPartitions(<keys>)`: the frame comes back
  // totally ordered, its sort runs in that one task, and there is no
  // range-partition sampling job, which an `orderBy` would add before the
  // coalesce collapsed its sort into one task anyway.

  /** Explode transactions into priced order lines (P1/P2/P4 + J1).
    *
    * `posexplode` (not `explode_outer`) both flattens and numbers each
    * item within its transaction; transactions with empty/null `items`
    * drop out, and null-qty lines are filtered before allocation —
    * exactly the reference's semantics (data_processor.py:122-132,179).
    * The products dimension is tiny → explicit broadcast join.
    */
  def pricedLines(transactions: DataFrame, products: DataFrame): DataFrame = {
    val lines = transactions
      .select(
        col("transaction_id").as("order_id"),
        col("customer_id"),
        col("timestamp"),
        col("day_idx"),
        col("tx_seq"),
        posexplode(col("items")).as(Seq("item_pos", "item")))
      .select(
        col("order_id"),
        col("customer_id"),
        col("timestamp"),
        col("day_idx"),
        col("tx_seq"),
        col("item_pos"),
        col("item.product_id").as("product_id"),
        col("item.qty").as("qty"))
      .filter(col("qty").isNotNull)
    lines.join(
      broadcast(products.select("product_id", "sales_price", "cost_to_make", "stock")),
      Seq("product_id"),
      "inner")
  }

  /** Greedy inventory allocation (§2.8): fill-or-cancel per product in
    * (day, transaction, item) order; cancelled lines keep quantity 0 and
    * line_total 0.00 and stay in every downstream aggregate.
    *
    * `reloadDaily = true` implements the reference's parsed-but-ignored
    * `RELOAD_INVENTORY_DAILY` flag (reference data_processor.py:54-60 —
    * dead config there): each day allocates against the FULL dimension
    * stock instead of carrying remaining stock across days, expressed as
    * a composite (product, day) allocation key — still one shuffle.
    */
  def allocate(priced: DataFrame, reloadDaily: Boolean = false): DataFrame = {
    val (input, key) =
      if (reloadDaily)
        (priced.withColumn(
          "__alloc_key", concat_ws("#", col("product_id"), col("day_idx"))),
          "__alloc_key")
      else (priced, "product_id")
    Allocation
      .greedy(
        input,
        keyCol = key,
        qtyCol = "qty",
        capCol = "stock",
        orderCols = Seq("day_idx", "tx_seq", "item_pos"))
      .withColumn("quantity", col("alloc_qty").cast(IntegerType))
      .withColumn(
        "line_total",
        round(col("quantity") * col("sales_price"), 2).cast(Money))
      .drop("alloc_qty", "__alloc_key")
  }

  /** `order_line_items` report frame (golden shape, O1): one partition,
    * sorted by (order_id, product_id).
    */
  def orderLineItems(allocated: DataFrame): DataFrame =
    allocated
      .select(
        col("order_id"),
        col("product_id"),
        col("quantity"),
        col("sales_price").as("unit_price"),
        col("line_total"))
      .repartition(1)
      .sortWithinPartitions("order_id", "product_id")

  /** `products_updated` report frame: every product, stock minus what the
    * allocation filled (left join + coalesce ≙ reference J2/P6 writeback);
    * one partition, sorted by product_id.
    */
  def productsUpdated(products: DataFrame, allocated: DataFrame): DataFrame =
    Allocation
      .remainingCapacity(
        products.select("product_id", "product_name", "stock"),
        allocated.select(
          col("product_id"),
          col("quantity").cast("double").as("alloc_qty")),
        keyCol = "product_id",
        capCol = "stock",
        outCol = "current_stock")
      .select(
        col("product_id"),
        col("product_name"),
        col("current_stock").cast(IntegerType).as("current_stock"))
      .repartition(1)
      .sortWithinPartitions("product_id")

  /** `orders` report frame (A1 + D1 + J3): per-order totals joined to the
    * deduped transaction headers. `num_items` counts cancelled lines (the
    * golden orders.csv does); transactions whose every line was null-qty
    * vanish via the inner join — also golden behaviour. One partition,
    * sorted by order_id.
    */
  def orders(transactions: DataFrame, allocated: DataFrame): DataFrame = {
    val headers = transactions
      .select(
        col("transaction_id").as("order_id"),
        col("timestamp").as("order_datetime"),
        col("customer_id"))
      .dropDuplicates("order_id")
    val summary = allocated
      .groupBy("order_id")
      .agg(
        round(sum("line_total"), 2).cast(Money).as("total_amount"),
        count(lit(1)).as("num_items"))
    summary
      .join(headers, Seq("order_id"), "inner")
      .select("order_id", "order_datetime", "customer_id", "total_amount", "num_items")
      .repartition(1)
      .sortWithinPartitions("order_id")
  }

  /** `daily_summary` report frame (A2 + P7 + A3 + J6), date as DateType;
    * render with [[formatDailySummary]] when writing CSV. One partition,
    * sorted by date. A caller that also writes `orders` should pass it
    * persisted, or `orders` is computed twice.
    */
  def dailySummary(orders: DataFrame, allocated: DataFrame): DataFrame = {
    val daily = orders
      .withColumn("date", to_date(col("order_datetime")))
      .groupBy("date")
      .agg(
        count("order_id").as("num_orders"),
        round(sum("total_amount"), 2).cast(Money).as("total_sales"))
    val dailyProfit = allocated
      .withColumn(
        "line_profit",
        col("line_total") - col("quantity") * col("cost_to_make"))
      .withColumn("date", to_date(col("timestamp")))
      .groupBy("date")
      .agg(round(sum("line_profit"), 2).cast(Money).as("total_profit"))
    daily
      .join(dailyProfit, Seq("date"), "inner")
      .repartition(1)
      .sortWithinPartitions("date")
  }

  /** Golden rendering: `yyyy-MM-dd` (fixes the reference's `yyyy-M-dd`). */
  def formatDailySummary(dailySummary: DataFrame): DataFrame =
    dailySummary.withColumn("date", date_format(col("date"), "yyyy-MM-dd"))
}

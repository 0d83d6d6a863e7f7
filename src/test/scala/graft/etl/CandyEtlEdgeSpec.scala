package graft.etl

import graft.SparkTestBase
import graft.model.CandyModel
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** FIXTURES.md §A1 edge cases, exercised directly on the etl stages:
  * all-null-qty transactions vanish from orders; duplicate product_id
  * within one transaction allocates sequentially; unknown product_id is
  * dropped by the inner dimension join; cancelled lines count in
  * num_items but contribute 0.00.
  */
class CandyEtlEdgeSpec extends AnyFunSuite with SparkTestBase {
  import scala.jdk.CollectionConverters._

  private def tx(id: Int, items: Seq[(Int, Integer)]): Row =
    Row(id, 1, s"2024-02-01T00:00:0$id.000000",
      items.map { case (p, q) => Row(p, s"P$p", q) })

  private lazy val transactions = {
    val rows = Seq(
      tx(1, Seq((10, 2), (10, 3))),            // duplicate product in one tx
      tx(2, Seq((10, null.asInstanceOf[Integer]))), // all lines null-qty → vanishes
      tx(3, Seq((99, 1), (10, 1))),            // 99 = unknown product
      tx(4, Seq((20, 5)))                       // demand > stock → cancelled
    ).asJava
    spark.createDataFrame(rows, CandyModel.transactionSchema)
      .withColumn("tx_seq", monotonically_increasing_id())
      .withColumn("day_idx", lit(0L))
  }

  private lazy val products = {
    val rows = Seq(
      Row(10, "P10", "c", "s", "sh",
        new java.math.BigDecimal("2.00"), new java.math.BigDecimal("1.00"), 4),
      Row(20, "P20", "c", "s", "sh",
        new java.math.BigDecimal("3.00"), new java.math.BigDecimal("1.50"), 4)
    ).asJava
    spark.createDataFrame(rows, CandyModel.productSchema)
  }

  private lazy val allocated = CandyEtl.allocate(CandyEtl.pricedLines(transactions, products))

  test("null-qty lines and unknown products never reach allocation") {
    val lines = allocated.select("order_id", "product_id").collect()
      .map(r => (r.getInt(0), r.getInt(1)))
    assert(!lines.contains((2, 10)))   // null qty filtered
    assert(!lines.exists(_._2 == 99))  // unknown product dropped by inner join
  }

  test("duplicate product within a transaction allocates sequentially") {
    // stock 4: tx1 wants 2 then 3 → 2 fills, 3 cancels; then tx3 wants 1 → fills
    val q = allocated.filter(col("product_id") === 10)
      .select("order_id", "qty", "quantity").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).sortBy(x => (x._1, x._2))
    assert(q.toSeq == Seq((1, 2, 2), (1, 3, 0), (3, 1, 1)))
  }

  test("orders: all-null transaction vanishes; num_items counts cancelled lines") {
    val orders = CandyEtl.orders(transactions, allocated)
      .select("order_id", "num_items", "total_amount").collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getDecimal(2).toString))).toMap
    assert(!orders.contains(2))                 // vanished
    assert(orders(1) == ((2L, "4.00")))         // 2 lines (one cancelled), 2×2.00
    assert(orders(3) == ((1L, "2.00")))         // unknown-product line gone
    assert(orders(4) == ((1L, "0.00")))         // fully cancelled, still present
  }

  test("orders: the one-argument form over the order totals is the five report columns") {
    val viaTotals = CandyEtl.orders(CandyEtl.orderTotals(allocated))
    assert(viaTotals.columns.toSeq ==
      Seq("order_id", "order_datetime", "customer_id", "total_amount", "num_items"))
    assert(viaTotals.collect().toSeq == CandyEtl.orders(transactions, allocated).collect().toSeq)
  }

  /** Two days: day one repeats product 10 in one order and cancels its
    * second line; day two cancels a line of product 20 and fills one of
    * product 10; transaction 13 is all null-qty.
    */
  private def twoDayAllocated(reloadDaily: Boolean) = {
    def dayTx(id: Int, day: Int, items: Seq[(Int, Integer)]): Row =
      Row(id, 1, f"2024-02-$day%02dT0$day:00:00.000000",
        items.map { case (p, q) => Row(p, s"P$p", q) })
    val rows = Seq(
      dayTx(11, 1, Seq((10, 3), (10, 2), (20, 1))),
      dayTx(12, 1, Seq((20, 2))),
      dayTx(13, 1, Seq((10, null.asInstanceOf[Integer]))),
      dayTx(21, 2, Seq((20, 4), (10, 1)))
    ).asJava
    val tx = spark.createDataFrame(rows, CandyModel.transactionSchema)
      .withColumn("tx_seq", monotonically_increasing_id())
      .withColumn("day_idx", unix_date(to_date(col("timestamp"))).cast("long"))
    CandyEtl.allocate(CandyEtl.pricedLines(tx, products), reloadDaily)
  }

  for (reload <- Seq(false, true)) {
    test(s"daily total_profit from the order totals equals the per-day line sum (reload=$reload)") {
      val allocated = twoDayAllocated(reload)
      assert(allocated.filter(col("quantity") === 0).count() > 0, "fixture cancels no line")
      val daily = CandyEtl.dailySummary(CandyEtl.orderTotals(allocated))
        .collect().map(r => r.getDate(0).toString -> r.getDecimal(3)).toMap
      val lineLevel = allocated
        .groupBy(to_date(col("timestamp")).as("date"))
        .agg(round(sum(col("line_total") - col("quantity") * col("cost_to_make")), 2)
          .cast(CandyModel.Money))
        .collect().map(r => r.getDate(0).toString -> r.getDecimal(1)).toMap
      assert(daily == lineLevel)
      // day one: tx 11 fills 3 of product 10 (profit 3.00) and cancels 2 > 1 left;
      // product 20 fills 1 (1.50), then tx 12 fills 2 more (3.00)
      assert(daily("2024-02-01").toString == "7.50")
      // day two: product 20 wants 4 > 1 left and cancels unless stock reloads
      // (4 × 1.50 = 6.00); product 10 has 1 left (1.00), or 4 after a reload
      assert(daily("2024-02-02").toString == (if (reload) "7.00" else "1.00"))
    }

    test(s"orders and daily_summary: the all-null transaction vanishes (reload=$reload)") {
      val totals = CandyEtl.orderTotals(twoDayAllocated(reload))
      val orders = CandyEtl.orders(totals).collect()
        .map(r => r.getInt(0) -> r.getLong(4)).toMap
      assert(orders == Map(11 -> 3L, 12 -> 1L, 21 -> 2L))
      val numOrders = CandyEtl.dailySummary(totals).collect()
        .map(r => r.getDate(0).toString -> r.getLong(1)).toMap
      assert(numOrders == Map("2024-02-01" -> 2L, "2024-02-02" -> 1L))
    }
  }

  test("products_updated: unordered products keep stock; partial fills never happen") {
    val stock = CandyEtl.productsUpdated(products, allocated)
      .collect().map(r => r.getInt(0) -> r.getInt(2)).toMap
    assert(stock(10) == 4 - 2 - 1) // filled 2 (tx1) + 1 (tx3)
    assert(stock(20) == 4)         // demand 5 > 4 cancelled entirely — no partial
  }

  for (reload <- Seq(false, true)) {
    test(s"allocate folds product p in partition p mod cores (reload=$reload)") {
      val ids = 1 to 12
      val tx = spark.createDataFrame(Seq(Row(1, 1, "2024-02-01T00:00:01.000000",
          ids.map(p => Row(p, s"P$p", 1: Integer)))).asJava, CandyModel.transactionSchema)
        .withColumn("tx_seq", monotonically_increasing_id())
        .withColumn("day_idx", lit(0L))
      val dims = spark.createDataFrame(ids.map(p => Row(p, s"P$p", "c", "s", "sh",
          new java.math.BigDecimal("1.00"), new java.math.BigDecimal("0.50"), 1)).asJava,
        CandyModel.productSchema)
      val cores = spark.sparkContext.defaultParallelism
      val placed = CandyEtl.allocate(CandyEtl.pricedLines(tx, dims), reload)
        .select(col("product_id"), spark_partition_id()).collect()
        .map(r => r.getInt(0) -> r.getInt(1)).toMap
      assert(placed == ids.map(p => p -> p % cores).toMap)
    }
  }
}

package graft.pipeline

import graft.SparkTestBase
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path}
import java.time.LocalDate
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** `CandyPipeline.run()` end to end over a fixture small enough to check
  * by hand: two days, a product repeated in one transaction, a null-qty
  * line, an all-null transaction, and stock that cancels a line of
  * product 1 and then fills a later, smaller one (release after cancel).
  */
class CandyPipelineSpec extends AnyFunSuite with SparkTestBase {

  private def item(product: Int, qty: Option[Int]): String =
    s"""{"product_id":$product,"product_name":"P$product","qty":${qty.getOrElse("null")}}"""

  private def tx(id: Int, customer: Int, ts: String, items: String*): String =
    s"""{"transaction_id":$id,"customer_id":$customer,"timestamp":"$ts",""" +
      s""""items":[${items.mkString(",")}]}"""

  private lazy val dataDir: Path = {
    val d = Files.createTempDirectory("candy_fixture")
    d.toFile.deleteOnExit()
    Files.writeString(d.resolve("products.csv"),
      """product_id,product_name,product_category,product_subcategory,product_shape,sales_price,cost_to_make,stock
        |1,Sour Gummy Bears,Gummy,Gummies,Bears,2.50,1.00,5
        |2,Dipped Choc Sticks,Chocolate,Dipped,Sticks,1.25,0.50,11
        |3,Tape Ribbons,Tape,Hard Candy,Ribbons,4.00,3.00,2
        |""".stripMargin)
    Files.writeString(d.resolve("transactions_20240301.json"), Seq(
      // product 1 twice: 3 then 1 fill (stock 5 -> 1)
      tx(101, 7, "2024-03-01T09:15:00.123456", item(1, Some(3)), item(2, Some(4)), item(1, Some(1))),
      // every line null-qty: the order vanishes
      tx(102, 8, "2024-03-01T10:00:00.000001", item(2, None)),
      // 2 > 1 left: cancelled; the null-qty line is dropped
      tx(103, 7, "2024-03-01T18:30:00.500000", item(1, Some(2)), item(2, None))
    ).mkString("[\n", ",\n", "\n]\n"))
    Files.writeString(d.resolve("transactions_20240302.json"), Seq(
      // after the cancel, 1 <= 1 left fills (release after cancel)
      tx(201, 9, "2024-03-02T08:00:00.000000", item(1, Some(1)), item(2, Some(6))),
      // 2 > 1 left of product 2: cancelled
      tx(202, 8, "2024-03-02T12:45:30.250000", item(2, Some(2)))
    ).mkString("[\n", ",\n", "\n]\n"))
    d
  }

  private lazy val outDir: Path = {
    val d = Files.createTempDirectory("candy_out")
    d.toFile.deleteOnExit()
    d
  }

  /** Listener events in bus order, from just before the run to a sentinel
    * job started after it.
    */
  private val events = ArrayBuffer.empty[SparkListenerEvent]
  private val sentinelGroup = "candy-pipeline-spec-sentinel"

  private lazy val result = {
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = events.synchronized(events += e)
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart | _: SparkListenerSQLExecutionEnd =>
          events.synchronized(events += e)
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = new CandyPipeline(spark, dataDir.toString, outDir.toString,
        LocalDate.of(2024, 3, 1), LocalDate.of(2024, 3, 2)).run()
      runSentinel(events)
      r
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Run the sentinel job and wait until `seen` holds its start. The bus
    * delivers in order: once the sentinel job is seen, every event posted
    * before it has been seen too.
    */
  private def runSentinel(seen: ArrayBuffer[_ <: SparkListenerEvent]): Unit = {
    spark.sparkContext.setJobGroup(sentinelGroup, "sentinel")
    try spark.sparkContext.parallelize(Seq(1), 1).count()
    finally spark.sparkContext.clearJobGroup()
    val deadline = System.nanoTime() + 30000000000L
    while (!seen.synchronized(seen.exists(isSentinel)) && System.nanoTime() < deadline)
      Thread.sleep(10)
  }

  private def isSentinel(e: SparkListenerEvent): Boolean = e match {
    case j: SparkListenerJobStart =>
      j.properties != null && j.properties.getProperty("spark.jobGroup.id") == sentinelGroup
    case _ => false
  }

  private def report(name: String): Seq[String] = {
    result
    Files.readAllLines(outDir.resolve(name)).asScala.toSeq
  }

  test("order_line_items.csv: the repeated product in write order, cancels at quantity 0") {
    assert(report("order_line_items.csv") == Seq(
      "order_id,product_id,quantity,unit_price,line_total",
      "101,1,3,2.50,7.50",
      "101,1,1,2.50,2.50",
      "101,2,4,1.25,5.00",
      "103,1,0,2.50,0.00",
      "201,1,1,2.50,2.50",
      "201,2,6,1.25,7.50",
      "202,2,0,1.25,0.00"))
  }

  test("products_updated.csv: filled quantities taken off, unordered stock kept") {
    assert(report("products_updated.csv") == Seq(
      "product_id,product_name,current_stock",
      "1,Sour Gummy Bears,0",
      "2,Dipped Choc Sticks,1",
      "3,Tape Ribbons,2"))
  }

  test("orders.csv: all-null order gone, cancelled lines counted at 0.00") {
    assert(report("orders.csv") == Seq(
      "order_id,order_datetime,customer_id,total_amount,num_items",
      "101,2024-03-01T09:15:00.123456,7,15.00,3",
      "103,2024-03-01T18:30:00.500000,7,0.00,1",
      "201,2024-03-02T08:00:00.000000,9,10.00,2",
      "202,2024-03-02T12:45:30.250000,8,0.00,1"))
  }

  test("daily_summary.csv and the two-day linear forecast") {
    assert(report("daily_summary.csv") == Seq(
      "date,num_orders,total_sales,total_profit",
      "2024-03-01,2,15.00,9.00",
      "2024-03-02,2,10.00,6.00"))
    // two points fit a straight line: 15, 10 -> 5 and 9, 6 -> 3
    assert(report("sales_profit_forecast.csv") == Seq(
      "date,forecasted_sales,forecasted_profit",
      "2024-03-03,5.00,3.00"))
  }

  test("row and cancel counts come from the writes") {
    assert(result.rowsWritten.toSeq == Seq(
      "order_line_items" -> 7L, "products_updated" -> 3L, "orders" -> 4L,
      "daily_summary" -> 2L, "sales_profit_forecast" -> 1L))
    assert(result.cancelledLines == 2L)
  }

  test("no Spark job starts after the last report is written") {
    result
    val seen = events.synchronized(events.toList)
    val sentinel = seen.indexWhere(isSentinel)
    assert(sentinel >= 0, "sentinel job never reached the listener")
    val forecastWrites = seen.collect {
      case s: SparkListenerSQLExecutionStart
          if s.physicalPlanDescription.contains(".__tmp_sales_profit_forecast.csv") =>
        s.executionId
    }.toSet
    assert(forecastWrites.nonEmpty, "no SQL execution wrote the forecast")
    val lastWriteEnd = seen.lastIndexWhere {
      case e: SparkListenerSQLExecutionEnd => forecastWrites(e.executionId)
      case _ => false
    }
    assert(lastWriteEnd >= 0 && lastWriteEnd < sentinel)
    val after = seen.slice(lastWriteEnd + 1, sentinel).collect { case j: SparkListenerJobStart => j.jobId }
    assert(after.isEmpty, s"jobs $after started after the forecast write")
  }

  test("inverted date range: fails before any Spark job, names both dates") {
    val jobs = ArrayBuffer.empty[SparkListenerJobStart]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized(jobs += e)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = Files.createTempDirectory("candy_inverted")
      out.toFile.deleteOnExit()
      val e = intercept[IllegalArgumentException] {
        new CandyPipeline(spark, dataDir.toString, out.toString,
          LocalDate.of(2024, 3, 2), LocalDate.of(2024, 3, 1)).run()
      }
      assert(e.getMessage.contains("2024-03-02") && e.getMessage.contains("2024-03-01"))
      runSentinel(jobs)
      val seen = jobs.synchronized(jobs.toList)
      assert(seen.exists(isSentinel), "sentinel job never reached the listener")
      assert(seen.forall(isSentinel), s"jobs ${seen.map(_.jobId)} started before the failure")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}

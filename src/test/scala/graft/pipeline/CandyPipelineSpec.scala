package graft.pipeline

import graft.SparkTestBase
import graft.model.CandyModel
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.scalatest.funsuite.AnyFunSuite

import java.io.IOException
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

  /** Records job starts and ends and every SQL execution's plans. */
  private def recorder(seen: ArrayBuffer[SparkListenerEvent]): SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = seen.synchronized(seen += e)
    override def onJobEnd(e: SparkListenerJobEnd): Unit = seen.synchronized(seen += e)
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case _: SparkListenerSQLExecutionStart | _: SparkListenerSQLExecutionEnd |
          _: SparkListenerSQLAdaptiveExecutionUpdate =>
        seen.synchronized(seen += e)
      case _ =>
    }
  }

  private lazy val result = {
    val listener = recorder(events)
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = new CandyPipeline(spark, dataDir.toString, outDir.toString,
        LocalDate.of(2024, 3, 1), LocalDate.of(2024, 3, 2)).run()
      runSentinel(events)
      r
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** The run's events up to the sentinel, which must have been seen. */
  private def runEvents: List[SparkListenerEvent] = {
    result
    val seen = events.synchronized(events.toList)
    val sentinel = seen.indexWhere(isSentinel)
    assert(sentinel >= 0, "sentinel job never reached the listener")
    seen.take(sentinel)
  }

  /** Every physical plan an execution showed: the initial one and each
    * adaptive re-plan, by execution id.
    */
  private def plans(seen: Seq[SparkListenerEvent]): Seq[(Long, String)] = seen.collect {
    case s: SparkListenerSQLExecutionStart => s.executionId -> s.physicalPlanDescription
    case u: SparkListenerSQLAdaptiveExecutionUpdate => u.executionId -> u.physicalPlanDescription
  }

  private val reportNames = Seq(
    "order_line_items", "products_updated", "orders", "daily_summary", "sales_profit_forecast")

  /** The SQL executions that wrote each report, by report name. */
  private def reportWrites(seen: Seq[SparkListenerEvent]): Map[String, Set[Long]] =
    reportNames.map { name =>
      name -> seen.collect {
        case s: SparkListenerSQLExecutionStart
            if s.physicalPlanDescription.contains(s".__tmp_$name.csv") => s.executionId
      }.toSet
    }.toMap

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
    val seen = runEvents
    val writes = reportWrites(seen)
    writes.foreach { case (name, ids) => assert(ids.nonEmpty, s"no SQL execution wrote $name") }
    val allWrites = writes.values.flatten.toSet
    val lastWriteEnd = seen.lastIndexWhere {
      case e: SparkListenerSQLExecutionEnd => allWrites(e.executionId)
      case _ => false
    }
    assert(lastWriteEnd >= 0, "no report write ended before the sentinel")
    val after = seen.drop(lastWriteEnd + 1).collect { case j: SparkListenerJobStart => j.jobId }
    assert(after.isEmpty, s"jobs $after started after the last report write")
  }

  test("a run starts at most 18 Spark jobs") {
    // 18 measured with the four write branches concurrent: each query that
    // starts while a shared cache is unbuilt submits its own job for that
    // cache stage (15 when the branches run one after another). 23 with
    // the transactions persisted, the header join and a repartition(1)
    // per report.
    val jobs = runEvents.collect { case j: SparkListenerJobStart => j.jobId }
    assert(jobs.size <= 18, s"${jobs.size} jobs: $jobs")
  }

  test("no report write plans an Exchange SinglePartition") {
    val seen = runEvents
    val writes = reportWrites(seen).values.flatten.toSet
    // the simple plan string and the formatted one, which puts each
    // node's arguments on a line of their own
    val exchange = """Exchange SinglePartition|\(\d+\) Exchange\nInput \[.*\]\nArguments: SinglePartition""".r
    val single = plans(seen).collect {
      case (id, plan) if writes(id) && exchange.findFirstIn(plan).isDefined => id
    }.distinct
    assert(single.isEmpty, s"executions $single plan a SinglePartition exchange")
  }

  test("no plan persists the transactions") {
    // an InMemoryRelation's output list, in the simple or the formatted
    // plan string
    val relation = """InMemoryRelation(?:\nArguments:)? \[([^\]]*)\]""".r
    val txColumns = CandyModel.transactionSchema.fieldNames.map(_ + "#")
    val overTx = plans(runEvents).collect {
      case (id, plan) if relation.findAllMatchIn(plan)
          .exists(m => txColumns.forall(m.group(1).contains)) => id
    }.distinct
    assert(overTx.isEmpty, s"executions $overTx hold an InMemoryRelation over the transactions")
  }

  test("a failed write cancels or awaits the others; no job outlives run()") {
    val out = Files.createTempDirectory("candy_failing")
    out.toFile.deleteOnExit()
    // a non-empty directory where orders.csv must go: its write job
    // succeeds, then replacing the target fails on the driver
    Files.createDirectories(out.resolve("orders.csv"))
    Files.writeString(out.resolve("orders.csv").resolve("keep"), "x")
    val seen = ArrayBuffer.empty[SparkListenerEvent]
    val listener = recorder(seen)
    spark.sparkContext.addSparkListener(listener)
    try {
      val e = intercept[IOException] {
        new CandyPipeline(spark, dataDir.toString, out.toString,
          LocalDate.of(2024, 3, 1), LocalDate.of(2024, 3, 2)).run()
      }
      assert(e.getMessage.contains(out.resolve("orders.csv").toString), e.getMessage)
      runSentinel(seen)
    } finally spark.sparkContext.removeSparkListener(listener)
    val all = seen.synchronized(seen.toList)
    val sentinel = all.indexWhere(isSentinel)
    assert(sentinel >= 0, "sentinel job never reached the listener")
    val started = all.take(sentinel).collect { case j: SparkListenerJobStart => j.jobId }
    val ended = all.take(sentinel).collect { case j: SparkListenerJobEnd => j.jobId }.toSet
    assert(started.nonEmpty, "the run started no job")
    assert(started.forall(ended), s"jobs ${started.filterNot(ended)} outlived run()")
    val later = all.drop(sentinel + 1).collect { case j: SparkListenerJobStart => j.jobId }
    assert(later.isEmpty, s"jobs $later started after run() returned")
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

  test("every stage runs at most shuffle.partitions tasks when shuffles start 8× wide") {
    // GraftSession's shuffle start width (8× the 4 shuffle partitions)
    // and its cache conf (GraftSessionSpec pins the value): persisted
    // frames must coalesce like any other shuffle, or the allocation's
    // stages run 32 tasks on a few KB
    val wide = spark.newSession()
    wide.conf.set("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "32")
    wide.conf.set("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    val maxTasks = wide.conf.get("spark.sql.shuffle.partitions").toInt
    val want = result.rowsWritten
    val seen = ArrayBuffer.empty[SparkListenerEvent]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = seen.synchronized(seen += e)
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        seen.synchronized(seen += e)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = Files.createTempDirectory("candy_wide")
      out.toFile.deleteOnExit()
      val r = new CandyPipeline(wide, dataDir.toString, out.toString,
        LocalDate.of(2024, 3, 1), LocalDate.of(2024, 3, 2)).run()
      assert(r.rowsWritten == want)
      runSentinel(seen)
    } finally spark.sparkContext.removeSparkListener(listener)
    val stages = seen.synchronized(seen.toList).collect { case s: SparkListenerStageSubmitted => s.stageInfo }
    assert(stages.nonEmpty, "no stage reached the listener")
    val wideStages = stages.filter(_.numTasks > maxTasks).map(s => s"${s.stageId}:${s.name}=${s.numTasks}")
    assert(wideStages.isEmpty, s"stages over $maxTasks tasks: $wideStages")
  }
}

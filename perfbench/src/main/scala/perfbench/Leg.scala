package perfbench

import graft.etl.CandyEtl
import graft.pipeline.{CandyPipeline, CandyRun}
import graft.sinks.SingleFileCsvSink
import graft.sources.CandySources
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.{BenchHarness, GraftSession, SparkEntry}
import org.apache.spark.ListenerBusAccess
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.time.LocalDate
import java.time.format.DateTimeFormatter
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One benchmark process ("leg"): set up, run operations back to back until
  * the time budget is spent, check every output, write a JSON record.
  *
  * Usage: Leg key=value ...
  *   mode=candy|queries  data=<inputs>  work=<scratch dir>  record=<file>
  *   seconds=<budget>  min_ops=<n>  trace=0|1  cpus=<n>
  *   candy:   expected=<expected reports>  start=<yyyyMMdd>  end=<yyyyMMdd>
  *   queries: queries=<comma-separated SparkEntry query names>
  *
  * Set-up is JVM start, session creation and one untimed warm-up operation;
  * `setup_s` in the record is the JVM uptime when the first timed operation
  * starts. The timed loop runs until the budget is spent and at least
  * `min_ops` operations have run. With trace=1 they alternate between the
  * plain operation and a traced one that calls each layer's public
  * functions in turn and records a span per call.
  */
object Leg {
  private val t0Ms = System.currentTimeMillis()
  private def nowS: Double = (System.currentTimeMillis() - t0Ms) / 1e3
  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  final case class Span(run: Int, id: Int, name: String, parent: Int, start: Double, end: Double) {
    def secs: Double = end - start
    /** The span as epoch milliseconds, the listener's clock. */
    def fromMs: Long = t0Ms + math.round(start * 1e3)
    def toMs: Long = t0Ms + math.round(end * 1e3)
    def toMap: Map[String, Any] = Map(
      "run" -> run, "id" -> id, "name" -> name, "parent" -> parent,
      "start_s" -> start, "end_s" -> end)
  }

  /** Spans of one traced operation; kept in memory, written with the record. */
  final class Tracer(run: Int) {
    val spans = ArrayBuffer.empty[Span]
    private var open = List(-1)

    def apply[T](name: String)(body: => T): T = {
      val id = spans.size
      spans += Span(run, id, name, open.head, nowS, Double.NaN)
      open = id :: open
      try body
      finally {
        open = open.tail
        spans(id) = spans(id).copy(end = nowS)
      }
    }

    def add(name: String, parent: Int, start: Double, end: Double): Unit =
      spans += Span(run, spans.size, name, parent, start, end)

    def secs(name: String): Double = spans.filter(_.name == name).map(_.secs).sum
    def last(name: String): Span = spans.filter(_.name == name).last
  }

  /** What one operation left behind. */
  final case class Op(
      traced: Boolean, wallS: Double, cpuS: Double, error: Option[String],
      spark: Map[String, Double], layers: Map[String, Double], spans: Seq[Span]) {
    def toMap: Map[String, Any] = Map(
      "traced" -> traced, "wall_s" -> wallS, "cpu_s" -> cpuS, "ok" -> error.isEmpty,
      "error" -> error, "spark" -> spark, "layers" -> layers)
  }

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val Array(k, v) = a.split("=", 2); k -> v }.toMap
    val seconds = opt("seconds").toDouble
    val minOps = opt("min_ops").toInt
    val trace = opt("trace") == "1"
    val cpus = opt("cpus").toInt
    val work = Paths.get(opt("work"))
    val workload: Workload = opt("mode") match {
      case "candy" => new Candy(opt("data"), work, Paths.get(opt("expected")),
        LocalDate.parse(opt("start"), DateTimeFormatter.BASIC_ISO_DATE),
        LocalDate.parse(opt("end"), DateTimeFormatter.BASIC_ISO_DATE), cpus)
      case "queries" => new Queries(opt("data"), work, opt("queries").split(",").toSeq, cpus)
    }

    val warmup = measure(traced = false, run = 0)(_ => workload.warmup())
    val setupS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val ops = ArrayBuffer.empty[Op]
    val start = nowS
    while (ops.size < minOps || nowS - start < seconds) {
      val traced = trace && ops.size % 2 == 1
      workload.prepare()
      val o = measure(traced, ops.size + 1)(t => workload.op(Option.when(traced)(t)))
      ops += o.copy(error = o.error.orElse(workload.check()))
    }
    val windowS = nowS - start
    val checks = workload.finish()

    val record = Map(
      "setup_s" -> setupS,
      "window_s" -> windowS,
      "peak_rss_mb" -> peakRssMb,
      "warmup" -> warmup.toMap,
      "ops" -> ops.map(_.toMap),
      "spans" -> ops.flatMap(_.spans).map(_.toMap),
      "checks" -> checks)
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(Paths.get(opt("record")).toFile, record)
  }

  // wall and CPU time spent in `untimed` blocks of the current operation
  private var untimedMs = 0L
  private var untimedCpuNs = 0L

  /** Work inside an operation that its wall and CPU time leave out. */
  private def untimed[T](body: => T): T = {
    val w0 = System.currentTimeMillis()
    val cpu0 = osBean.getProcessCpuTime
    try body
    finally {
      untimedMs += System.currentTimeMillis() - w0
      untimedCpuNs += osBean.getProcessCpuTime - cpu0
    }
  }

  /** Time one operation and collect its Spark accounting. `body` returns
    * the layer metrics of a traced operation.
    */
  private def measure(traced: Boolean, run: Int)(body: Tracer => Map[String, Double]): Op = {
    val tracer = new Tracer(run)
    val before = Probe.snapshot
    untimedMs = 0L
    untimedCpuNs = 0L
    val cpu0 = osBean.getProcessCpuTime
    val w0 = System.currentTimeMillis()
    val out =
      try Right(body(tracer))
      catch { case e: Throwable => Left(s"${e.getClass.getName}: ${e.getMessage}") }
    val w1 = System.currentTimeMillis()
    val cpu1 = osBean.getProcessCpuTime
    SparkSession.getActiveSession.foreach(s => ListenerBusAccess.drain(s.sparkContext))
    val d = Probe.snapshot - before
    val spark = Map(
      "spark.jobs" -> d.jobs.toDouble,
      "spark.stages" -> d.stages.toDouble,
      "spark.tasks" -> d.tasks.toDouble,
      "spark.driver_idle_s" -> (Probe.idleMs(w0, w1) - untimedMs) / 1e3,
      "spark.executor_cpu_s" -> d.cpuNs / 1e9,
      "spark.gc_s" -> d.gcMs / 1e3,
      "spark.shuffle_write_mb" -> d.shuffleWriteBytes / 1048576.0,
      "spark.shuffle_read_mb" -> d.shuffleReadBytes / 1048576.0,
      "spark.spill_mb" -> d.spillBytes / 1048576.0)
    Op(traced, (w1 - w0 - untimedMs) / 1e3, (cpu1 - cpu0 - untimedCpuNs) / 1e9,
      out.left.toOption, spark, out.getOrElse(Map.empty), tracer.spans.toSeq)
  }

  private def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(Double.NaN)

  private def force(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  trait Workload {
    /** Untimed, before each timed operation. */
    def prepare(): Unit = ()
    /** One operation, traced when a tracer is given; returns the traced
      * operation's layer metrics.
      */
    def op(tracer: Option[Tracer]): Map[String, Double]
    /** Untimed, after each timed operation: what is wrong with its output. */
    def check(): Option[String] = None
    /** The untimed operation that ends set-up. */
    def warmup(): Map[String, Double] = op(None)
    /** Work after the timed window; returns the record's `checks`. */
    def finish(): Map[String, Any] = Map.empty
  }

  /** The paper's batch job: one operation is one in-process
    * `CandyRun.main`, so session start and stop and the report re-counts
    * stay inside the timed number.
    */
  final class Candy(
      data: String, work: Path, expected: Path,
      start: LocalDate, end: LocalDate, cpus: Int) extends Workload {
    private val out = work.resolve("out")
    private val reports = Seq(
      "order_line_items", "products_updated", "orders", "daily_summary",
      "sales_profit_forecast")

    override def prepare(): Unit = clear(out.toFile)

    def op(tracer: Option[Tracer]): Map[String, Double] = tracer match {
      case None =>
        CandyRun.main(Array(data, out.toString,
          start.format(DateTimeFormatter.BASIC_ISO_DATE),
          end.format(DateTimeFormatter.BASIC_ISO_DATE)))
        Map.empty
      case Some(t) => traced(t)
    }

    /** `CandyRun.main` taken apart: each stage's public function in
      * `CandyPipeline.run` order, its output forced at the boundary.
      */
    private def traced(t: Tracer): Map[String, Double] = t("pipeline.run") {
      val spark = t("pipeline.session") {
        val s = GraftSession.builder(master = s"local[$cpus]", shufflePartitions = cpus)
          .appName("candy-store-etl").getOrCreate()
        s.sparkContext.setLogLevel("WARN")
        s
      }
      val (transactions, txRows) = t("sources.transactions") {
        val tx = CandySources.transactions(spark, data, start, end)
          .persist(StorageLevel.MEMORY_AND_DISK)
        (tx, tx.count())
      }
      val products = t("sources.products") {
        val p = CandySources.products(spark, data)
        p.count()
        p
      }
      val (priced, pricedRows) = t("etl.priced_lines") {
        val p = CandyEtl.pricedLines(transactions, products)
        (p, p.count())
      }
      val allocated = t("operators.allocate") {
        val a = CandyEtl.allocate(priced).persist(StorageLevel.MEMORY_AND_DISK)
        force(a)
        a
      }
      val allocSpan = t.last("operators.allocate")
      // Each report frame is kept from its etl span to its sink span, so the
      // sink span covers only coalesce, write and rename. The pipeline does
      // not persist line items, stock or orders, so they are dropped again
      // after their sink and the report re-counts recompute them, as there.
      def computed(f: DataFrame): DataFrame = {
        val p = f.persist(StorageLevel.MEMORY_AND_DISK)
        force(p)
        p
      }
      val lineItems = t("etl.order_line_items")(computed(CandyEtl.orderLineItems(allocated)))
      val stock = t("etl.products_updated")(computed(CandyEtl.productsUpdated(products, allocated)))
      val orders = t("etl.orders")(computed(CandyEtl.orders(transactions, allocated)))
      val daily = t("etl.daily_summary")(computed(CandyEtl.dailySummary(orders, allocated)))
      val forecast = t("forecast.fit") {
        val f = new CandyPipeline(spark, data, out.toString, start, end).forecastFrame(daily)
        f.count()
        f
      }
      val frames = Seq(lineItems, stock, orders, CandyEtl.formatDailySummary(daily), forecast)
      reports.zip(frames).foreach { case (name, f) =>
        t(s"sinks.$name")(SingleFileCsvSink.write(f, out.toString, s"$name.csv"))
      }
      Seq(lineItems, stock, orders).foreach(_.unpersist(true))
      t("pipeline.report_counts") {
        Seq(lineItems, stock, orders, daily, forecast).foreach(_.count())
        allocated.filter(col("quantity") === 0).count()
      }
      t("pipeline.session_stop")(spark.stop())

      // the allocation's last stage is the one that folds each product's run
      val allocStage = Probe.stagesIn(allocSpan.fromMs, allocSpan.toMs).sortBy(_.id).lastOption
      Map(
        "pipeline.session_s" -> (t.secs("pipeline.session") + t.secs("pipeline.session_stop")),
        "pipeline.report_counts_s" -> t.secs("pipeline.report_counts"),
        "sources.transactions_s" -> t.secs("sources.transactions"),
        "sources.transactions_rows" -> txRows.toDouble,
        "sources.products_s" -> t.secs("sources.products"),
        "etl.priced_lines_s" -> t.secs("etl.priced_lines"),
        "etl.priced_lines_rows" -> pricedRows.toDouble,
        "operators.allocate_s" -> allocSpan.secs,
        "operators.allocate_max_task_s" -> allocStage.map(_.maxTaskMs / 1e3).getOrElse(0.0),
        "etl.order_line_items_s" -> t.secs("etl.order_line_items"),
        "etl.products_updated_s" -> t.secs("etl.products_updated"),
        "etl.orders_s" -> t.secs("etl.orders"),
        "etl.daily_summary_s" -> t.secs("etl.daily_summary"),
        "forecast.fit_s" -> t.secs("forecast.fit"),
        "sinks.bytes_written" -> reports.map(r => out.resolve(s"$r.csv").toFile.length).sum.toDouble
      ) ++ reports.map(r => s"sinks.${r}_s" -> t.secs(s"sinks.$r"))
    }

    /** Byte-for-byte against the replay for the four deterministic
      * reports; schema and row count for the forecast.
      */
    override def check(): Option[String] = {
      val diff = reports.init.find { r =>
        val f = out.resolve(s"$r.csv")
        !Files.exists(f) || Files.mismatch(f, expected.resolve(s"$r.csv")) != -1L
      }
      diff.map(r => s"$r.csv differs from the replay").orElse {
        val lines = Files.readAllLines(out.resolve("sales_profit_forecast.csv")).asScala
        val row = s"""${end.plusDays(1)},-?\\d+\\.\\d\\d,-?\\d+\\.\\d\\d"""
        if (lines.size == 2 && lines.head == "date,forecasted_sales,forecasted_profit" &&
            lines(1).matches(row)) None
        else Some(s"forecast is not one row of (date, sales, profit): ${lines.take(3)}")
      }
    }
  }

  /** The hot query mix: one operation is one pass over the queries, each
    * forced through the `noop` sink. The warm-up pass writes every result
    * instead, for the oracle check after the run. Blocks a query persisted
    * are dropped after it outside the timed window, as `graft.Bench` does.
    */
  final class Queries(data: String, work: Path, names: Seq[String], cpus: Int) extends Workload {
    private val spark = GraftSession.builder(master = s"local[$cpus]", shufflePartitions = cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    private val fns = names.map(n => n -> SparkEntry.queries(n))

    private def dropPersisted(): Unit = untimed(BenchHarness.dropCheckpointBlocks(spark))

    def op(tracer: Option[Tracer]): Map[String, Double] = {
      val layers = Map.newBuilder[String, Double]
      for ((name, fn) <- fns) tracer match {
        case None =>
          force(fn(spark, data))
          dropPersisted()
        case Some(t) =>
          t(name)(force(fn(spark, data)))
          dropPersisted()
          ListenerBusAccess.drain(spark.sparkContext)
          val q = t.last(name)
          val jobs = Probe.jobsIn(q.fromMs, q.toMs)
          jobs.foreach(j => t.add(s"job.${j.id}", q.id, (j.startMs - t0Ms) / 1e3, (j.endMs - t0Ms) / 1e3))
          val short = name.takeWhile(_ != '_')
          layers += s"queries.${short}_s" -> q.secs
          layers += s"queries.${short}_jobs" -> jobs.size.toDouble
      }
      layers.result()
    }

    private val results = work.resolve("results")

    override def warmup(): Map[String, Double] = {
      clear(results.toFile)
      for ((name, fn) <- fns) {
        fn(spark, data).write.parquet(results.resolve(name).toString)
        dropPersisted()
      }
      Map.empty
    }

    override def finish(): Map[String, Any] = {
      val oracle = SparkEntry.oracleSql
      spark.stop()
      Map("results" -> results.toString,
        "oracle_sql" -> names.map(n => n -> oracle.get(n)).toMap)
    }
  }

  private def clear(dir: File): Unit = {
    def rm(f: File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm))
      f.delete()
    }
    rm(dir)
    dir.mkdirs()
  }
}

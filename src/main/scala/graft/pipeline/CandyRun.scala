package graft.pipeline

import java.time.LocalDate
import java.time.format.DateTimeFormatter

/** CLI runner for the candy-store pipeline — the analogue of the
  * reference's `main.py` entry point (reference main.py:141-205).
  *
  * Usage: CandyRun <dataDir> <outputDir> <startDate yyyyMMdd> <endDate yyyyMMdd>
  *
  * Configuration always starts from the reference-shaped environment
  * variables (see [[CandyConfig]] / reference .env.example); positional
  * arguments, when given, override ONLY the paths and date range —
  * behavioural env flags like `RELOAD_INVENTORY_DAILY` stay effective
  * either way.
  */
object CandyRun {
  def main(args: Array[String]): Unit = {
    require(
      args.isEmpty || args.length == 4,
      "usage: CandyRun [<dataDir> <outputDir> <startDate yyyyMMdd> <endDate yyyyMMdd>] " +
        "(no args: configure fully from environment)")
    val base = CandyConfig.fromEnv()
    val cfg =
      if (args.isEmpty) base
      else {
        val fmt = DateTimeFormatter.ofPattern("yyyyMMdd")
        base.copy(
          dataDir = args(0),
          outputPath = args(1),
          startDate = LocalDate.parse(args(2), fmt),
          endDate = LocalDate.parse(args(3), fmt))
      }

    // one core count sizes both the local master and the shuffle width
    val cpus = graft.GraftSession.envCpus(8)
    val spark = graft.GraftSession.builder(
      master = sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"),
      shufflePartitions = cpus)
      .appName("candy-store-etl")
      .getOrCreate()
    // stopped on every path: the caller's JVM may build another session,
    // and getOrCreate would otherwise reuse this context and its confs
    try {
      spark.sparkContext.setLogLevel("WARN")
      val result = CandyPipeline.fromConfig(spark, cfg).run()
      val rows = result.rowsWritten
      println(s"order_line_items: ${rows("order_line_items")} rows")
      println(s"products_updated: ${rows("products_updated")} rows")
      println(s"orders:           ${rows("orders")} rows")
      println(s"daily_summary:    ${rows("daily_summary")} rows")
      println(s"forecast:         ${rows("sales_profit_forecast")} rows")
      println(s"cancelled lines:  ${result.cancelledLines}")
    } finally spark.stop()
  }
}

package graft.pipeline

import graft.etl.CandyEtl
import graft.forecast.Forecaster
import graft.model.CandyModel.Money
import graft.sinks.SingleFileCsvSink
import graft.sources.CandySources
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import java.time.LocalDate
import scala.collection.immutable.ListMap

/** End-to-end candy-store pipeline (reference main.py:141-205, EP1→EP2→EP3),
  * producing the five reports of SURVEY.md §1.2 as single-file CSVs.
  *
  * Structural fixes over the reference, besides the distributed allocator:
  * every transaction day is read ONCE and persisted (the reference re-scans
  * MongoDB per day in both EP1 and EP2, data_processor.py:176,310-313), and
  * there is no per-day driver round-trip — the whole date range is one
  * lineage.
  *
  * Each report is computed once. `orders` and `daily_summary` each feed a
  * later frame as well as their own file, so both are persisted; the row
  * counts in [[Result]] and the cancelled-line count are observed on the
  * writes themselves, so nothing re-counts a report after it is written.
  */
class CandyPipeline(
    spark: SparkSession,
    dataDir: String,
    outputDir: String,
    start: LocalDate,
    endInclusive: LocalDate,
    forecastDays: Int = 1,
    reloadInventoryDaily: Boolean = false,
    dimConfig: Option[CandyConfig] = None) {

  /** The report frames, the number of cancelled order lines, and the
    * rows written per report, keyed by report name in write order
    * (`order_line_items`, `products_updated`, `orders`, `daily_summary`,
    * `sales_profit_forecast`).
    */
  final case class Result(
      orderLineItems: DataFrame,
      productsUpdated: DataFrame,
      orders: DataFrame,
      dailySummary: DataFrame,
      forecast: DataFrame,
      cancelledLines: Long,
      rowsWritten: ListMap[String, Long])

  /** Run all stages and write the five CSV reports. */
  def run(): Result = {
    val transactions = (dimConfig match {
      // live MongoDB when the config opts in (MONGO_ENABLED); the
      // file-backed path otherwise — same selection shape as dimensions
      case Some(cfg) if cfg.mongoTransactions =>
        CandySources.transactions(spark, cfg, start, endInclusive)
      case _ =>
        CandySources.transactions(spark, dataDir, start, endInclusive)
    }).persist(StorageLevel.MEMORY_AND_DISK)
    // dimensions go through live JDBC when the config carries a URL
    // (reference data_processor.py:87-101), CSV fixtures otherwise
    val products = dimConfig match {
      case Some(cfg) if cfg.jdbcDims => CandySources.products(spark, cfg)
      case _ => CandySources.products(spark, dataDir)
    }

    val allocated = CandyEtl
      .allocate(CandyEtl.pricedLines(transactions, products), reloadInventoryDaily)
      .persist(StorageLevel.MEMORY_AND_DISK)

    val lineItems = CandyEtl.orderLineItems(allocated)
    // Under daily inventory reload, "current stock" means stock after the
    // LAST business day (each day started from full stock).
    val stockSource =
      if (reloadInventoryDaily)
        allocated.filter(col("day_idx") === lit(endInclusive.toEpochDay))
      else allocated
    val stock = CandyEtl.productsUpdated(products, stockSource)
    val orders = CandyEtl.orders(transactions, allocated)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val daily = CandyEtl.dailySummary(orders, allocated)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val forecast = forecastFrame(daily)

    val (lineItemRows, cancelled) = CandyPipeline.writeLineItems(lineItems, outputDir)
    val rows = ListMap(
      "order_line_items" -> lineItemRows,
      "products_updated" -> SingleFileCsvSink.write(stock, outputDir, "products_updated.csv"),
      "orders" -> SingleFileCsvSink.write(orders, outputDir, "orders.csv"),
      "daily_summary" -> SingleFileCsvSink.write(
        CandyEtl.formatDailySummary(daily), outputDir, "daily_summary.csv"),
      "sales_profit_forecast" ->
        SingleFileCsvSink.write(forecast, outputDir, "sales_profit_forecast.csv"))
    Result(lineItems, stock, orders, daily, forecast, cancelled, rows)
  }

  /** Fit sales + profit series and emit the forecast frame
    * (date, forecasted_sales, forecasted_profit), 2dp-rounded.
    * Non-fatal on degenerate input, like the reference (main.py:193-194):
    * an empty daily summary yields an empty (schema-correct) frame.
    */
  def forecastFrame(dailySummary: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("date", DateType),
      StructField("forecasted_sales", Money),
      StructField("forecasted_profit", Money)))
    val rows = dailySummary
      .select("date", "total_sales", "total_profit")
      .collect() // ≤ one row per business day — driver-side by design (§2.9)
    if (rows.isEmpty) {
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    } else {
      // collected unsorted: fitSeasonal sorts the series by date here on
      // the driver, where a distributed sort would cost a sampling job
      val series = rows.map { r =>
        (r.getDate(0).toLocalDate,
          r.getDecimal(1).doubleValue(),
          r.getDecimal(2).doubleValue())
      }
      // full Prophet model family (piecewise trend + Fourier seasonality),
      // deterministic closed-form fit — see Forecaster.fitSeasonal
      val sales = Forecaster.fitSeasonal(series.map(x => (x._1, x._2)).toSeq)
      val profit = Forecaster.fitSeasonal(series.map(x => (x._1, x._3)).toSeq)
      // in-sample fit metrics, printed like the reference does
      // (reference time_series.py:45-67 — reported, never saved)
      val (sm, pm) = (sales.metrics, profit.metrics)
      println(f"Forecast fit — sales MAE=${sm.mae}%.2f MSE=${sm.mse}%.2f; " +
        f"profit MAE=${pm.mae}%.2f MSE=${pm.mse}%.2f")
      val out = sales.predict(forecastDays).zip(profit.predict(forecastDays)).map {
        case ((d, s), (_, p)) =>
          Row(
            java.sql.Date.valueOf(d),
            new java.math.BigDecimal(s).setScale(2, java.math.RoundingMode.HALF_UP),
            new java.math.BigDecimal(p).setScale(2, java.math.RoundingMode.HALF_UP))
      }
      spark.createDataFrame(spark.sparkContext.parallelize(out.toSeq, 1), schema)
    }
  }
}

object CandyPipeline {
  /** Write `order_line_items.csv`; returns its row count and the number of
    * cancelled lines (quantity 0), both observed on the one write job.
    */
  private[pipeline] def writeLineItems(lineItems: DataFrame, outputDir: String): (Long, Long) = {
    val m = SingleFileCsvSink.writeObserved(lineItems, outputDir, "order_line_items.csv",
      count(when(col("quantity") === 0, true)).as("cancelled"))
    (m(SingleFileCsvSink.Rows).asInstanceOf[Long], m("cancelled").asInstanceOf[Long])
  }

  /** Build from the reference-shaped environment config. */
  def fromConfig(
      spark: org.apache.spark.sql.SparkSession,
      cfg: CandyConfig): CandyPipeline =
    new CandyPipeline(
      spark, cfg.dataDir, cfg.outputPath, cfg.startDate, cfg.endDate,
      reloadInventoryDaily = cfg.reloadInventoryDaily,
      dimConfig = Some(cfg))
}

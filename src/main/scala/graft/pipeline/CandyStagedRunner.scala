package graft.pipeline

import graft.etl.CandyEtl
import graft.sinks.SingleFileCsvSink
import graft.sources.CandySources
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The candy pipeline re-orchestrated as the reference's Airflow DAG
  * shape (reference candy_store_pipeline_dag.py:284-327): a linear chain
  *
  *   setup_environment → process_daily_transactions →
  *   generate_daily_summary → generate_forecasts → cleanup
  *
  * Each stage is a method taking the previous stage's handoff value —
  * the in-process analogue of the DAG's XCom edges. Unlike the
  * reference's DAG (which re-creates a SparkSession per task and leans
  * on temp views that do NOT survive session boundaries — the
  * cross-session bug documented in SURVEY.md §3), all stages share ONE
  * SparkSession and hand off persisted DataFrames, so no stage ever
  * re-reads or re-computes another stage's work.
  *
  * Outputs are byte-identical to the monolithic [[CandyPipeline]] run —
  * pinned by `CandyStagedRunnerSpec` — because both orchestrations call
  * the same operators in the same order over the same sources.
  */
class CandyStagedRunner(spark: SparkSession, cfg: CandyConfig) {

  /** Handoff from `process_daily_transactions` to the later stages. */
  final case class TransactionsOut(
      allocated: DataFrame,
      lineItems: DataFrame,
      productsUpdated: DataFrame,
      orders: DataFrame,
      cancelledLines: Long)

  /** Stage 1 — `setup_environment`: validate the config surface the way
    * the reference's setup task validates its connections
    * (candy_store_pipeline_dag.py:70-104); fail fast, not mid-pipeline.
    */
  def setupEnvironment(): CandyConfig = {
    require(cfg.dataDir.nonEmpty, "CANDY_DATA_DIR must be set")
    require(cfg.outputPath.nonEmpty, "OUTPUT_PATH must be set")
    require(!cfg.endDate.isBefore(cfg.startDate),
      s"date range inverted: ${cfg.startDate}..${cfg.endDate}")
    cfg
  }

  /** Stage 2 — `process_daily_transactions` (EP1+EP2): allocate
    * inventory and write the three transaction-grain reports.
    */
  def processDailyTransactions(cfg: CandyConfig): TransactionsOut = {
    val transactions = CandySources
      // mongo when MONGO_ENABLED, fixtures otherwise; the staged runner
      // is config-driven end-to-end, so cfg's range IS the range
      .transactions(spark, cfg, cfg.startDate, cfg.endDate)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val products =
      if (cfg.jdbcDims) CandySources.products(spark, cfg)
      else CandySources.products(spark, cfg.dataDir)
    val allocated = CandyEtl
      .allocate(CandyEtl.pricedLines(transactions, products), cfg.reloadInventoryDaily)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val lineItems = CandyEtl.orderLineItems(allocated)
    val stockSource =
      if (cfg.reloadInventoryDaily)
        allocated.filter(col("day_idx") === lit(cfg.endDate.toEpochDay))
      else allocated
    val stock = CandyEtl.productsUpdated(products, stockSource)
    // persisted like CandyPipeline's: the orders sink and the daily
    // summary stage both read it
    val orders = CandyEtl.orders(transactions, allocated)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val (_, cancelled) = CandyPipeline.writeLineItems(lineItems, cfg.outputPath)
    SingleFileCsvSink.write(stock, cfg.outputPath, "products_updated.csv")
    SingleFileCsvSink.write(orders, cfg.outputPath, "orders.csv")
    TransactionsOut(allocated, lineItems, stock, orders, cancelled)
  }

  /** Stage 3 — `generate_daily_summary` (EP3). */
  def generateDailySummary(t: TransactionsOut): DataFrame = {
    val daily = CandyEtl.dailySummary(t.orders, t.allocated)
      .persist(StorageLevel.MEMORY_AND_DISK)
    SingleFileCsvSink.write(
      CandyEtl.formatDailySummary(daily), cfg.outputPath, "daily_summary.csv")
    daily
  }

  /** Stage 4 — `generate_forecasts`. */
  def generateForecasts(daily: DataFrame): DataFrame = {
    val forecast = new CandyPipeline(
      spark, cfg.dataDir, cfg.outputPath, cfg.startDate, cfg.endDate)
      .forecastFrame(daily)
    SingleFileCsvSink.write(forecast, cfg.outputPath, "sales_profit_forecast.csv")
    forecast
  }

  /** Stage 5 — `cleanup`: release the persisted handoffs. */
  def cleanup(t: TransactionsOut, daily: DataFrame): Unit = {
    t.allocated.unpersist()
    t.orders.unpersist()
    daily.unpersist()
  }

  /** Run the whole chain in DAG order. */
  def run(): TransactionsOut = {
    val validated = setupEnvironment()
    val t = processDailyTransactions(validated)
    val daily = generateDailySummary(t)
    generateForecasts(daily)
    // NOTE: cleanup is deliberately not called here so callers can keep
    // using the handoff frames; call cleanup(t, daily) when done.
    t
  }
}

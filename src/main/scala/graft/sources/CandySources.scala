package graft.sources

import graft.model.CandyModel
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.time.LocalDate
import java.time.format.DateTimeFormatter

/** Sources for the candy-store pipeline (SURVEY.md §2.1 S1–S3).
  *
  * The reference reads one MongoDB collection per business day
  * (reference data_processor.py:103-120, collection `transactions_yyyyMMdd`)
  * and its dimensions over JDBC (data_processor.py:87-101). This harness has
  * neither server, so the same *semantics* — "scan a day-partitioned nested
  * record source" / "scan a dimension table" — are provided over the
  * file-backed fixtures. In production the day source would be
  * `spark.read.format("mongodb")` and the dimensions
  * `spark.read.format("jdbc")` behind these same methods; schemas here are
  * explicit rather than inferred, which is both faster (no sampling pass)
  * and safer at scale.
  */
object CandySources {

  private val dayFmt = DateTimeFormatter.ofPattern("yyyyMMdd")

  /** The days `start..endInclusive`. Both transaction sources read their
    * days from here, so an inverted range fails on the driver before any
    * Spark job, naming both dates.
    */
  def dateRange(start: LocalDate, endInclusive: LocalDate): Seq[LocalDate] = {
    require(!endInclusive.isBefore(start),
      s"date range inverted: end $endInclusive is before start $start")
    Iterator.iterate(start)(_.plusDays(1)).takeWhile(!_.isAfter(endInclusive)).toSeq
  }

  /** All days in [start, end] in one multiLine scan, each row tagged with
    * its business day and a deterministic physical order (U1).
    *
    * Each fixture file is a single JSON *array* (multiLine), and a
    * multiLine file is never split, so one scan over the range's day files
    * keeps every file whole within one input partition. Small files may
    * share a partition; `monotonically_increasing_id` then still numbers
    * each file's rows in array order, so `tx_seq` increases within a file
    * (not densely, and not across files). `day_idx` is looked up from the
    * row's own `_metadata.file_name` in a literal file-name → epoch-day
    * map — exact, no pattern parsing. Allocation orders by
    * (day_idx, tx_seq, item_pos), so only the order within a day matters:
    * `tx_seq` + the items' array position (via `posexplode` downstream)
    * reconstruct the reference's processing order, which its golden
    * outputs depend on (the greedy allocator is order-sensitive,
    * SURVEY.md §2.8). A missing day file fails when the read is planned,
    * on the driver, naming the path.
    *
    * Scale note: per-day order is only needed for bit-parity with the
    * reference's goldens. At 100 TB the order column would be a real field
    * (event time / sequence number) and this source becomes a plain
    * parallel scan of `.../date=yyyyMMdd/` with partition pruning.
    */
  def transactions(
      spark: SparkSession,
      dataDir: String,
      start: LocalDate,
      endInclusive: LocalDate): DataFrame = {
    val days = dateRange(start, endInclusive)
      .map(d => s"transactions_${d.format(dayFmt)}.json" -> d.toEpochDay)
    spark.read
      .schema(CandyModel.transactionSchema)
      .option("multiLine", "true")
      .json(days.map { case (file, _) => s"$dataDir/$file" }: _*)
      .withColumn("tx_seq", monotonically_increasing_id())
      .withColumn("day_idx", element_at(typedLit(days.toMap), col("_metadata.file_name")))
  }

  /** Options for the day-collection MongoDB read, factored out so the
    * composition is testable without a server: URI, database (with the
    * reference's comment-stripping quirk — `MONGO_DB` values like
    * `candy_store # prod` keep working, reference data_processor.py:110),
    * and the per-day collection name `<prefix><yyyyMMdd>`
    * (data_processor.py:105).
    */
  def mongoReadOptions(
      cfg: graft.pipeline.CandyConfig,
      day: LocalDate): Map[String, String] = Map(
    "connection.uri" -> cfg.mongoUri,
    "database" -> cfg.mongoDb.split("#")(0).trim,
    "collection" -> s"${cfg.mongoCollectionPrefix}${day.format(dayFmt)}")

  /** One day's transactions over the MongoDB Spark connector — the
    * production S1 path (reference data_processor.py:103-120, which uses
    * the v9 `format("mongo")` + single-URI spelling; this is the current
    * v10 `format("mongodb")` surface with the same semantics). Schema is
    * declared, not inferred — no sampling pass against the server.
    *
    * Config-selected via `MONGO_ENABLED=true`; compile-checked but not
    * exercisable in this sandbox (no server and no connector jar — the
    * connector is a `--jars`/`--packages` deployment concern, like the
    * reference's `MYSQL_CONNECTOR_PATH`). `tx_seq` here numbers rows in
    * ARRIVAL order, which a Mongo cursor does not guarantee across
    * partitions; at production scale the processing order must be a real
    * field (see the scale note on the file-backed `transactions`), so the
    * decoration is kept only for API parity with the fixture path.
    */
  def transactionsDayMongo(
      spark: SparkSession,
      cfg: graft.pipeline.CandyConfig,
      day: LocalDate): DataFrame =
    spark.read.format("mongodb")
      .options(mongoReadOptions(cfg, day))
      .schema(CandyModel.transactionSchema)
      .load()
      .withColumn("tx_seq", monotonically_increasing_id())
      .withColumn("day_idx", lit(day.toEpochDay))

  /** All days via the configured transaction source: live MongoDB when
    * `cfg.mongoTransactions` (one collection per day, unioned), the
    * file-backed one-scan `transactions` otherwise. The date range is an
    * explicit parameter (not read from cfg) so both branches of the
    * pipeline's source selection honor the SAME constructor-supplied
    * range — `CandyPipeline(spark, dir, out, d1, d2, ...)` must process
    * d1..d2 regardless of what cfg.startDate/endDate say.
    */
  def transactions(
      spark: SparkSession,
      cfg: graft.pipeline.CandyConfig,
      start: LocalDate,
      endInclusive: LocalDate): DataFrame =
    if (cfg.mongoTransactions)
      dateRange(start, endInclusive).map(transactionsDayMongo(spark, cfg, _)).reduce(_ union _)
    else transactions(spark, cfg.dataDir, start, endInclusive)

  /** products dimension from CSV fixture (prod: JDBC). */
  def products(spark: SparkSession, dataDir: String): DataFrame =
    spark.read
      .schema(CandyModel.productSchema)
      .option("header", "true")
      .csv(s"$dataDir/products.csv")

  /** customers dimension from CSV fixture (prod: JDBC). Dead input in the
    * reference (loaded, never used in outputs) — exposed for API parity.
    */
  def customers(spark: SparkSession, dataDir: String): DataFrame =
    spark.read
      .schema(CandyModel.customerSchema)
      .option("header", "true")
      .csv(s"$dataDir/customers.csv")

  /** Whole-table dimension scan over JDBC — the reference's
    * `load_mysql_data` (data_processor.py:87-101): url/driver/dbtable/
    * user/password options, schema from database metadata. Dimension
    * tables are small by definition; no partitioning options needed (a
    * fact-sized JDBC read would add partitionColumn/numPartitions).
    */
  def dimensionJdbc(
      spark: SparkSession,
      url: String,
      table: String,
      user: String,
      password: String,
      driver: String): DataFrame = {
    val r = spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("user", user)
      .option("password", password)
    (if (driver.nonEmpty) r.option("driver", driver) else r).load()
  }

  /** Conform a metadata-inferred JDBC frame to the engine's explicit
    * schema: case-insensitive column resolution (Derby/MySQL fold
    * unquoted identifiers), declared order, declared types.
    */
  private def conform(
      df: DataFrame,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    df.select(schema.fields.map(f => col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)

  /** products via the configured source: live JDBC when `cfg.jdbcDims`,
    * CSV fixture otherwise.
    */
  def products(spark: SparkSession, cfg: graft.pipeline.CandyConfig): DataFrame =
    if (cfg.jdbcDims)
      conform(
        dimensionJdbc(spark, cfg.mysqlUrl, cfg.productsTable,
          cfg.mysqlUser, cfg.mysqlPassword, cfg.mysqlDriver),
        CandyModel.productSchema)
    else products(spark, cfg.dataDir)

  /** customers via the configured source (cf. [[products]]). */
  def customers(spark: SparkSession, cfg: graft.pipeline.CandyConfig): DataFrame =
    if (cfg.jdbcDims)
      conform(
        dimensionJdbc(spark, cfg.mysqlUrl, cfg.customersTable,
          cfg.mysqlUser, cfg.mysqlPassword, cfg.mysqlDriver),
        CandyModel.customerSchema)
    else customers(spark, cfg.dataDir)
}

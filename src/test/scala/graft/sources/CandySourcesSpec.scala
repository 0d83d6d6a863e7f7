package graft.sources

import graft.SparkTestBase
import graft.pipeline.CandyPipeline
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path}
import java.time.LocalDate

/** The one multiLine scan over a date range reads the same transactions,
  * tagged with the same days and in the same within-day order, as reading
  * each day's file alone — also when several files share one partition.
  */
class CandySourcesSpec extends AnyFunSuite with SparkTestBase {

  private val first = LocalDate.of(2024, 3, 1)
  private val last = LocalDate.of(2024, 3, 4)

  private def tx(id: Int): String =
    s"""{"transaction_id":$id,"customer_id":${id % 7},"timestamp":"2024-03-01T09:00:00.000000",""" +
      s""""items":[{"product_id":1,"product_name":"P1","qty":1}]}"""

  /** Transaction ids per day, in array order; ids are not sorted within a
    * day, so an order check cannot pass by sorting on the id.
    */
  private val fileIds: Seq[(LocalDate, Seq[Int])] = Seq(
    first -> Seq(105, 101, 109, 103, 102),
    first.plusDays(1) -> Seq(201),
    first.plusDays(2) -> Seq(330, 310, 320, 300),
    last -> Seq(404, 402, 401))

  private lazy val dataDir: Path = {
    val d = Files.createTempDirectory("candy_sources")
    d.toFile.deleteOnExit()
    Files.writeString(d.resolve("products.csv"),
      """product_id,product_name,product_category,product_subcategory,product_shape,sales_price,cost_to_make,stock
        |1,P1,Gummy,Gummies,Bears,1.00,0.50,100
        |""".stripMargin)
    fileIds.foreach { case (day, ids) =>
      val name = f"transactions_${day.getYear}%04d${day.getMonthValue}%02d${day.getDayOfMonth}%02d.json"
      Files.writeString(d.resolve(name), ids.map(tx).mkString("[\n", ",\n", "\n]\n"))
    }
    d
  }

  /** (day_idx, transaction ids in tx_seq order) per day. */
  private def byDay(df: DataFrame): Seq[(Long, Seq[Int])] =
    df.select("day_idx", "tx_seq", "transaction_id").collect().toSeq
      .groupBy(_.getLong(0)).toSeq.sortBy(_._1)
      .map { case (day, rows) => day -> rows.sortBy(_.getLong(1)).map(_.getInt(2)) }

  private def eachDayAlone: Seq[(Long, Seq[Int])] =
    fileIds.flatMap { case (day, _) => byDay(CandySources.transactions(spark, dataDir.toString, day, day)) }

  private val expected: Seq[(Long, Seq[Int])] =
    fileIds.map { case (day, ids) => day.toEpochDay -> ids }

  test("one scan: the per-day (transaction_id, day_idx) pairs and within-day order") {
    assert(eachDayAlone == expected)
    assert(byDay(CandySources.transactions(spark, dataDir.toString, first, last)) == expected)
  }

  test("one scan: files packed into one partition keep each day's order") {
    val packed = spark.newSession()
    // one partition target: every file of the range lands in a single task
    packed.conf.set("spark.sql.files.minPartitionNum", "1")
    val df = CandySources.transactions(packed, dataDir.toString, first, last)
    assert(df.rdd.getNumPartitions == 1)
    assert(byDay(df) == expected)
  }

  test("a missing day file fails before any output is written, naming the file") {
    val out = Files.createTempDirectory("candy_sources_out")
    out.toFile.deleteOnExit()
    val e = intercept[AnalysisException] {
      new CandyPipeline(spark, dataDir.toString, out.toString, first, last.plusDays(1)).run()
    }
    assert(e.getMessage.contains("transactions_20240305.json"))
    val written = Files.list(out)
    try assert(written.count() == 0)
    finally written.close()
  }
}

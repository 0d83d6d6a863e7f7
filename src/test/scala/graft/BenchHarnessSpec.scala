package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchHarnessSpec extends AnyFunSuite with SparkTestBase {

  test("quiesce returns promptly when nothing drains") {
    spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    // the first call drains what the query above left; the second finds
    // the scratch size already stable, so one collection and one 300 ms
    // window, not a second round
    BenchHarness.quiesce(spark)
    assert(BenchHarness.quiesce(spark) == 1)
  }
}

package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.Suite

/** Shared local SparkSession for ScalaTest suites. */
trait SparkTestBase extends BeforeAndAfterAll { self: Suite =>
  lazy val spark: SparkSession = SparkTestBase.session

  override def afterAll(): Unit = super.afterAll()
}

object SparkTestBase {
  lazy val session: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // A projection that fails to compile must FAIL the suite, not fall
    // back to interpreted mode: a silent fallback once cost the
    // ngram_distinct_count hot path its codegen (missing static
    // forwarder) and no spec noticed. CODEGEN_ONLY makes Janino errors
    // loud in every suite that touches a native expression.
    .config("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    .config("spark.sql.codegen.fallback", "false")
    // see GraftSession: the stock 128-key fallback turns collect_list/
    // collect_set aggs into external sorts
    .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "2000000")
    // the graft SQL functions, installed the way GraftSession.builder
    // installs them: per session, not through the static
    // `spark.sql.extensions` conf, so GraftSessionSpec can still tell a
    // harness session that bypasses GraftSession.builder from one that
    // uses it
    .withExtensions(new GraftExtensions)
    .getOrCreate()
}

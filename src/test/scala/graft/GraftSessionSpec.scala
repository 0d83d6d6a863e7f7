package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

class GraftSessionSpec extends AnyFunSuite {

  /** getOrCreate returns any active session, which would bypass the
    * extensions — clear first, restore after, so the shared test
    * session is unaffected for other suites.
    */
  private def withoutActiveSession(body: => Unit): Unit = {
    val prior = SparkSession.getActiveSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try body
    finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prior.foreach { s =>
        SparkSession.setActiveSession(s)
        SparkSession.setDefaultSession(s)
      }
    }
  }

  test("BenchHarness.session is GraftSession's session plus the UI off") {
    // Runs first, on the shared test context (local[4], no
    // `spark.sql.extensions` in its SparkConf): a context started by
    // GraftSession.builder carries that static conf, and every later
    // session on it would resolve the SQL functions whether or not the
    // harness installs the extensions.
    SparkTestBase.session
    withoutActiveSession {
      val spark = BenchHarness.session()
      val cpus = GraftSession.envCpus()
      assert(spark.conf.get("spark.sql.shuffle.partitions") == cpus.toString)
      assert(spark.conf.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum") ==
        (cpus * 8).toString)
      assert(spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes") ==
        math.min(64L << 20, math.max(16L << 20,
          Runtime.getRuntime.maxMemory * 6 / 10 / cpus / 6)).toString)
      assert(spark.conf.get("spark.sql.objectHashAggregate.sortBased.fallbackThreshold") ==
        "2000000")
      assert(spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == "64MB")
      assert(spark.conf.get("spark.ui.enabled") == "false")
      // the SQL extension functions resolve (GraftSession's extensions)
      val row = spark.sql(
        "SELECT simhash64('a b') AS s, cosine_sim(array(1.0D), array(1.0D)) AS c")
        .collect()(0)
      assert(!row.isNullAt(0))
      assert(row.getDouble(1) == 1.0)
    }
  }

  test("builder wires tuned defaults and the SQL extension functions") {
    withoutActiveSession {
      val spark = GraftSession.builder(master = "local[2]", shufflePartitions = 2)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "2")
      assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
      assert(spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == "64MB")
      // all custom functions resolve through pure SQL (extensions path)
      val row = spark.sql(
        """SELECT simhash64('a b') AS s,
          |size(minhash_sig('abcdef', 8, 3)) AS m,
          |ngram_jaccard('abc', 'abc', 2) AS j,
          |lang_id('the of and') AS l,
          |cosine_sim(array(1.0D, 0.0D), array(0.0D, 1.0D)) AS c,
          |word_ngrams('a b a b', 2, true) AS w,
          |word_chunks('a b c', 2, 2) AS ch,
          |normalize_text('  A  B ') AS nt,
          |cms_estimate(count_min_sketch(CAST(7 AS BIGINT), 0.001d, 0.99d, 1), CAST(7 AS BIGINT)) AS ce""".stripMargin)
        .collect()(0)
      assert(row.getInt(1) == 8)
      assert(row.getDouble(2) == 1.0)
      assert(row.getString(3) == "en")
      assert(row.getDouble(4) == 0.0)
      assert(row.getSeq[String](5) == Seq("a b", "b a"))
      assert(row.getSeq[String](6) == Seq("a b", "c"))
      assert(row.getString(7) == "a b")
      assert(row.getLong(8) == 1L)
    }
  }

  test("no main source outside GraftSession calls SparkSession.builder()") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"${root.toAbsolutePath} not found")
    val walk = Files.walk(root)
    val offenders =
      try walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") &&
          p.getFileName.toString != "GraftSession.scala" &&
          Files.readString(p).contains("SparkSession.builder()"))
        .map(root.relativize(_).toString).toList.sorted
      finally walk.close()
    assert(offenders.isEmpty, s"sessions built outside GraftSession: $offenders")
  }
}

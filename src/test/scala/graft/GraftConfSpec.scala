package graft

import graft.operators.{ConnectedComponents, ExactSubstr, QualityRules}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable.ArrayBuffer

/** Every `spark.graft.*` conf goes through [[GraftConf]]: a misspelt
  * value fails with an IllegalArgumentException naming the key and the
  * value, before any Spark job starts.
  */
class GraftConfSpec extends AnyFunSuite with SparkTestBase {
  private val sf = "/root/testdata/sf0.001"
  private val sentinelGroup = "graft-conf-spec-sentinel"

  private def docs: DataFrame =
    spark.range(4).select(col("id").as("doc_id"), lit("a b c d e f g h").as("text"))

  /** Jobs started while `body` ran. A sentinel job after it marks the end
    * of the bus: once its start is seen, every earlier event has been.
    */
  private def jobsDuring(body: => Unit): Int = {
    val seen = ArrayBuffer.empty[SparkListenerJobStart]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = seen.synchronized(seen += e)
    }
    def isSentinel(e: SparkListenerJobStart) =
      e.properties != null && e.properties.getProperty("spark.jobGroup.id") == sentinelGroup
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      spark.sparkContext.setJobGroup(sentinelGroup, "sentinel")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (!seen.synchronized(seen.exists(isSentinel)) && System.nanoTime() < deadline)
        Thread.sleep(10)
      seen.synchronized(seen.count(e => !isSentinel(e)))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** With `confs` set, `build` throws naming the misspelt key and value,
    * and no job started.
    */
  private def failsEarly(confs: (String, String)*)(build: => Any): Unit = {
    val (key, value) = confs.head
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      var err: Option[IllegalArgumentException] = None
      val jobs = jobsDuring {
        err = Some(intercept[IllegalArgumentException](build))
      }
      assert(err.get.getMessage.contains(key), err.get.getMessage)
      assert(err.get.getMessage.contains(s"'$value'"), err.get.getMessage)
      assert(jobs == 0, s"$jobs job(s) started before $key=$value failed")
    } finally confs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("spark.graft.exactSubstr.passes=aoto fails before any job") {
    failsEarly("spark.graft.exactSubstr.passes" -> "aoto") {
      ExactSubstr.duplicateSpans(docs, "doc_id", "text", minLen = 4)
    }
  }

  test("a malformed spark.graft.exactSubstr.scratchPerInputByte fails before any job") {
    failsEarly(
      "spark.graft.exactSubstr.scratchPerInputByte" -> "62x",
      "spark.graft.exactSubstr.passes" -> "auto") {
      ExactSubstr.cutDuplicateSpans(docs, "doc_id", "text", minLen = 4)
    }
  }

  test("a malformed spark.graft.exactSubstr.scratchHeadroom fails before any job") {
    failsEarly(
      "spark.graft.exactSubstr.scratchHeadroom" -> "O.8",
      "spark.graft.exactSubstr.passes" -> "auto") {
      ExactSubstr.duplicateSpans(docs, "doc_id", "text", minLen = 4)
    }
  }

  test("spark.graft.triangle.exactYardstick=flase fails before any job") {
    failsEarly("spark.graft.triangle.exactYardstick" -> "flase") {
      SparkEntry.queries("q129_triangle_approx")(spark, sf)
    }
  }

  test("spark.graft.audio.roundtrip=ture fails before any job") {
    failsEarly("spark.graft.audio.roundtrip" -> "ture") {
      SparkEntry.queries("q154_audio_neardup")(spark, sf)
    }
  }

  test("spark.graft.kn.wideKeys=yes fails before any job") {
    failsEarly("spark.graft.kn.wideKeys" -> "yes") {
      QualityRules.knBigramLmScore(docs, "doc_id", "text")
    }
  }

  test("spark.graft.cc.roundMode=shufle fails before any job") {
    failsEarly("spark.graft.cc.roundMode" -> "shufle") {
      ConnectedComponents.byMinLabel(
        spark.range(3).select(col("id").as("src"), (col("id") + 1).as("dst")))
    }
  }

  test("unset confs read as their defaults; set ones parse case-insensitively") {
    assert(GraftConf.bool(spark, "spark.graft.kn.wideKeys", default = false) == false)
    spark.conf.set("spark.graft.kn.wideKeys", " TRUE ")
    spark.conf.set("spark.graft.cc.roundMode", "Shuffle")
    try {
      assert(GraftConf.bool(spark, "spark.graft.kn.wideKeys", default = false))
      assert(GraftConf.choice(spark, "spark.graft.cc.roundMode", "auto",
        Seq("auto", "shuffle")) == "shuffle")
    } finally {
      spark.conf.unset("spark.graft.kn.wideKeys")
      spark.conf.unset("spark.graft.cc.roundMode")
    }
  }
}

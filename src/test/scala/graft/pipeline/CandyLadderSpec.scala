package graft.pipeline

import com.fasterxml.jackson.databind.ObjectMapper
import graft.SparkTestBase
import org.apache.commons.io.FileUtils
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

class CandyLadderSpec extends AnyFunSuite with SparkTestBase {

  test("one tiny rung: one JSON line in the record's shape, both arms identical") {
    val n = 100
    val aqe = spark.conf.getOption("spark.sql.adaptive.enabled")
    val line =
      try CandyLadder.run(spark, Seq(n))
      finally FileUtils.deleteQuietly(CandyLadder.rungDir(n))
    assert(!line.contains("\n"))
    val rec = new ObjectMapper().readTree(line)
    assert(rec.fieldNames().asScala.toSeq == Seq("metric", "days", "cores", "points"))
    assert(rec.get("metric").asText == "candy_scale")
    assert(rec.get("days").asInt == 10)
    val cores = rec.get("cores").asInt
    assert(cores == spark.sparkContext.defaultParallelism)

    val points = rec.get("points").elements().asScala.toSeq
    assert(points.size == 1)
    val p = points.head
    assert(p.fieldNames().asScala.toSeq == Seq(
      "tx_per_day", "input_bytes", "bytes_per_core", "replay_sec",
      "adaptive", "non_adaptive", "non_adaptive_speedup"))
    assert(p.get("tx_per_day").asInt == n)
    assert(p.get("input_bytes").asLong > 0)
    assert(p.get("bytes_per_core").asLong == p.get("input_bytes").asLong / cores)
    Seq("adaptive", "non_adaptive").foreach { arm =>
      val a = p.get(arm)
      assert(a.fieldNames().asScala.toSeq == Seq("sec", "identical"), arm)
      assert(a.get("identical").asBoolean, arm)
      val sec = a.get("sec")
      assert(sec.fieldNames().asScala.toSeq == Seq("min", "med", "max"), arm)
      assert(sec.get("min").asDouble <= sec.get("med").asDouble, arm)
      assert(sec.get("med").asDouble <= sec.get("max").asDouble, arm)
    }
    assert(p.get("non_adaptive_speedup").asDouble > 0)
    // the shared session stays usable, with AQE as the caller left it
    assert(spark.conf.getOption("spark.sql.adaptive.enabled") == aqe)
    assert(spark.range(3).count() == 3)
  }
}

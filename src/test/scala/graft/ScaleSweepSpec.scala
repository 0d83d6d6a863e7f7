package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import scala.jdk.CollectionConverters._

class ScaleSweepSpec extends AnyFunSuite with SparkTestBase {
  private val sf = "/root/testdata/sf0.001"

  test("every query a family times is registered; other arms are sweep-only") {
    val arms = ScaleFamilies.names.map(name =>
      name -> ScaleFamilies.named(name, sf).arms(spark).map(_.name))
    assert(arms.map(_._1) == Seq(
      "text", "graph", "warehouse", "pq", "embed", "image", "audio", "stream", "crossover",
      "candy"))
    val queryName = "q\\d+_.*".r
    val timedQueries = for {
      (family, names) <- arms
      arm <- names if queryName.matches(arm)
    } yield family -> arm
    timedQueries.foreach { case (family, q) =>
      assert(SparkEntry.queries.contains(q), s"$family times unregistered $q")
    }
    // the four families that time registered queries do so
    assert(timedQueries.map(_._1).distinct == Seq("text", "graph", "warehouse", "pq"))
    // arm names key each record point, so they are unique per family
    arms.foreach { case (family, names) =>
      assert(names.distinct == names, s"$family repeats an arm")
    }
  }

  test("ScaleDataGen.replicate: k× rows, disjoint keys per replica, k× FK join") {
    val out = Files.createTempDirectory("replicate").toString
    val k = 3
    ScaleDataGen.replicate(spark, sf, out, k, Seq("orders", "lineitem"))
    def read(dir: String, t: String) = spark.read.parquet(s"$dir/$t.parquet")
    for (t <- Seq("orders", "lineitem"))
      assert(read(out, t).count() == k * read(sf, t).count(), t)
    assert(read(out, "orders").select("o_orderkey").distinct().count() ==
      k * read(sf, "orders").select("o_orderkey").distinct().count())
    def joined(dir: String) = read(dir, "orders")
      .join(read(dir, "lineitem"), col("o_orderkey") === col("l_orderkey")).count()
    val base = joined(sf)
    assert(base > 0)
    assert(joined(out) == k * base)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
  }

  test("ScaleSweep.run returns one JSON record: metric, size key per point, one entry per arm") {
    val line = ScaleSweep.run(spark, "pq", Seq(1, 2), base = sf)
    assert(!line.contains("\n"))
    val rec = new ObjectMapper().readTree(line)
    assert(rec.get("metric").asText == "pq_scale")
    assert(rec.get("base").asText == sf)
    val points = rec.get("points").elements().asScala.toSeq
    assert(points.map(_.get("k").asInt) == Seq(1, 2))
    points.foreach { p =>
      assert(p.fieldNames().asScala.toSeq == Seq("k", "q123_pq_adc", "q124_ivfpq", "encode_kernel"))
      Seq("q123_pq_adc", "q124_ivfpq", "encode_kernel").foreach(a =>
        assert(p.get(a).isNumber && p.get(a).asDouble > 0, s"$a: ${p.get(a)}"))
    }
    // the shared session stays usable
    assert(spark.range(3).count() == 3)
  }
}

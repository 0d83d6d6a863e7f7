package graft.sinks

import graft.SparkTestBase
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

class SingleFileCsvSinkSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def outDir(): Path = {
    val d = Files.createTempDirectory("csv_sink")
    d.toFile.deleteOnExit()
    d
  }

  private def lines(dir: Path, name: String): Seq[String] =
    Files.readAllLines(dir.resolve(name)).asScala.toSeq

  test("returns the number of data rows in the file, and observed metrics with it") {
    val dir = outDir()
    val df = (1 to 37).map(i => (i, s"n$i")).toDF("id", "name")
    assert(SingleFileCsvSink.write(df, dir.toString, "a.csv") == 37L)
    val written = lines(dir, "a.csv")
    assert(written.head == "id,name")
    assert(written.tail.size == 37)

    val m = SingleFileCsvSink.writeObserved(df, dir.toString, "b.csv",
      count(when(col("id") % 10 === 0, true)).as("tens"))
    assert(m == Map(SingleFileCsvSink.Rows -> 37L, "tens" -> 3L))
  }

  test("an empty frame writes a header-only file and returns 0") {
    val dir = outDir()
    val schema = StructType(Seq(StructField("id", IntegerType), StructField("name", StringType)))
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    assert(SingleFileCsvSink.write(empty, dir.toString, "empty.csv") == 0L)
    assert(lines(dir, "empty.csv") == Seq("id,name"))
  }

  test("an existing target is replaced") {
    val dir = outDir()
    SingleFileCsvSink.write(Seq(1, 2, 3).toDF("x"), dir.toString, "r.csv")
    assert(SingleFileCsvSink.write(Seq(9).toDF("y"), dir.toString, "r.csv") == 1L)
    assert(lines(dir, "r.csv") == Seq("y", "9"))
  }

  test("no temporary directory is left behind") {
    val dir = outDir()
    SingleFileCsvSink.write(Seq(1, 2).toDF("x"), dir.toString, "t.csv")
    val names = dir.toFile.list().toSeq
    assert(names.contains("t.csv"), names)
    assert(!names.exists(_.startsWith(".__tmp_")), names)
  }

  test("a write leaves the session serializable") {
    // closures that capture the session (a fitted spark.ml model's
    // training summary holds it) must still ship after a report write
    SingleFileCsvSink.write(Seq(1).toDF("x"), outDir().toString, "z.csv")
    val out = new java.io.ObjectOutputStream(new java.io.ByteArrayOutputStream())
    out.writeObject(spark)
    out.close()
  }

  test("input over several partitions comes out sorted when the frame sorts in one task") {
    val dir = outDir()
    // a permutation of 0..499 spread round-robin over 5 partitions
    val scattered = spark.range(0, 500, 1, 6)
      .select(((col("id") * 7919) % 500).cast(IntegerType).as("k"))
      .repartition(5)
    assert(scattered.rdd.getNumPartitions == 5)
    val sorted = scattered.repartition(1).sortWithinPartitions("k")
    assert(SingleFileCsvSink.write(sorted, dir.toString, "s.csv") == 500L)
    assert(lines(dir, "s.csv") == "k" +: (0 until 500).map(_.toString))
  }
}

package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale-evidence bench for the warehouse family (the TEXTSCALE pattern
  * applied to q111 SCD2 merge, q113 point-in-time join, q115 IVM merge,
  * q122 conversion attribution): these landed in round 4 with only the
  * 100k-event sf0.1 bench behind them. This main replicates the event
  * log (and lineitem, for q115) k× with SHIFTED user/event/part keys —
  * each replica is a disjoint population, so the per-user history
  * LENGTH is unchanged while user count and total rows scale k×, which
  * is exactly how a growing warehouse behaves and exactly the shape
  * that stresses the one-shuffle-per-user-key window designs. Times the
  * REGISTERED queries; the pass criterion is ~linear growth (every one
  * of these plans is a constant number of key-partitioned shuffles and
  * window passes, no per-row joins against history).
  */
object WarehouseScaleBench {
  def main(args: Array[String]): Unit = {
    val ks = sys.env.getOrElse("SPARK_GRAFT_WH_KS", "1,8,40")
      .split(",").map(_.trim.toInt).toSeq
    val cpus = GraftSession.envCpus().toString
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // shared measurement session + SPARK_GRAFT_SQLCONF A/B plumbing
    val spark = BenchHarness.session()

    val queries = Seq("q111_scd2_apply", "q113_pit_join",
      "q115_ivm_merge", "q122_attribution")

    def gen(k: Int): String = {
      val dir = s"/tmp/graft_whscale_$k"
      // read ts raw (nanos-long under older fixture generations — the
      // conf is a no-op for the current micros encoding) and write it
      // back unchanged — Tables.events normalizes either physical form,
      // so replicas stay loader-compatible
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val ev = spark.read.parquet(s"$base/events.parquet")
      spark.range(k.toLong).crossJoin(ev)
        .withColumn("user_id", col("user_id") + col("id") * 1000000L)
        .withColumn("event_id", col("event_id") + col("id") * 1000000000L)
        .drop("id")
        .repartition(cpus.toInt)
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val li = spark.read.parquet(s"$base/lineitem.parquet")
      spark.range(k.toLong).crossJoin(li)
        .withColumn("l_orderkey", col("l_orderkey") + col("id") * 100000000L)
        .withColumn("l_partkey", col("l_partkey") + col("id") * 100000000L)
        .drop("id")
        .repartition(cpus.toInt)
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      dir
    }

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    val warmDir = gen(1)
    queries.foreach(q =>
      SparkEntry.queries(q)(spark, warmDir)
        .write.format("noop").mode("overwrite").save())

    val points = ks.map { k =>
      val dir = gen(k)
      val times = queries.map { q =>
        q -> time(SparkEntry.queries(q)(spark, dir)
          .write.format("noop").mode("overwrite").save())
      }
      (k, times)
    }
    val json = points.map { case (k, ts) =>
      val qs = ts.map { case (q, s) => f""""$q":$s%.2f""" }.mkString(",")
      f"""{"k":$k,$qs}"""
    }.mkString("[", ",\n ", "]")
    println(s"""{"metric":"warehouse_scale","base":"$base","points":$json}""")
    spark.stop()
  }
}

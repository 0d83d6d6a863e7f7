package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale evidence for the PQ family (TEXTSCALE pattern): the sf0.1
  * embeddings table is 2,000 vectors — small enough that q123/q124
  * timings are scheduling-bound, not scan-bound. This main replicates
  * the table k× with SHIFTED vec_ids (queries stay the original
  * vec_id<10 ten, so the query side is constant while the corpus — and
  * every per-candidate cost — scales exactly k×), writes the driver's
  * testdata layout, and times the REGISTERED q123 (flat ADC) and q124
  * (IVF-PQ) paths plus the raw encode kernel. Expected shape: encode
  * and flat-ADC grow ~linearly in k; IVF-PQ grows more slowly on the
  * scan side (it touches ~nprobe/cells of the corpus) but shares the
  * linear encode. Prints ONE JSON line.
  */
object PqScaleBench {
  def main(args: Array[String]): Unit = {
    val ks = sys.env.getOrElse("SPARK_GRAFT_PQ_KS", "1,8,40")
      .split(",").map(_.trim.toInt).toSeq
    val cpus = GraftSession.envCpus().toString
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // shared measurement session + SPARK_GRAFT_SQLCONF A/B plumbing
    val spark = BenchHarness.session()

    def gen(k: Int): String = {
      val dir = s"/tmp/graft_pqscale_$k"
      val emb = spark.read.parquet(s"$base/embeddings.parquet")
      spark.range(k.toLong).crossJoin(emb)
        .withColumn("vec_id", col("vec_id") + col("id") * 1000000L)
        .drop("id")
        .repartition(cpus.toInt)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      dir
    }

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    val queries = Seq("q123_pq_adc", "q124_ivfpq")

    // JIT warmup on the base table
    val warmDir = gen(1)
    queries.foreach(q =>
      SparkEntry.queries(q)(spark, warmDir)
        .write.format("noop").mode("overwrite").save())

    def encodeKernel(dir: String): Unit = {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val cb = operators.ProductQuantizer.trainCodebook(emb, "vec_id", "embedding", 64)
      operators.ProductQuantizer.encode(emb, "vec_id", "embedding", cb, 16)
        .write.format("noop").mode("overwrite").save()
    }
    encodeKernel(warmDir)

    val points = ks.map { k =>
      val dir = gen(k)
      val times = queries.map { q =>
        q -> time(SparkEntry.queries(q)(spark, dir)
          .write.format("noop").mode("overwrite").save())
      } :+ ("encode_kernel" -> time(encodeKernel(dir)))
      (k, times)
    }
    val json = points.map { case (k, ts) =>
      val qs = ts.map { case (q, s) => f""""$q":$s%.2f""" }.mkString(",")
      f"""{"k":$k,$qs}"""
    }.mkString("[", ",\n ", "]")
    println(s"""{"metric":"pq_scale","base":"$base","points":$json}""")
    spark.stop()
  }
}

package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

// scratch profiling main — not part of the library surface
object ProfMain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.envCpus().toString
    // shared measurement session + SPARK_GRAFT_SQLCONF A/B plumbing
    val spark = BenchHarness.session()
    val starts = scala.collection.concurrent.TrieMap.empty[Int, (Long, String)]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        starts(j.jobId) = (System.nanoTime(),
          Option(j.properties.getProperty("spark.job.description")).getOrElse("?"))
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        starts.get(j.jobId).foreach { case (t0, desc) =>
          println(f"[prof] job ${j.jobId}%3d ${(System.nanoTime() - t0) / 1e9}%7.3f s  ${desc.take(100)}")
        }
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val i = s.stageInfo
        val ms = for {a <- i.completionTime; b <- i.submissionTime} yield a - b
        println(f"[prof] stage ${i.stageId}%3d ${ms.getOrElse(-1L) / 1e3}%7.3f s tasks=${i.numTasks}%3d  ${i.name.take(110)}")
      }
    })
    def run(name: String): Unit = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
      println(f"[prof] TOTAL $name ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    try run("q01_agg_rollup") catch { case _: Throwable => }
    println("[prof] ---- warmup done ----")
    args.foreach(run)
    spark.stop()
  }
}

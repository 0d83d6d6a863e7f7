package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.atomic.AtomicLong
import scala.concurrent.duration._
import scala.concurrent.{Await, Promise}

/** Exact-filename single-CSV sink (SURVEY.md §2.1 S4).
  *
  * The reference writes every report as ONE headered CSV with a fixed name:
  * `coalesce(1)` → write to a temp dir → move the part file into place
  * (reference data_processor.py:62-85). Same contract here, but the part
  * file is located through the Hadoop FileSystem API instead of a hardcoded
  * glob — Spark 4's commit protocol owns the temp layout, so listing is the
  * only stable way to find it.
  *
  * `coalesce(1)` funnels the final (tiny, already-aggregated) result
  * through one task; it must only ever wrap the last, small stage. Row
  * order inside the file is the order the caller's frame already has:
  * the candy reports end in `repartition(1).sortWithinPartitions(...)`,
  * so their sort runs in the one writing task. A global `orderBy` would
  * sort in the same single task here (the coalesce collapses its stage)
  * and add a range-sampling job on top.
  *
  * The row count is observed on the write itself (`Dataset.observe`), so
  * counting what was written costs no second job over the frame. It is a
  * named observation read back by a listener, not an
  * `org.apache.spark.sql.Observation`: the first `Observation` in a
  * session creates its ObservationManager, which is not serializable, and
  * from then on every closure that captures the session (a fitted
  * spark.ml model's training summary holds it) fails as "Task not
  * serializable".
  */
object SingleFileCsvSink {

  /** Name of the row count among [[writeObserved]]'s values. */
  val Rows = "rows"

  /** Observation names must be unique within a plan, and another
    * thread's write must never complete this write's listener.
    */
  private val writeSeq = new AtomicLong(0L)

  /** How long the observed values may lag the write. They travel on the
    * listener bus, so only a badly backed-up driver comes near this.
    */
  private val ObservedWait = 5.minutes

  /** Write `df` as `outputDir/filename`, replacing any existing file;
    * returns the number of data rows written (the header not counted).
    */
  def write(df: DataFrame, outputDir: String, filename: String): Long =
    writeObserved(df, outputDir, filename)(Rows).asInstanceOf[Long]

  /** [[write]], also observing the aggregate `metrics` over the written
    * rows in the same job. Returns the observed values by name: [[Rows]]
    * and one per metric, under its alias.
    */
  def writeObserved(
      df: DataFrame,
      outputDir: String,
      filename: String,
      metrics: Column*): Map[String, Any] = {
    val spark = df.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val outDir = new Path(outputDir)
    val fs = outDir.getFileSystem(conf)
    val tmp = new Path(outputDir, s".__tmp_$filename")
    val name = s"graft.csv_sink.${writeSeq.incrementAndGet()}"
    val observed = Promise[Row]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        qe.observedMetrics.get(name).foreach(observed.trySuccess)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      df.observe(name, count(lit(1)).as(Rows), metrics: _*)
        .coalesce(1)
        .write
        .mode("overwrite")
        .option("header", "true")
        .csv(tmp.toString)

      val part = fs
        .listStatus(tmp)
        .map(_.getPath)
        .find(p => p.getName.startsWith("part-") && p.getName.endsWith(".csv"))
        .getOrElse(throw new IllegalStateException(s"no part file under $tmp"))

      val target = new Path(outDir, filename)
      if (fs.exists(target)) fs.delete(target, false)
      // rename returns false (no exception) on failure, e.g. a cross-
      // filesystem outputDir; deleting tmp after that would destroy the
      // only copy of the report.
      if (!fs.rename(part, target))
        throw new java.io.IOException(s"rename $part -> $target failed")
      fs.delete(tmp, true)
      val row = Await.result(observed.future, ObservedWait)
      row.getValuesMap[Any](row.schema.fieldNames.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }
}

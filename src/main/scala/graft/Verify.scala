package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // shared harness; Verify keeps Spark's STOCK broadcast threshold
    // (correctness runs exercise the non-broadcast plans too) and a
    // 4-core default — the compare host is small
    val spark = BenchHarness.session(cpusDefault = 4,
      extraConfs = Map("spark.sql.autoBroadcastJoinThreshold" -> "10MB"))
    new java.io.File(outDir).mkdirs()
    // Optional subset for local iteration (the driver sets no env):
    // SPARK_GRAFT_ONLY=q51,q52 runs only matching query names.
    val keep = BenchHarness.onlyFilter("SPARK_GRAFT_ONLY")
    val selected = SparkEntry.queries.filter { case (name, _) => keep(name) }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}

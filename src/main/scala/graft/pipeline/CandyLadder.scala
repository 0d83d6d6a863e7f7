package graft.pipeline

import graft.BenchHarness
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession

import java.io.File
import java.nio.file.Files
import java.time.LocalDate

/** The candy ladder: the paper's batch job at rising size.
  * `runMain graft.pipeline.CandyLadder [n1,n2,…]` runs ten days of `n`
  * transactions a day from `perfbench/gen_candy.py` (seed 7) per rung,
  * eight rungs from paper size to 60 times it when none are given, and
  * prints ONE JSON line, the shape of the committed `CANDYSCALE.json`:
  * `{"metric":"candy_scale","days":…,"cores":…,"points":[…]}`.
  *
  * Per rung, [[CandyPipeline]] runs non-adaptive, as the job runs, and
  * adaptive, through its test seam; the two arms alternate order every
  * round, with [[BenchHarness.quiesce]] after each run, outside its
  * window. Every run's reports must equal the sequential replay
  * `tools/gen_candy_golden.py` byte for byte, or the ladder throws naming
  * the rung, the arm and the report. A point carries its input's bytes,
  * in total and per core, the replay's seconds, each arm's min/med/max
  * seconds and the adaptive median over the non-adaptive one. Every input
  * is generated and synced before anything is timed, and both arms run
  * once, untimed, on the smallest rung first (JIT and class loading).
  */
object CandyLadder {

  // the rungs, in transactions a day, when none are given
  private val ladder = Seq(1000, 3000, 6000, 10000, 15000, 25000, 40000, 60000)

  private val days = 10
  // gen_candy.py's first day
  private val start = LocalDate.of(2024, 2, 1)
  private val end = start.plusDays(days - 1)
  private val reports = Seq("order_line_items", "products_updated", "orders", "daily_summary")
  private val arms = Seq("adaptive" -> true, "non_adaptive" -> false)

  private def reps(n: Int): Int = if (n <= 15000) 7 else 5

  /** Where rung `n` keeps its input (`data`), the replay's reports
    * (`golden`) and each arm's output.
    */
  private[pipeline] def rungDir(n: Int): File =
    new File(System.getProperty("java.io.tmpdir"), s"graft_candyscale_$n")

  /** Run the ladder over `sizes` on `spark` and return the record; the
    * session stays open.
    */
  def run(spark: SparkSession, sizes: Seq[Int]): String = {
    val cores = spark.sparkContext.defaultParallelism
    val rungs = sizes.distinct
    rungs.foreach { n =>
      log(s"generating @ $n")
      FileUtils.deleteQuietly(rungDir(n))
      sh("python3", "perfbench/gen_candy.py", s"${rungDir(n)}/data", "7", days.toString, n.toString)
    }
    sh("sync")
    val replaySec = rungs.map(n => n -> replay(n)).toMap

    arms.foreach { case (arm, adaptive) =>
      timeRun(spark, sizes.min, arm, adaptive)
      BenchHarness.quiesce(spark)
    }

    val points = sizes.map { n =>
      val secs = (1 to reps(n)).flatMap { i =>
        (if (i % 2 == 1) arms else arms.reverse).map { case (arm, adaptive) =>
          val sec = timeRun(spark, n, arm, adaptive)
          BenchHarness.quiesce(spark)
          arm -> sec
        }
      }.groupBy(_._1).map { case (arm, runs) => arm -> runs.map(_._2).sorted }
      arms.foreach { case (arm, _) =>
        log(s"$arm @ $n = " + secs(arm).map(s => f"$s%.2f").mkString("/") + " s")
      }
      def med(arm: String): Double = secs(arm)(secs(arm).size / 2)
      val bytes = FileUtils.sizeOfDirectory(new File(rungDir(n), "data"))
      obj(Seq(
        "tx_per_day" -> n.toString,
        "input_bytes" -> bytes.toString,
        "bytes_per_core" -> (bytes / cores).toString,
        "replay_sec" -> f"${replaySec(n)}%.2f") ++
        arms.map { case (arm, _) =>
          val s = secs(arm)
          arm -> obj(Seq(
            "sec" -> f"""{"min":${s.head}%.2f,"med":${med(arm)}%.2f,"max":${s.last}%.2f}""",
            "identical" -> "true"))
        } :+
        ("non_adaptive_speedup" -> f"${med("adaptive") / med("non_adaptive")}%.2f"))
    }
    obj(Seq(
      "metric" -> "\"candy_scale\"",
      "days" -> days.toString,
      "cores" -> cores.toString,
      "points" -> points.mkString("[", ",", "]")))
  }

  /** Writes rung `n`'s replay reports with the engine's LF line ends and
    * returns the replay's seconds.
    */
  private def replay(n: Int): Double = {
    val golden = new File(rungDir(n), "golden")
    golden.mkdirs()
    val sec = clock(sh("python3", "tools/gen_candy_golden.py", s"${rungDir(n)}/data", golden.getPath))
    reports.foreach { r =>
      val f = new File(golden, s"$r.csv").toPath
      Files.writeString(f, Files.readString(f).replace("\r\n", "\n"))
    }
    sec
  }

  /** One run of `arm` on rung `n`: its seconds, once every report is
    * checked against the replay.
    */
  private def timeRun(spark: SparkSession, n: Int, arm: String, adaptive: Boolean): Double = {
    val dir = rungDir(n)
    val out = new File(dir, s"out_$arm")
    val sec = clock(new CandyPipeline(spark, s"$dir/data", out.getPath, start, end).run(adaptive))
    reports.find { r =>
      !java.util.Arrays.equals(
        Files.readAllBytes(new File(out, s"$r.csv").toPath),
        Files.readAllBytes(new File(dir, s"golden/$r.csv").toPath))
    }.foreach { r =>
      throw new IllegalStateException(
        s"candy ladder rung $n, arm $arm: $r.csv differs from the replay in $dir/golden")
    }
    sec
  }

  private def clock(f: => Any): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  private def sh(cmd: String*): Unit = {
    val code = new ProcessBuilder(cmd: _*).inheritIO().start().waitFor()
    require(code == 0, s"${cmd.mkString(" ")} exited $code")
  }

  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")

  private def log(msg: String): Unit = System.err.println(s"[candy ladder] $msg")

  def main(args: Array[String]): Unit = {
    require(args.length <= 1, "usage: graft.pipeline.CandyLadder [n1,n2,…]")
    val sizes = args.headOption.map(_.split(",").map(_.trim.toInt).toSeq).getOrElse(ladder)
    val spark = BenchHarness.session()
    try println(run(spark, sizes))
    finally spark.stop()
  }
}

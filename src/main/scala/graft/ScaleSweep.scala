package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.jdk.CollectionConverters._

/** The one scale-evidence sweep:
  * `runMain graft.ScaleSweep <family> [n1,n2,…]` times one family of
  * [[ScaleFamilies]] over a ladder of input sizes (the family's own
  * ladder when none is given) and prints ONE JSON line, the shape of the
  * committed `*SCALE.json` / `CROSSOVER.json` records:
  * `{"metric":…, <header fields>, "points":[{<size key>:n, …}, …]}`.
  *
  * A family supplies only what is its own ([[Family]]); the harness
  * does the rest, once, on one path:
  *  - the [[BenchHarness.session]] measurement session;
  *  - every input generated before anything is timed, then one `sync`:
  *    a big corpus's async writeback otherwise lands inside the next
  *    timed window (the first IMSCALE record's non-monotonic hash times
  *    after its million-file write);
  *  - one untimed warm run per arm on the family's warm input (JIT and
  *    class loading);
  *  - per point, the family's setup, then `reps` timed runs per arm
  *    (in alternating rounds over the arms when the family is
  *    `interleaved`) with [[BenchHarness.quiesce]] after each, outside
  *    its window (the 2M-doc cleaner echo, and the forced collection
  *    that keeps the multi-hundred-MB text points alive: see quiesce);
  *  - min/med/max wherever a point takes more than one rep;
  *  - `SPARK_GRAFT_ONLY=a,b` keeps only the arms those names prefix;
  *  - `SPARK_GRAFT_ISOLATE=a,b` times the listed arms in a fresh JVM
  *    each (see [[isolated]]);
  *  - one stderr line per timed arm as it finishes, so a sweep that
  *    dies at a later point (the 4M-doc ENOSPC) keeps its finished
  *    numbers.
  */
object ScaleSweep {

  /** One ladder point: size `n`, its input directory, and whether it is
    * the ladder's first point (where once-per-sweep arms run).
    */
  final case class Point(n: Int, dir: String, first: Boolean)

  /** One timed run: its seconds plus counted fields, as rendered JSON. */
  final case class Run(sec: Double, fields: Seq[(String, String)] = Nil)

  /** A timed arm. `run` measures its own window — most arms through
    * [[timed]]; an arm that builds state first (the streaming ingests)
    * clocks only the part it prices. `at` picks the points it runs at.
    */
  final case class Arm(name: String, at: Point => Boolean = _ => true)(
      val run: Point => Run)

  /** What one scale family supplies: the record's `metric`, each
    * point's size field (`n_docs`, `k`, …), the default ladder, the warm
    * runs' size given the sweep's ladder, and the members below.
    */
  abstract class Family(
      val metric: String, val sizeKey: String, val ladder: Seq[Int],
      val warm: Seq[Int] => Int) {
    /** Writes the input for size `n` (or finds it written) and returns
      * its directory.
      */
    def input(spark: SparkSession, n: Int): String
    /** The arms, in timing order. Building them runs nothing. */
    def arms(spark: SparkSession): Seq[Arm]
    /** Header fields after `metric`, given the selected arm names. */
    def header(arms: Seq[String]): Seq[(String, String)] = Nil
    /** Untimed setup before a point's arms (and before the warm runs);
      * its fields open the point.
      */
    def setup(spark: SparkSession, p: Point): Seq[(String, String)] = Nil
    /** Untimed fields that close a point, from the median seconds of the
      * arms timed there and the selected arms it skipped.
      */
    def summary(
        spark: SparkSession, p: Point, secs: Seq[(String, Double)],
        skipped: Seq[String]): Seq[(String, String)] = Nil
    /** Timed runs per arm at size `n`. */
    def reps(n: Int): Int = 1
    /** Render an arm as `"arm":{"sec":…,<fields>}` instead of
      * `"arm":sec,<fields>`.
      */
    def nested: Boolean = false
    /** Time a point's in-process arms in rounds, one rep of each per
      * round in alternating order, instead of all reps of one arm after
      * the other: for arms that are two ways of doing the same work,
      * where host drift must reach both alike.
      */
    def interleaved: Boolean = false
  }

  /** The seconds `f` takes. */
  def timed(f: => Unit): Run = Run(clock(f)._2)

  def clock[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Force full evaluation without materializing wide output. */
  def drain(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def str(s: String): String = "\"" + s + "\""

  def list(xs: Seq[String]): String = xs.map(str).mkString("[", ",", "]")

  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  // Fresh-JVM isolate arm (r13 verdict #6): the light-to-heavy ordering
  // keeps spillers from contaminating downstream arms, but it makes every
  // number order-dependent by construction. An isolated arm gets a new
  // JVM per point (no residual heap/JIT/page-cache state from a 30 GB
  // digest-sort spill) with the same input arguments, so the only
  // variable is the isolation itself.
  private lazy val isolate: Set[String] = sys.env.get("SPARK_GRAFT_ISOLATE")
    .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    .getOrElse(Set.empty)

  /** Whether `SPARK_GRAFT_ISOLATE` lists `arm`: the exact name, or a
    * prefix anchored at the underscore boundary — a bare startsWith
    * would let "q13" silently isolate q132_hybrid_rrf_topk along with
    * q133/q134 and then mislabel the record (r14 ADVICE).
    */
  def isolated(arm: String): Boolean =
    isolate.contains(arm) || isolate.exists(p => arm.startsWith(p + "_"))

  /** Sweep `family` over `sizes` on `spark` and return the record; the
    * session stays open. `base` is the testdata dir the replicating
    * families (graph, warehouse, pq) scale up.
    */
  def run(
      spark: SparkSession, family: String, sizes: Seq[Int],
      base: String = ScaleFamilies.defaultBase): String = {
    val fam = ScaleFamilies.named(family, base)
    val keep = BenchHarness.onlyFilter("SPARK_GRAFT_ONLY")
    val arms = fam.arms(spark).filter(a => keep(a.name))
    val warmN = fam.warm(sizes)
    val dirs = (warmN +: sizes).distinct.map { n =>
      log(family, s"generating @ $n")
      n -> fam.input(spark, n)
    }.toMap
    new ProcessBuilder("sync").start().waitFor()

    val warm = Point(warmN, dirs(warmN), first = true)
    fam.setup(spark, warm)
    arms.filter(_.at(warm)).foreach { a =>
      a.run(warm)
      BenchHarness.quiesce(spark)
    }

    val points = sizes.zipWithIndex.map { case (n, i) =>
      val p = Point(n, dirs(n), first = i == 0)
      val opening = fam.setup(spark, p)
      val here = arms.filter(_.at(p))
      val rounds =
        if (fam.interleaved) inRounds(spark, fam, here.filterNot(a => isolated(a.name)), p)
        else Map.empty[String, Seq[Run]]
      val ran = here.map { a =>
        log(family, s"running ${a.name} @ $n" + (if (isolated(a.name)) " (fresh JVM)" else ""))
        val runs =
          if (isolated(a.name)) inFreshJvm(family, a, p, warm)
          else rounds.getOrElse(a.name, measure(spark, fam, a, p))
        val secs = runs.map(_.sec).sorted
        log(family, s"${a.name} @ $n = " + secs.map(s => f"$s%.2f").mkString("/") + " s" +
          runs.last.fields.map { case (k, v) => s" $k=$v" }.mkString)
        (a.name, runs)
      }
      val medians = ran.map { case (name, runs) =>
        name -> runs.map(_.sec).sorted.apply(runs.size / 2)
      }
      val skipped = arms.map(_.name).filterNot(medians.map(_._1).toSet)
      obj((fam.sizeKey -> n.toString) +: (opening ++
        ran.flatMap { case (name, runs) => entries(fam.nested, name, runs) } ++
        fam.summary(spark, p, medians, skipped)))
    }
    obj(("metric" -> str(fam.metric)) +: fam.header(arms.map(_.name)) :+
      ("points" -> points.mkString("[", ",", "]")))
  }

  private def log(family: String, msg: String): Unit =
    System.err.println(s"[sweep:$family] $msg")

  private def measure(spark: SparkSession, fam: Family, a: Arm, p: Point): Seq[Run] =
    inRounds(spark, fam, Seq(a), p)(a.name)

  /** `reps` rounds over `arms`, each arm once per round, the order
    * reversed every other round; each arm's runs in round order.
    */
  private def inRounds(spark: SparkSession, fam: Family, arms: Seq[Arm], p: Point): Map[String, Seq[Run]] =
    (1 to fam.reps(p.n)).flatMap { i =>
      (if (i % 2 == 1) arms else arms.reverse).map { a =>
        val r = a.run(p)
        BenchHarness.quiesce(spark)
        a.name -> r
      }
    }.groupBy(_._1).map { case (name, runs) => name -> runs.map(_._2) }

  /** An arm's record entries: its seconds (one rep: a number; more:
    * min/med/max) and its counted fields from the last rep.
    */
  private def entries(nested: Boolean, name: String, runs: Seq[Run]): Seq[(String, String)] = {
    val s = runs.map(_.sec).sorted
    val secs =
      if (s.size == 1) f"${s.head}%.2f"
      else f"""{"min":${s.head}%.2f,"med":${s(s.size / 2)}%.2f,"max":${s.last}%.2f}"""
    if (nested) Seq(name -> obj(("sec" -> secs) +: runs.last.fields))
    else (name -> secs) +: runs.last.fields
  }

  /** Stdout prefix of an isolated child's run lines. */
  private val RunLine = "@@run\t"

  private def inFreshJvm(family: String, a: Arm, p: Point, warm: Point): Seq[Run] = {
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
    val cmd = Seq(System.getProperty("java.home") + "/bin/java") ++ jvmArgs ++
      // pre-size the child heap: a fresh JVM starts at the tiny default
      // -Xms and GROWS the heap inside the timed giant sort, which the
      // long-lived sweep JVM paid long ago — measured +20-50% on the
      // multi-ten-second digest sorts before this (q133@200k: 39.7 s
      // fresh vs 20.7 in-sweep)
      (if (jvmArgs.exists(_.startsWith("-Xms"))) Nil
       else Seq(s"-Xms${Runtime.getRuntime.maxMemory}")) ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.ScaleSweep", "--isolated",
        family, a.name, p.n.toString, p.dir, p.first.toString, warm.n.toString, warm.dir)
    val proc = new ProcessBuilder(cmd.asJava)
      .redirectError(ProcessBuilder.Redirect.INHERIT).start()
    val out = new String(proc.getInputStream.readAllBytes, "UTF-8")
    val code = proc.waitFor()
    require(code == 0, s"isolated ${a.name} exited $code")
    val runs = out.linesIterator.filter(_.startsWith(RunLine)).map { line =>
      val kv = line.stripPrefix(RunLine).split("\t").toSeq.map { f =>
        val Array(k, v) = f.split("=", 2); (k, v)
      }
      Run(kv.head._2.toDouble, kv.tail)
    }.toSeq
    require(runs.nonEmpty, s"isolated ${a.name} printed no run line: $out")
    runs
  }

  /** The child side of [[inFreshJvm]]: warm the arm on the warm input,
    * exactly like the sweep, quiesce, then the point's timed runs, one
    * stdout line each.
    */
  private def isolatedChild(args: Seq[String]): Unit = {
    val Seq(family, arm, n, dir, first, warmN, warmDir) = args
    val spark = BenchHarness.session()
    try {
      val fam = ScaleFamilies.named(family, ScaleFamilies.defaultBase)
      val a = fam.arms(spark).find(_.name == arm)
        .getOrElse(throw new IllegalArgumentException(s"$family has no arm $arm"))
      val warm = Point(warmN.toInt, warmDir, first = true)
      val p = Point(n.toInt, dir, first.toBoolean)
      fam.setup(spark, warm)
      if (a.at(warm)) a.run(warm)
      fam.setup(spark, p)
      BenchHarness.quiesce(spark)
      measure(spark, fam, a, p).foreach { r =>
        println(RunLine + (("sec" -> r.sec.toString) +: r.fields)
          .map { case (k, v) => s"$k=$v" }.mkString("\t"))
      }
    } finally spark.stop()
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "--isolated" :: rest => isolatedChild(rest)
    case family :: ladder if ladder.size <= 1 && ScaleFamilies.names.contains(family) =>
      val sizes = ladder.headOption.map(_.split(",").map(_.trim.toInt).toSeq)
        .getOrElse(ScaleFamilies.named(family, ScaleFamilies.defaultBase).ladder)
      val spark = BenchHarness.session()
      try println(run(spark, family, sizes))
      finally spark.stop()
    case _ =>
      System.err.println("usage: graft.ScaleSweep <family> [n1,n2,…] with <family> one of " +
        ScaleFamilies.names.mkString(", "))
      sys.exit(2)
  }
}

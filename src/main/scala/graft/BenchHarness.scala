package graft

import org.apache.spark.sql.SparkSession

/** The ONE measurement-session harness every bench/verify main shares
  * (r12 verdict #7): session setup, `SPARK_GRAFT_SQLCONF` A/B plumbing,
  * env subset filters, and the between-query unpersist discipline
  * previously copy-pasted across `Bench`/`TextScaleBench`/
  * `StreamScaleBench`/the four scale benches/`Verify`/`ProfMain`. A
  * measurement-harness bug fixed in one copy and not the others is how
  * the r11 checkpoint-contamination episode stayed invisible for three
  * rounds — this object exists so there is exactly one copy to fix.
  *
  * The session is [[GraftSession.builder]]'s, at `SPARK_GRAFT_CPUS`
  * cores, so every conf and its rationale lives in that one place; this
  * object adds only what a measurement needs: the UI off, per-main
  * `extraConfs` (`Verify` passes Spark's stock 10MB broadcast threshold:
  * its job is correctness, and the smaller threshold exercises the
  * non-broadcast plans the oracle must match), builder-time
  * `SPARK_GRAFT_BUILDERCONF`, log level WARN and runtime
  * `SPARK_GRAFT_SQLCONF`.
  */
object BenchHarness {

  /** Build the measurement session. Applies `SPARK_GRAFT_SQLCONF`
    * runtime confs (see [[applyEnvSqlConf]]) and sets log level WARN —
    * callers get a session ready to time against.
    */
  def session(
      cpusDefault: Int = 32,
      extraConfs: Map[String, String] = Map.empty): SparkSession = {
    val cpus = GraftSession.envCpus(cpusDefault)
    val b = GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.ui.enabled", "false")
    // SPARK_GRAFT_BUILDERCONF: like SPARK_GRAFT_SQLCONF but applied at
    // session BUILD time — for core confs (e.g. the shuffle compression
    // codec) that cannot change once the context exists. Same k=v;k=v
    // format.
    val builderConfs = sys.env.get("SPARK_GRAFT_BUILDERCONF").toSeq
      .flatMap(_.split(";")).map(_.trim).filter(_.contains("="))
      .map { kv => val Array(k, v) = kv.split("=", 2); (k.trim, v.trim) }
    val spark = (extraConfs.toSeq ++ builderConfs).foldLeft(b) {
      case (bb, (k, v)) => bb.config(k, v)
    }.getOrCreate()
    // BUILDERCONF exists for confs that only bind at context creation
    // (e.g. spark.io.compression.codec). If a session already lived in
    // this JVM, getOrCreate silently ignored them — an A/B arm would
    // then record numbers under the WRONG codec with no error (r14
    // ADVICE). Verify each requested value actually took effect.
    builderConfs.foreach { case (k, v) =>
      val effective = spark.sparkContext.getConf.getOption(k)
        .orElse(scala.util.Try(spark.conf.getOption(k)).toOption.flatten)
      require(effective.contains(v),
        s"SPARK_GRAFT_BUILDERCONF $k=$v did not take effect " +
          s"(effective: ${effective.getOrElse("<unset>")}) — a " +
          "SparkSession already existed in this JVM; builder-time core " +
          "confs cannot be applied retroactively")
    }
    spark.sparkContext.setLogLevel("WARN")
    applyEnvSqlConf(spark)
    spark
  }

  /** A/B aid, now available to EVERY main: `SPARK_GRAFT_SQLCONF=
    * "k=v;k=v"` applies runtime SQL confs (e.g.
    * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold=128`)
    * before any timing. Segments without '=' (or empty, e.g. a trailing
    * ';') are skipped rather than MatchError-ing the run at startup.
    */
  def applyEnvSqlConf(spark: SparkSession): Unit =
    sys.env.get("SPARK_GRAFT_SQLCONF").foreach(
      _.split(";").map(_.trim).filter(_.contains("=")).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        spark.conf.set(k.trim, v.trim)
      })

  /** Comma-separated subset filter from `envVar` (profiling aid).
    * `matches(name)` is true when the env is unset or any listed entry
    * is a PREFIX of `name` — `SPARK_GRAFT_ONLY=q133,q134` selects
    * `q133_dup_substr_spans` etc.
    */
  def onlyFilter(envVar: String): String => Boolean = {
    val names = sys.env.get(envVar)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    name => names.forall(_.exists(name.startsWith))
  }

  /** The between-query unpersist discipline (r11): checkpoint-heavy
    * queries leave eager localCheckpoint blocks in the block manager,
    * and every LATER query in a sweep pays their memory pressure
    * (measured 2.5× inflation on an untouched q94 at sf1). Call OUTSIDE
    * the timed window; queries are independent by construction.
    *
    * Deliberately does NOT `System.gc()`: the collection itself would be
    * outside the window, but the ContextCleaner work it triggers —
    * shuffle-file unlinks, broadcast-removal RPCs — runs ASYNC and lands
    * inside the NEXT sample (r12: a uniform ~+0.1 s per sub-second
    * sample). Sweeps whose per-point working set OOMs without a forced
    * collection (TextScaleBench's multi-hundred-MB points) add their own
    * gc at the call site, where the regime is documented.
    */
  def dropCheckpointBlocks(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))

  /** Quiesce the async cleanup between timed windows — the 2M-doc
    * TEXTSCALE finding (r13): `System.gc()` between queries enqueues the
    * PREVIOUS query's shuffle-file unlinks and broadcast removals on the
    * ContextCleaner's own thread, and at 2M docs that is tens of GB of
    * deletion I/O landing INSIDE the next query's timed window —
    * measured 3×: q142 isolated 45 s, 138 s when one q133 (490M-row
    * digest sort, ~30 GB spilled shuffle) precedes it; at 1M docs the
    * same echo was only ~12%, which is why the r12 discipline
    * (unpersist + gc, no drain) looked sufficient. There is no public
    * drain API, so this polls THIS SESSION's scratch dirs — the block
    * manager's local dirs (via reflection on `SparkEnv`, the only route
    * to `DiskBlockManager.localDirs`; falls back to the JVM-tmpdir
    * "blockmgr-"/"spark-" walk if the private API moved) — until their
    * total size holds for TWO consecutive 500 ms samples, with a
    * bounded wait, then collects once more for stragglers whose weak
    * refs surfaced during the poll. Restricting the walk to our own
    * dirs matters on a shared bench host: another Spark process's
    * scratch churn under the same tmpdir would otherwise keep the
    * global size unstable and stall every between-query gap to the
    * full timeout (r13 ADVICE). Call OUTSIDE the timed window.
    */
  def quiesce(spark: SparkSession, timeoutMs: Long = 120000L): Unit = {
    dropCheckpointBlocks(spark)
    val roots = ownScratchDirs()
    def walk(f: java.io.File): Long =
      if (f.isFile) f.length
      else Option(f.listFiles).getOrElse(Array.empty[java.io.File]).map(walk).sum
    def scratchBytes: Long = roots.map(walk).sum
    val t0 = System.currentTimeMillis()
    var rounds = 0
    while (rounds < 2 && System.currentTimeMillis() - t0 < timeoutMs) {
      System.gc()
      var prev = -1L
      var cur = scratchBytes
      var stable = 0
      // stability = the size unchanged across TWO consecutive samples
      while (stable < 2 && System.currentTimeMillis() - t0 < timeoutMs) {
        Thread.sleep(500)
        prev = cur
        cur = scratchBytes
        if (cur == prev) stable += 1 else stable = 0
      }
      rounds += 1
    }
  }

  /** This JVM's Spark scratch roots. `DiskBlockManager.localDirs` (the
    * dirs shuffle files, spilled sorts, and disk-persisted blocks land
    * in) is `private[spark]`, so it is read reflectively off the
    * active `SparkEnv`; any failure falls back to the old global
    * tmpdir prefix walk (over-approximates on a shared host, never
    * under-approximates).
    */
  private def ownScratchDirs(): Seq[java.io.File] =
    try {
      val env = org.apache.spark.SparkEnv.get
      val bm = env.getClass.getMethod("blockManager").invoke(env)
      val dbm = bm.getClass.getMethod("diskBlockManager").invoke(bm)
      val dirs = dbm.getClass.getMethod("localDirs").invoke(dbm)
        .asInstanceOf[Array[java.io.File]]
      require(dirs.nonEmpty)
      dirs.toSeq
    } catch {
      case _: Throwable =>
        val tmp = new java.io.File(System.getProperty("java.io.tmpdir", "/tmp"))
        Option(tmp.listFiles).getOrElse(Array.empty[java.io.File])
          .filter(f => f.isDirectory &&
            (f.getName.startsWith("blockmgr-") || f.getName.startsWith("spark-")))
          .toSeq
    }
}

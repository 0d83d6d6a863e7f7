package graft

import org.apache.spark.sql.SparkSession

/** One place for the engine's recommended session configuration — the
  * settings that matter at the 100 TB design point, documented inline so
  * a deployment can override knowingly.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, or `default` when unset: the local core count
    * every main sizes its master and shuffle width from.
    */
  def envCpus(default: Int = 32): Int =
    sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption).getOrElse(default)

  def builder(
      master: String = s"local[${envCpus()}]",
      shufflePartitions: Int = envCpus()): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      // one shuffle partition per core locally; on a cluster size this to
      // ~2-3× total cores and let AQE coalesce down
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // AQE: runtime re-planning, skew-join splitting, partition coalescing
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Shuffles START wide (8× cores) and AQE coalesces DOWN to the
      // 64 MB advisory target — AQE can merge partitions but never
      // split them, so the initial width is the only guard against a
      // big stage sorting/aggregating in too-few, too-fat tasks. Found
      // at the text sweep's 500k-doc point (r12): the exact-substring
      // digest sort at 123M windows ran 32-wide → ~150 MB+spill per
      // task → 2.5× docs cost 4.5× time; at 128-wide the same query
      // returned to linear (q134 106→53 s). On a cluster size this to
      // ~8× total cores for the same reason. Under AQE
      // `conf.numShufflePartitions` returns this 8× width, so explicit
      // `repartition(n, …)` sites must use `defaultNumShufflePartitions`.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        (shufflePartitions * 8).toString)
      // The advisory target AQE coalesces DOWN to is COMPRESSED shuffle
      // bytes, but a post-shuffle task must hold its partition's
      // UnsafeRows + sort-pointer array in execution memory (acquired
      // in 64 MB pages) — an in-memory footprint ~3-4× the compressed
      // bytes. Execution memory is ~heap×0.6/cores per concurrent task,
      // so Spark's 64 MB default advisory overflows the share exactly
      // when every core is busy sorting: at the text sweep's 1M-doc
      // point (r13) the 245M-row digest sort spill-stormed (q133 205 s,
      // ±30% run-to-run; jstack caught UnsafeExternalSorter.spill →
      // TaskMemoryManager.trySpillAndAcquire), while a 24 MB advisory
      // ran 126 s — EXACTLY linear from the 500k point. Size it as
      // share/6 (≈4× inflation + page-granularity headroom), clamped to
      // [16 MB, 64 MB]; big heaps/few cores keep Spark's default, and
      // small stages just split a hair finer (measured: the sf0.1 suite
      // holds). On a cluster, divide executor memory by executor cores.
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        math.min(64L << 20, math.max(16L << 20,
          Runtime.getRuntime.maxMemory * 6 / 10 / shufflePartitions / 6))
          .toString)
      // Let AQE coalesce the final shuffle of a PERSISTED plan too. At the
      // false default a cached plan keeps the 8× initial width above: the
      // candy job's persisted `allocated` frame (~1 MB) ran five 32-task
      // stages on 4 cores, 160 of an operation's 205 tasks. Coalescing
      // only merges whole hash partitions, so a key's rows still meet in
      // one task, and explicit `repartition(n, …)` (REPARTITION_BY_NUM) is
      // never coalesced, so layouts built that way (ConnectedComponents'
      // symmetric relation) are kept. Measured on a 4-core host, with the
      // one-scan candy source: 205 → 32 tasks per candy operation, and
      // the benchmark's candy cpu_s 13.3 → 7.9 s (10 interleaved pairs).
      // Since then the candy job runs non-adaptive (CandyPipeline.run);
      // this conf shapes every other persisted plan.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // The status store retains job/stage/task/SQL-metric rows even
      // with the UI disabled, and its growth scales with TASK COUNT —
      // 8×-wide initial stages × a long query sweep accumulated
      // hundreds of MB of TaskDataWrapper/SQLPlanMetric in an 8 GB
      // driver JVM before the r12 caps (live-heap histogram evidence;
      // the floor pushed big-point aggregations over the edge). Keep
      // enough for post-hoc debugging, not a museum.
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "5000")
      .config("spark.sql.ui.retainedExecutions", "20")
      // dimensions up to 64 MB broadcast instead of shuffling the fact side
      .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
      // input split size: 128 MB keeps scan tasks large enough to amortize
      // open costs but small enough to spread across executors
      .config("spark.sql.files.maxPartitionBytes", "134217728")
      // collect_list/collect_set/percentile aggregates run via
      // ObjectHashAggregate, which silently degrades to SORT-based
      // aggregation after this many distinct keys per partition. The
      // stock default (128!) turns every adjacency/posting-list build
      // into an external sort — measured 20-60× slower on the triangle
      // query's adjacency aggregation. 2M entries ≈ hundreds of MB per
      // task worst-case; size DOWN (or size executors up) where
      // per-partition group cardinality × buffer width approaches
      // executor memory — the fallback is the OOM guard.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "2000000")
      // zstd shuffle/spill compression BY DEFAULT (r14 A/B, promoted in
      // r15): vs lz4 it is time-neutral on the heaviest shuffles in the
      // suite (exact-substring digest sort at 2M docs: 269/300 s
      // isolated-zstd vs 278/315 s lz4) and roughly HALVES shuffle
      // scratch bytes — which is the binding constraint at scale: the
      // 3M-doc point only fits this host's disk under zstd, and at
      // 100 TB per-node scratch is what sizes the fleet (TEXTSCALE
      // note_r14; BASELINE r14 #4). Core conf: binds at CONTEXT
      // creation only — a pre-existing session silently keeps its
      // codec (BenchHarness verifies its BUILDERCONF took; this
      // default is best-effort by design).
      .config("spark.io.compression.codec", "zstd")
      .config("spark.sql.session.timeZone", "UTC")
      // the ten custom expressions (simhash64, minhash_sig,
      // ngram_jaccard, lang_id, cosine_sim, rolling_chunks, word_ngrams,
      // cms_estimate, normalize_text, word_chunks; see
      // GraftExtensions.functions) available in SQL in every session this
      // builder makes. withExtensions applies even when the builder
      // reuses an already-running SparkContext, where the static
      // `spark.sql.extensions` conf would be silently ignored; setting
      // that conf as well injected every function twice, one
      // "replaced a previously registered function" WARN per function
      // per session.
      .withExtensions(new GraftExtensions)
}

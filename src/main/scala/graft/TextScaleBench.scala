package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale-evidence bench for the text/retrieval family (the companion to
  * `CrossoverBench`'s SemDeDup artifact): the per-round bench corpus is
  * 5,000 docs at sf0.1, far too small to show whether the one-pass BM25
  * (q101), inverted-index build (q102), span dedup (q105), and TF-IDF
  * (q42) designs hold as the corpus grows. This main generates a
  * deterministic Zipf-skewed corpus at several N (docs of 40–200 words,
  * ~1% planted occurrences of the fixed BM25 query terms so the scoring
  * legs stay non-degenerate), writes it in the driver's testdata layout,
  * and times the REGISTERED queries against it — the exact code paths
  * the driver checks, not bench-only variants. Prints ONE JSON line;
  * linear sec-vs-N (flat ms/doc) is the pass criterion, because every
  * one of these plans is a constant number of corpus passes plus
  * vocabulary-bounded shuffles.
  */
object TextScaleBench {
  def main(args: Array[String]): Unit = {
    // 500000 joined the default sweep in r12 (verdict #2: every past
    // cliff was found at the next decade — this one found two: the
    // 32-wide sort spill and the mark-spelling reversal)
    val sizes = sys.env.getOrElse("SPARK_GRAFT_TEXT_NS", "5000,50000,200000,500000")
      .split(",").map(_.trim.toInt).toSeq
    val cpus = GraftSession.envCpus().toString
    // shared measurement session + SPARK_GRAFT_SQLCONF A/B plumbing
    val spark = BenchHarness.session()

    // ORDERED LIGHT → HEAVY at each point, the biggest spillers LAST
    // (r13 2M-doc finding): even with BenchHarness.quiesce draining the
    // cleaner's unlink storm, a query that follows the two giant digest
    // sorters back-to-back still pays residual post-spill JVM/OS state —
    // q135 measured 66 s isolated, 105 s after ONE heavy (q134), 215 s
    // after both (q133+q134, ~590 s of spill) — while a LIGHT query in
    // between fully decays it (q136/q138/q142 after the fix matched
    // their isolated bands in the same sweep). Running spillers last
    // means nothing is downstream of them to contaminate; within the
    // non-spilling prefix, adjacency effects are inside run-to-run
    // noise. Family groupings below are kept within cost tiers.
    val queries = Seq(
      // tier 1: sub-linear / tiny working sets
      "q136_pack_offsets", "q101_bm25_topk",
      // tier 2: one to two corpus passes, modest shuffles
      "q105_span_dedup", "q42_tfidf_top_term",
      "q142_bpe_encode", "q143_pack_bpe",
      "q145_pack_boundaries", "q146_epoch_order",
      "epoch_order_10", "q147_bpe_decode",
      "q148_shard_assign", "q152_shard_tokens",
      "q102_inverted_index", "q132_hybrid_rrf_topk",
      // tier 3: exploded-bigram passes / gather (larger shuffles,
      // still linear)
      "q135_dsir_select", "q144_pack_gather",
      "q138_kn_lm_score", "q140_ccnet_lm_filter",
      // the standalone decontamination stage over the sweep's synthetic
      // embeddings (IVF-blocked probe join — modest, but after the
      // bigram tier so the fused-vs-sum arithmetic reads off one sweep)
      "q139_embed_decontam",
      // tier 4: the giant digest sorters — LAST, nothing downstream
      "q133_dup_substr_spans", "q134_dup_substr_cut",
      // the fused lineages contain the q134 digest sort, so they are
      // tier-4 spillers too and run at the very end; fused_decontam
      // (r14 verdict #3) is the full six-stage chain including the
      // embedding join
      "fused_pipeline", "fused_decontam")
      // optional subset filter (A/B aid): SPARK_GRAFT_TEXT_ONLY=q133,q134
      .filter(BenchHarness.onlyFilter("SPARK_GRAFT_TEXT_ONLY"))

    // sweep-only arms (fused text-only pipeline, 10-epoch order) live
    // in TextArms, shared with the fresh-JVM isolate main. The
    // fused-vs-sum-of-stages comparison reads fused_pipeline against
    // q134 + q142 + q144 + q148 at the same point: the fused run
    // re-reads no intermediate from parquet, so it must come in at or
    // under the sum.
    def queryFn(q: String): (SparkSession, String) => org.apache.spark.sql.DataFrame =
      TextArms.fn(q)

    // Fresh-JVM isolate arm (r13 verdict #6): SPARK_GRAFT_TEXT_ISOLATE=
    // q133,q134 forks ONE new JVM per listed query per point
    // (graft.TextScaleOne — same input arguments as this JVM, warmup on
    // the small corpus, one timed run), so spiller-adjacent numbers
    // never depend on sweep order. Everything else still times
    // in-process; the light-to-heavy ordering remains the default
    // mitigation when no isolate list is given.
    val isolate = sys.env.get("SPARK_GRAFT_TEXT_ISOLATE")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    // exact name, or a prefix anchored at the underscore boundary —
    // a bare startsWith would let "q13" silently isolate
    // q132_hybrid_rrf_topk along with q133/q134 and then mislabel the
    // emitted "isolated" field (r14 ADVICE)
    def isolated(q: String): Boolean =
      isolate.contains(q) || isolate.exists(p => q.startsWith(p + "_"))
    def runIsolated(q: String, dir: String, warmDir: String, oha: String): Double = {
      val javaBin = System.getProperty("java.home") + "/bin/java"
      val jvmArgs = java.lang.management.ManagementFactory
        .getRuntimeMXBean.getInputArguments
      val cmd = new java.util.ArrayList[String]()
      cmd.add(javaBin)
      cmd.addAll(jvmArgs)
      // pre-size the child heap: a fresh JVM starts at the tiny default
      // -Xms and GROWS the heap inside the timed giant sort, which the
      // long-lived sweep JVM paid long ago — measured +20-50% on the
      // multi-ten-second digest sorts before this (q133@200k: 39.7 s
      // fresh vs 20.7 in-sweep)
      if (!jvmArgs.stream().anyMatch(_.startsWith("-Xms")))
        cmd.add(s"-Xms${Runtime.getRuntime.maxMemory}")
      cmd.add("-cp"); cmd.add(System.getProperty("java.class.path"))
      cmd.add("graft.TextScaleOne")
      cmd.add(q); cmd.add(dir); cmd.add(warmDir); cmd.add(oha)
      val pb = new ProcessBuilder(cmd)
      pb.redirectErrorStream(false)
      pb.redirectError(ProcessBuilder.Redirect.INHERIT)
      val proc = pb.start()
      val out = new String(proc.getInputStream.readAllBytes, "UTF-8")
      val code = proc.waitFor()
      require(code == 0, s"isolated $q exited $code")
      val m = """"sec":([0-9.]+)""".r.findAllMatchIn(out).toSeq
      require(m.nonEmpty, s"isolated $q printed no timing line: $out")
      m.last.group(1).toDouble
    }

    def gen(n: Int): String = {
      val dir = s"/tmp/graft_textscale_$n"
      // Zipf-ish vocab via cubed uniform hash; fixed BM25/TF-IDF query
      // terms planted at ~1% so the term-restricted legs see real hits.
      def u(c: org.apache.spark.sql.Column) =
        pmod(xxhash64(c), lit(100000L)).cast("double") / 100000.0
      spark.range(n.toLong).select(col("id").as("doc_id"))
        .withColumn("len", (lit(40) + pmod(xxhash64(col("doc_id")), lit(161L))).cast("int"))
        .select(
          col("doc_id"),
          concat_ws(" ",
            transform(sequence(lit(0), col("len") - 1),
              j => {
                val pos = col("doc_id") * 1009L + j
                val r = u(pos)
                when(r < 0.004, lit("spark"))
                  .when(r < 0.008, lit("merge"))
                  .when(r < 0.012, lit("window"))
                  .when(r < 0.016, lit("table"))
                  .otherwise(concat(lit("w"),
                    floor(lit(5000.0) * pow(u(pos * 7L + 3L), 3.0))
                      .cast("long").cast("string")))
              })).as("text"),
          // 60/20/20 en/de/fr so the DSIR target-vs-raw split (q135,
          // target = en) stays non-degenerate as the corpus grows
          element_at(
            array(lit("en"), lit("en"), lit("en"), lit("de"), lit("fr")),
            (pmod(col("doc_id"), lit(5L)) + 1).cast("int")).as("lang"),
          concat(lit("src"), pmod(col("doc_id"), lit(20L)).cast("string")).as("source"))
        .withColumn("n_chars", length(col("text")))
        .repartition(cpus.toInt)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      // synthetic embedding table for the decontamination arms (r14
      // verdict #3): deterministic dim-64 vectors keyed by doc_id, ~2%
      // planted eval near-dups (vec_id % 50 == 7 copies the vector of
      // the eval probe at vec_id − 7, a % 25 == 0 id) so the stage has
      // real drops at every N. Only within the committed blocking
      // codebook ceiling — past it blockingFor THROWS by design, and
      // the sweep skips the arms instead of training a new book
      // mid-bench.
      if (n <= graft.model.IvfCentroids.blockingTrainedCeiling) {
        val dim = 64
        spark.range(n.toLong).select(col("id").as("vec_id"))
          .withColumn("__src",
            when(pmod(col("vec_id"), lit(50L)) === 7, col("vec_id") - 7)
              .otherwise(col("vec_id")))
          .select(
            col("vec_id"),
            transform(sequence(lit(0), lit(dim - 1)), j =>
              ((pmod(xxhash64(col("__src") * lit(dim.toLong) + j), lit(2001L))
                - 1000L).cast("double") / 1000.0).cast("float"))
              .as("embedding"))
          .repartition(cpus.toInt)
          .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      }
      dir
    }
    // arms that read the embedding table exist only within the codebook
    // ceiling (see gen)
    val needsEmb = Set("q139_embed_decontam", "fused_decontam")

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; val s = (System.nanoTime() - t0) / 1e9
      // Between queries, OUTSIDE the timed window: unpersist lingering
      // localCheckpoint blocks (r11: ~1.5-2× inflation on untouched
      // queries at 200k without it), force the collection that keeps the
      // 8g sweep heap alive (r12: without it the JVM OOMs, or at 24g
      // times every big sort 2× slower from churn on ~never-collected
      // garbage), AND — the 2M-doc find — WAIT for the ContextCleaner's
      // async shuffle-file unlink storm to drain: the gc enqueues the
      // previous query's tens-of-GB cleanup on the cleaner thread, and
      // at 2M docs that I/O landed inside the NEXT query's window
      // (q142: 45 s isolated, 138 s after one q133). quiesce polls the
      // scratch dirs to stability; see its scaladoc.
      BenchHarness.quiesce(spark)
      s
    }

    // warmup JIT on the smallest corpus
    val warmDir = gen(sizes.head)
    queries
      .filter(q => !needsEmb(q) ||
        sizes.head <= graft.model.IvfCentroids.blockingTrainedCeiling)
      .foreach(q =>
        queryFn(q)(spark, warmDir)
          .write.format("noop").mode("overwrite").save())

    val points = sizes.map { n =>
      val dir = gen(n)
      // record the exact-substring auto-pass decision against THIS
      // corpus and the host's real free scratch (r15 verdict next #3):
      // the sizing inputs ride along so a reader can replay the rule
      val (autoK, autoIn, autoFree) = graft.operators.ExactSubstr
        .autoPassDecision(spark.read.parquet(s"$dir/documents.parquet"))
      System.err.println(
        f"[textscale] exactSubstr auto passes=$autoK @ $n docs " +
          f"(input=${autoIn / 1e6}%.1f MB, free=${autoFree / 1e9}%.1f GB)")
      // the GraftSession sizing rule applied (see its fallbackThreshold
      // note: ObjectHashAggregate's sort fallback triggers on group
      // COUNT, never bytes — it is the only bound on per-group buffer
      // memory). At ≥500k docs the collect-style aggs (q102 postings,
      // q142 per-doc id streams) hold ~100 MB+ of buffers per task and
      // 32 concurrent tasks blow the 8g executor share
      // (AGGREGATE_OUT_OF_MEMORY, found in the r12 sweep); a low
      // threshold flips them to the external-sort path, which streams
      // one group at a time. Small points keep the fast object-hash
      // regime.
      spark.conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        if (n >= 500000) "1024" else "2000000")
      val oha = if (n >= 500000) "1024" else "2000000"
      val times = queries.filter(q =>
        !needsEmb(q) ||
          n <= graft.model.IvfCentroids.blockingTrainedCeiling).map { q =>
        System.err.println(s"[textscale] running $q @ $n" +
          (if (isolated(q)) " (fresh JVM)" else ""))
        val sec =
          if (isolated(q)) runIsolated(q, dir, warmDir, oha)
          else time(queryFn(q)(spark, dir)
            .write.format("noop").mode("overwrite").save())
        // incremental record on stderr: a sweep that dies at a later
        // point (the 4M ENOSPC) must not take its finished numbers
        // with it
        System.err.println(f"[textscale] $q @ $n = $sec%.2f s")
        q -> sec
      }
      (n, times, (autoK, autoIn, autoFree))
    }
    // per-point coverage is explicit (r15 ADVICE): points past the
    // blocking-codebook ceiling drop the embedding arms, so each point
    // carries the count it actually timed plus the skipped arm names —
    // a consumer diffing fused vs sum sees the gap instead of assuming
    // the registered count everywhere
    val json = points.map { case (n, ts, (autoK, autoIn, autoFree)) =>
      val qs = ts.map { case (q, s) => f""""$q":$s%.2f""" }.mkString(",")
      val skipped = queries.filterNot(ts.map(_._1).toSet)
        .map("\"" + _ + "\"").mkString("[", ",", "]")
      // qs may be empty (a pure sizing sweep times zero arms) — only
      // then would a bare ",$qs" emit a trailing comma, which is not JSON
      f"""{"n_docs":$n,"queries_timed":${ts.size},"skipped":$skipped,""" +
        f""""auto_passes":$autoK,"auto_input_mb":${autoIn / 1e6}%.1f,""" +
        f""""auto_free_gb":${autoFree / 1e9}%.1f""" +
        (if (qs.isEmpty) "}" else s",$qs}")
    }.mkString("[", ",\n ", "]")
    val iso = queries.filter(isolated).map("\"" + _ + "\"").mkString("[", ",", "]")
    println(s"""{"metric":"text_scale","queries_registered":${queries.size},"isolated":$iso,"points":$json}""")
    spark.stop()
  }
}

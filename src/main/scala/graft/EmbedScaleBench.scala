package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-evidence bench for blocked embedding near-dup (SemDeDup's
  * production path, r15 verdict next #7: q94/q50 had no point past sf1's
  * ~20k vectors). Sweeps [[graft.operators.Similarity.blockedNearDupPairs]]
  * over the TEXTSCALE synthetic embedding corpus (deterministic dim-64
  * vectors, 2% planted exact-copy near-dups: vec_id ≡ 7 (mod 50) copies
  * vec_id − 7) at corpus sizes far beyond the committed frozen-book
  * ceiling — so the arms run the PRODUCTION auto-K path (in-query
  * Lloyd's on a 16k sample, K = nprobe·√(N/2), the flop-balanced rule)
  * rather than a frozen book reused out of regime (the exact N²/K
  * growth the per-scale books exist to stop).
  *
  * Recorded per point — the numbers that decide whether the blocking
  * scales, not just whether it finishes:
  *  - `auto_k`, `neardup_sec`, survivor `pairs`;
  *  - `planted_recall_pct`: found planted copies / planted (exact
  *    copies assign to identical cells, so this isolates cell-cap and
  *    plumbing losses, not quantizer recall);
  *  - `incell_pairs`: Σ_cells (occ choose 2) — the in-cell candidate
  *    volume whose growth exponent is the scale story (flop-balanced
  *    auto-K predicts ~linear in N: nprobe²·N²/2K with K ∝ √N gives
  *    N^1.5/√2... per-cell balance holds it near nprobe·√(N/2)·N —
  *    the record tests the prediction);
  *  - `capped_cells` / `max_occ` / `mean_occ`: the skew-insurance hit
  *    rate (occupancy cap = 10× mean; see blockedNearDupPairs).
  * The stats pass re-derives the SAME quantizer (same seed, same
  * sample recipe) so it describes the timed run faithfully.
  *
  * Prints ONE JSON line (EMBSCALE.json).
  */
object EmbedScaleBench {
  def main(args: Array[String]): Unit = {
    val sizes = sys.env.getOrElse("SPARK_GRAFT_EMB_NS", "200000,600000,1500000")
      .split(",").map(_.trim.toInt).toSeq
    val dim = 64
    // τ = 0.9: the planted near-dups are exact copies (cosine 1.0), and
    // in-cell candidates are cosine-correlated BY CONSTRUCTION (same
    // nearest centroid), so the q50 gate of 0.4 — tuned for the narrow
    // testdata distribution — forms a correlation blob on this uniform
    // corpus (measured: 2.48M survivor edges vs 4,000 planted at 200k).
    // The candidate-scan COST is τ-independent (every candidate pays
    // its cosine either way); 0.9 keeps the survivor set dedup-shaped.
    val tau = 0.9
    val nprobe = 4
    val cpus = GraftSession.envCpus()
    val spark = BenchHarness.session()
    import spark.implicits._
    import graft.operators.Similarity

    def gen(n: Int): String = {
      val path = s"/tmp/graft_embscale_$n/embeddings.parquet"
      val marker = new java.io.File(s"/tmp/graft_embscale_$n/_DONE_$n")
      if (marker.exists()) return path
      // the TEXTSCALE embedding kernel verbatim: ~2% planted near-dups
      // (vec_id ≡ 7 mod 50 copies the vector of vec_id − 7)
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
        .repartition(cpus)
        .write.mode("overwrite").parquet(path)
      marker.createNewFile()
      path
    }

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; val s = (System.nanoTime() - t0) / 1e9
      BenchHarness.quiesce(spark)
      s
    }

    // JIT warmup
    {
      val w = gen(20000)
      Similarity.blockedNearDupPairs(
        spark.read.parquet(w), "vec_id", "embedding", tau, nprobe = nprobe)
        .write.format("noop").mode("overwrite").save()
      BenchHarness.quiesce(spark)
    }

    val gens = sizes.map { n =>
      System.err.println(s"[embscale] generating @ $n")
      (n, gen(n))
    }
    new ProcessBuilder("sync").start().waitFor()

    val points = gens.map { case (n, path) =>
      val emb = spark.read.parquet(path)
      val autoK = math.min(65536, math.max(16,
        (nprobe * math.ceil(math.sqrt(n.toDouble / 2))).toInt))
      var pairs = 0L
      var planted = 0L
      val sec = time {
        val survivors = Similarity.blockedNearDupPairs(
          emb, "vec_id", "embedding", tau, nprobe = nprobe)
          .localCheckpoint(true) // two consumers: total + planted split
        pairs = survivors.count()
        planted = survivors.filter(
          col("dst") - col("src") === 7 && pmod(col("dst"), lit(50L)) === 7)
          .count()
      }
      System.err.println(f"[embscale] neardup @ $n = $sec%.2f s " +
        s"(K=$autoK, pairs=$pairs, planted=$planted)")
      // occupancy/candidate stats off the SAME quantizer recipe (seed,
      // sample, auto-K) the timed run used — in-cell candidate volume
      // and cap hit rate, the growth record (untimed)
      val assigned = graft.operators.Spread.ensure(
        emb.select(col("vec_id").as("__id"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("__v")))
        .localCheckpoint(true)
      val cents = Similarity.trainQuantizer(
        assigned, "__v", autoK, seed = 7L,
        trainSample = math.max(16384, 32 * autoK), // the timed run's rule
        knownCount = n.toLong)
      val occ = assigned
        .select(explode(graft.functions.NearestCells.toCol(
          col("__v"), cents, nprobe)).as("__cell"))
        .groupBy(col("__cell")).agg(count(lit(1)).as("c"))
        .agg(
          sum(col("c") * (col("c") - 1) / 2).as("incell_pairs"),
          max(col("c")).as("max_occ"),
          avg(col("c")).as("mean_occ"),
          sum(when(col("c") >
            greatest(lit(64.0), lit(10.0 * nprobe * n.toDouble / autoK)), 1L)
            .otherwise(0L)).as("capped_cells"))
        .as[(Double, Long, Double, Long)].head()
      val plantedTotal = (n - 8) / 50 + 1 // vec_ids 7, 57, ... < n
      val json =
        f"""{"n_vecs":$n,"auto_k":$autoK,"neardup_sec":$sec%.2f,""" +
          f""""pairs":$pairs,"planted_found":$planted,""" +
          f""""planted_recall_pct":${planted * 100.0 / plantedTotal}%.1f,""" +
          f""""incell_pairs":${occ._1.toLong},"max_occ":${occ._2},""" +
          f""""mean_occ":${occ._3}%.1f,"capped_cells":${occ._4}}"""
      BenchHarness.quiesce(spark)
      json
    }
    println(s"""{"metric":"embed_scale","dim":$dim,"tau":$tau,""" +
      s""""nprobe":$nprobe,"points":[${points.mkString(",\n ")}]}""")
    spark.stop()
  }
}

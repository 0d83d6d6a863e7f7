package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import scala.collection.parallel.CollectionConverters._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`): brute-force cosine top-k as the exact baseline, and
  * a random-hyperplane LSH bucketed variant as the scale path.
  *
  * Scale design (100 TB): brute force is O(|queries| × |corpus|) — correct
  * as a baseline and fine when the query side is small enough to
  * broadcast (it is here: queries broadcast, corpus streams, no shuffle
  * of the big side; the per-partition top-k is cut by the window only
  * after a partial sort). The LSH path hashes both sides into
  * sign-pattern buckets (Charikar 2002 random hyperplanes) so each query
  * only scores its bucket — candidate volume drops by ~2^bits — at the
  * cost of recall; `probes > 1` re-probes neighboring buckets (one bit
  * flipped) to claw recall back. Everything is seeded/deterministic.
  */
object Similarity {

  /** Cosine similarity built from the [[graft.functions.CosineSim]]
    * expression, so every operator here works on any session, whether
    * or not it installed [[graft.GraftExtensions]].
    */
  private def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSim.toCol(a, b)

  /** Monotone suffix for cell-cap observation names: observe() names
    * must be unique within one query, and a caller may compose several
    * blocked passes into a single plan.
    */
  private val capObsSeq = new java.util.concurrent.atomic.AtomicLong(0L)
  private val capListenerOn = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Attach the star-verification metrics to the occupancy aggregate
    * (`graft.cell_cap.N`: capped_cells, max_occupancy, max_cell) and
    * register — once per JVM — a QueryExecutionListener that logs a
    * warning whenever a query star-verified at least one cell, so the
    * cap's recall loss is observable by default instead of silent.
    */
  private[operators] def observeCellCap(occ: DataFrame, maxCell: Long): DataFrame = {
    val spark = occ.sparkSession
    if (capListenerOn.compareAndSet(false, true))
      spark.listenerManager.register(
        new org.apache.spark.sql.util.QueryExecutionListener {
          private def report(qe: org.apache.spark.sql.execution.QueryExecution): Unit =
            qe.observedMetrics.foreach { case (name, row) =>
              if (name.startsWith("graft.cell_cap.") && row.getLong(0) > 0L)
                org.apache.log4j.Logger.getLogger(classOf[Similarity.type])
                  .warn(s"$name: ${row.getLong(0)} oversized cell(s) star-verified " +
                    s"(max occupancy ${row.getLong(1)}, cap ${row.getLong(2)}) — " +
                    "in-cell non-star pairs lost their direct edge; pass " +
                    "maxCellFactor = Double.MaxValue for exact in-cell recall")
            }
          override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
            report(qe)
          override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
        })
    occ.observe(
      s"graft.cell_cap.${capObsSeq.incrementAndGet()}",
      sum(when(col("__cnt") > maxCell, 1L).otherwise(0L)).as("capped_cells"),
      coalesce(max(col("__cnt")), lit(0L)).as("max_occupancy"),
      lit(maxCell).as("max_cell"))
  }

  /** Dot product of two double arrays (codegen'd HOFs, no UDF). */
  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  private def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x * x), lit(0.0), (acc, x) => acc + x))

  private def toDouble(c: Column): Column = transform(c, x => x.cast("double"))

  /** Exact brute-force cosine top-k.
    *
    * @param corpus  (idCol, vecCol) big side — streamed, never shuffled
    *                until the final per-query top-k
    * @param queries (idCol, vecCol) small side — broadcast
    * @return (query_id, neighbor_id, cosine, rank), rank 1..k per query,
    *         self-matches excluded, ties broken by neighbor id
    */
  def bruteForceCosineTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    // corpus side does |corpus|·|queries| dot products map-side against
    // the broadcast — spread a single-block scan or one core does it all
    val c = Spread.ensure(corpus.select(
      col(idCol).as("neighbor_id"),
      toDouble(col(vecCol)).as("__cv")))
    val q = queries.select(
      col(idCol).as("query_id"),
      toDouble(col(vecCol)).as("__qv"))
    val scored = c
      .join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", cosine(col("__cv"), col("__qv")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Deterministic pseudo-random hyperplanes: `bits` planes of dimension
    * `dim`, components in [-1, 1) from a seeded SplitMix64.
    */
  private[operators] def hyperplanes(bits: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    var x = seed
    def next(): Long = {
      x += 0x9e3779b97f4a7c15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    Array.fill(bits, dim)(next().toDouble / Long.MaxValue.toDouble)
  }

  /** Deterministic Lloyd's k-means over an in-memory sample (the IVF
    * coarse quantizer — trained on a bounded sample exactly as FAISS
    * does). Seeded-shuffle init; an emptied cluster keeps its previous
    * centroid. Cost: O(iters · |sample| · k · dim) driver flops — ~10⁸
    * for the defaults, microscopic next to one Spark job's scheduling.
    */
  private[operators] def fitCentroids(
      sample: Array[Array[Double]],
      k: Int,
      iters: Int,
      seed: Long): Array[Array[Double]] = {
    require(sample.nonEmpty, "cannot fit a quantizer on an empty sample")
    val dim = sample.head.length
    val kk = math.min(k, sample.length)
    val init = new scala.util.Random(seed).shuffle(sample.indices.toVector).take(kk)
    val centroids = init.map(i => sample(i).clone()).toArray
    // The assignment step is |sample|·k·dim flops per iteration — ~3·10⁹
    // at k≈√N=224 — which single-threaded stalls the whole cluster for
    // seconds while 32 cores idle. It is embarrassingly parallel over
    // sample points: each thread folds its slice into private
    // counts/sums, merged sequentially (deterministic: merge order is
    // fixed by slice index, and per-slice sums add the same doubles in
    // the same order regardless of thread scheduling).
    val nThreads = math.max(1, math.min(
      Runtime.getRuntime.availableProcessors(),
      sample.length / 512 + 1))
    val slices = (0 until nThreads)
      .map(t => (t * sample.length / nThreads, (t + 1) * sample.length / nThreads))
    var it = 0
    while (it < iters) {
      val parts = slices.par.map { case (lo, hi) =>
        val counts = new Array[Long](kk)
        val sums = Array.ofDim[Double](kk, dim)
        var i = lo
        while (i < hi) {
          val p = sample(i)
          var best = 0
          var bestD = Double.MaxValue
          var c = 0
          while (c < kk) {
            var d = 0.0
            val ctr = centroids(c)
            var j = 0
            while (j < dim) { val t = p(j) - ctr(j); d += t * t; j += 1 }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          counts(best) += 1
          val s = sums(best)
          var j = 0
          while (j < dim) { s(j) += p(j); j += 1 }
          i += 1
        }
        (counts, sums)
      }.toIndexedSeq
      val counts = new Array[Long](kk)
      val sums = Array.ofDim[Double](kk, dim)
      parts.foreach { case (pc, ps) =>
        var c = 0
        while (c < kk) {
          counts(c) += pc(c)
          val s = sums(c); val q = ps(c)
          var j = 0
          while (j < dim) { s(j) += q(j); j += 1 }
          c += 1
        }
      }
      var c = 0
      while (c < kk) {
        if (counts(c) > 0) {
          var j = 0
          while (j < dim) { centroids(c)(j) = sums(c)(j) / counts(c); j += 1 }
        }
        c += 1
      }
      it += 1
    }
    centroids
  }

  /** Quantizer training: Lloyd's on a bounded, seeded sample collected to
    * the driver — the FAISS-standard IVF recipe (the coarse quantizer is
    * always trained on a memory-bounded sample, not the corpus; at 100 TB
    * the sample is still `trainSample` rows). This replaces a spark.ml
    * KMeans fit whose 20 iterations each launched a distributed job —
    * pure scheduling overhead at any scale, since the reduction work fits
    * in microseconds of driver CPU.
    */
  /** @param knownCount pass the corpus row count when the caller already
    *                    has it — avoids a second full scan of the input
    */
  private[graft] def trainQuantizer(
      corpus: DataFrame,
      vecCol: String,
      numCells: Int,
      seed: Long,
      trainSample: Int,
      knownCount: Long = -1L): Array[Array[Double]] = {
    val nRows = if (knownCount >= 0L) knownCount else corpus.count()
    val fraction = math.min(1.0, trainSample * 1.2 / math.max(nRows, 1L).toDouble)
    val sample: Array[Array[Double]] = corpus
      .select(toDouble(col(vecCol)).as("__v"))
      .sample(withReplacement = false, fraction, seed)
      .limit(trainSample)
      .collect()
      .map(_.getSeq[Double](0).toArray)
    fitCentroids(sample, numCells, iters = 20, seed)
  }

  /** SemDeDup at scale: the blocked variant of q82's exact pipeline.
    * Every vector lands in its `nprobe` nearest IVF cells
    * (multi-assignment is the recall lever — a pair is compared iff the
    * two vectors SHARE at least one cell), pairwise cosine runs within
    * cells only, and surviving edges feed the same components → min-id
    * survivor selection. Candidate volume ≈ Σ cell² instead of N² —
    * the production path when all-pairs is unaffordable; precision is
    * exact (every emitted pair is cosine-verified), recall is measured
    * against the exact variant in `SimilaritySpec`.
    */
  /** @param numCells coarse-quantizer size; 0 (default) = auto ≈ ⌈√N⌉
    *                  (FAISS guidance), clamped to [16, 65536]. With K
    *                  cells and nprobe-way assignment, candidate volume
    *                  is ≈ nprobe²·N²/K — K MUST grow with N or blocking
    *                  prunes nothing (K=16 at N=5000 was measured SLOWER
    *                  than the exact broadcast loop: same 12.5M pairs
    *                  plus shuffle overhead).
    */
  /** `frozenCentroids`: pre-trained codebook (the q77/q32 freeze
    * discipline) — skips the in-query fit AND the auto-K sizing, making
    * the candidate set deterministic and the whole blocked pipeline
    * SQL-replayable (q94's oracle). The frozen K must be sized for the
    * corpus it serves (the auto-K rule below is the guide); in-query
    * auto-K training remains the production default.
    */
  def blockedSemDedup(
      vecs: DataFrame,
      idCol: String,
      vecCol: String,
      tau: Double,
      numCells: Int = 0,
      nprobe: Int = 4,
      seed: Long = 7L,
      trainSample: Int = 16384,
      frozenCentroids: Option[Array[Array[Double]]] = None,
      maxCellFactor: Double = 10.0): DataFrame = {
    val pairs = blockedNearDupPairs(
      vecs, idCol, vecCol, tau, numCells, nprobe, seed, trainSample,
      frozenCentroids, maxCellFactor)
    val dropped = ConnectedComponents.byMinLabel(pairs)
      .filter(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    vecs.join(dropped, Seq(idCol), "left_anti")
  }

  /** The EDGE stage of [[blockedSemDedup]], exposed on its own:
    * cosine-verified near-duplicate pairs `(src, dst)` (src < dst) from
    * the IVF-cell-blocked candidate set. Shared by the survivor pipeline
    * above and the component-map query (q50) — both views of the same
    * near-dup graph, generated once with the same scale bound
    * (candidates ≈ Σ cell², never N²).
    */
  /** `maxCellFactor`: per-cell occupancy cap, as a multiple of the MEAN
    * occupancy `nprobe·N/K` (floor 64 absolute). Auto-K balances the
    * EXPECTED occupancy, but a real-world degenerate cluster — empty /
    * boilerplate docs collapsing to near-identical vectors, the exact
    * population dedup exists to catch — can land N_c ≫ mean rows in ONE
    * cell, and the uncapped self-join then emits N_c² candidates on one
    * shuffle key (the skew analog of MinHash banding's oversized
    * buckets, see [[Dedup.sharedChunkPairs]]). Cells over the cap are
    * STAR-verified instead: every member is cosine-checked against the
    * cell's minimum id only — O(N_c) pairs, exact precision (every
    * emitted edge is still cosine ≥ τ). The emitted pair LIST is
    * complete only for cells ≤ cap, but in the degenerate regime that
    * triggers the cap the members are near-identical — mutually ≥ τ —
    * so the star keeps them connected through the min id and the
    * component/survivor consumers (q50/q94) see the same clusters.
    * Measured occupancy on every committed corpus is ≤ 1.3× mean, so at
    * the default 10× the cap is pure skew insurance there.
    */
  def blockedNearDupPairs(
      vecs: DataFrame,
      idCol: String,
      vecCol: String,
      tau: Double,
      numCells: Int = 0,
      nprobe: Int = 4,
      seed: Long = 7L,
      trainSample: Int = 16384,
      frozenCentroids: Option[Array[Array[Double]]] = None,
      maxCellFactor: Double = 10.0): DataFrame = {
    // candidate generation moves (cell, id) rows ONLY — dedup of the
    // pair list happens on two longs; the 2×dim vector payloads attach
    // ONCE per surviving pair side, never per shared cell.
    // Spread BEFORE the checkpoint: the N·K·dim cell assignment (512M
    // flops at sf1) and both join map sides inherit the checkpoint's
    // partitioning, and a single-row-group corpus file would pin all of
    // it to one core — the compute-dominant case Spread exists for.
    val assigned = Spread
      .ensure(vecs.select(col(idCol).as("__id"), toDouble(col(vecCol)).as("__v")))
      .localCheckpoint(true) // reused: count + train sample + cell assignment + both vector sides
    // one materializing scan above; the count below reads checkpointed blocks
    val n = assigned.count()
    if (n <= 1L) // no pairs possible; also keeps fitCentroids off an empty sample
      return assigned.limit(0)
        .select(col("__id").as("src"), col("__id").as("dst"))
    // auto-K minimizes total flops: assignment costs N·K·dim, the
    // within-cell pair pass costs nprobe²·N²·dim/(2K) — balanced at
    // K* = nprobe·√(N/2). (Plain √N — the top-k IVF guidance — sizes
    // cells for query fan-out, not for all-pairs occupancy, and measured
    // ~2× slower here at N=50k.)
    val centroids = frozenCentroids.getOrElse {
      val k =
        if (numCells > 0) numCells
        else math.min(65536, math.max(16,
          (nprobe * math.ceil(math.sqrt(n.toDouble / 2))).toInt))
      // the train sample must SCALE WITH K (EMBSCALE r16): a fixed 16k
      // sample at auto-K = 3468 leaves ~4.7 rows per centroid, Lloyd's
      // cannot populate the cells, occupancy skews (measured max/mean
      // 10.5× at 1.5M vectors), and the Σocc²-shaped candidate volume
      // grew ~N^1.9 instead of the flop-balanced N^1.5. 32 rows per
      // centroid restores the balance assumption; the fitter is
      // thread-parallel, so the bigger sample costs seconds, and
      // `trainSample` keeps acting as the caller's floor.
      trainQuantizer(assigned, "__v", k, seed,
        math.max(trainSample, 32 * k), knownCount = n)
    }
    // Vectors ride WITH the (cell, id) rows and cosine evaluates inside
    // the cell join, so only SURVIVING pairs ever materialize. The
    // earlier id-only design (candidates.distinct, then two joins to
    // re-attach vectors) shuffled every candidate pair — nprobe²·N²/K
    // rows, ≫ the N·nprobe cell rows — through two hash joins; carrying
    // the 2·dim payload once per cell row costs ~dim·8·nprobe bytes/row
    // while saving two candidate-volume shuffles. A pair sharing several
    // probe cells re-computes its cosine per shared cell (≤ nprobe×,
    // ~50 ns each, fused in the join) and dedups AFTER the τ filter,
    // where the survivor set is ~component-sized, not candidate-sized.
    val cells = assigned
      .select(col("__id"), col("__v"),
        explode(graft.functions.NearestCells.toCol(col("__v"), centroids, nprobe))
          .as("__cell"))
    // occupancy gate (see maxCellFactor doc), spelled as a LEFT-side
    // filter on the self-join rather than a quadratic/star UNION of two
    // arms: the join's left input keeps a row iff its cell is under the
    // cap OR the row is the cell's min. A sub-cap cell then joins
    // all-pairs exactly as before; an oversized cell's left bucket
    // holds ONLY the min row, so the hash join enumerates N_c star
    // candidates instead of N_c² — the blowup is prevented inside the
    // join, not filtered after. (The union spelling of quadratic+star
    // arms additionally tripped a Spark 4.1 InferFiltersFromConstraints
    // NoSuchElementException when a join sat above the shared lineage.)
    // Per-cell (count, min) comes from a map-side-combinable aggregate
    // — K rows total, broadcast back — NOT a window over the cells
    // frame: the window's hash exchange would shuffle+sort the
    // vector-payload-carrying rows that otherwise never shuffle here
    // (the self-join broadcasts at small scale and reuses one exchange
    // at large), measured +0.4–0.6 s on q50/q94 at sf0.1. The occ
    // branch re-runs the NearestCells assignment off the checkpoint
    // (pure map-side flops, column-pruned to drop the payload) — CPU
    // it trades for carrying zero extra bytes through any exchange.
    val maxCell = math.max(
      64L, math.ceil(maxCellFactor * nprobe * n / centroids.length).toLong)
    // capped cells trade recall for skew safety (non-star pairs inside
    // an oversized cell lose their direct edge) — that loss must be
    // OBSERVABLE, not silent (r10 advice): an observe() on the K-row
    // occupancy aggregate records how many cells star-verified and the
    // worst occupancy, free of extra jobs or shuffles, and a
    // once-per-JVM listener logs a warning whenever the count is
    // nonzero. Callers wanting exact in-cell recall pass
    // maxCellFactor = Double.MaxValue explicitly.
    val occ = Similarity.observeCellCap(
      cells.groupBy(col("__cell"))
        .agg(count(lit(1)).as("__cnt"), min(col("__id")).as("__minid")),
      maxCell)
    val starters = cells
      .join(broadcast(occ), Seq("__cell"))
      .filter(col("__cnt") <= maxCell || col("__id") === col("__minid"))
      .drop("__cnt", "__minid")
    starters.alias("x")
      .join(cells.alias("y"),
        col("x.__cell") === col("y.__cell") && col("x.__id") < col("y.__id"))
      .filter(cosine(col("x.__v"), col("y.__v")) >= tau)
      .select(col("x.__id").as("src"), col("y.__id").as("dst"))
      .distinct()
  }

  /** INGEST-TIME SemDeDup: a new batch checked for near-duplicates
    * against an already-indexed corpus through the IVF cell index — the
    * q99 incremental-dedup contract lifted from exact hashes to cosine
    * similarity, and the query-side twin of [[graft.operators.IvfLayout
    * .appendBatch]]: at ingest each new vector is assigned its cell
    * (that's the index write) and PROBES its `nprobe` nearest cells for
    * existing neighbors (that's the dedup read). The history is touched
    * only through its (cell → vectors) index — at 100 TB the cell-
    * partitioned layout q126/q127 maintain — so checking a 1 TB batch
    * into a 100 TB corpus scores candidates in probed cells only, never
    * rescans the corpus, and the candidate volume is the q94 blocked
    * bound (≈ nprobe·|batch|·N/K) instead of |batch|·N.
    *
    * Decisions mirror q99 exactly: a batch vector with a cosine-≥-τ
    * match among indexed HISTORY vectors in its probe cells is
    * `dup_of_history` (dup_of = the LOWEST matching history id — min,
    * not argmax, so no float ranking crosses engines); otherwise a
    * match among EARLIER batch rows (lower id, already assigned their
    * cell by the time this row probes) is `dup_in_batch`; otherwise
    * `kept`. Candidates are (prober → indexed-side single assigned
    * cell), faithful to what a stored index can serve; recall is
    * bounded by nprobe like every IVF read (the q94/CROSSOVER recall
    * story), and the whole decision function is deterministic and
    * SQL-replayable (q131's oracle).
    */
  def incrementalSemDedup(
      history: DataFrame,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      tau: Double,
      centroids: Array[Array[Double]],
      nprobe: Int = 4): DataFrame = {
    def assigned(df: DataFrame, hist: Boolean): DataFrame =
      df.select(col(idCol).cast("long").as("__iid"),
          toDouble(col(vecCol)).as("__iv"))
        .withColumn("__cell",
          element_at(
            graft.functions.NearestCells.toCol(col("__iv"), centroids, 1), 1))
        .withColumn("__hist", lit(hist))
    // the indexed side: history plus the batch's own assignments (an
    // earlier batch row is already in the index when a later row probes)
    val index = assigned(history, hist = true)
      .unionByName(assigned(batch, hist = false))
    val probes = batch
      .select(col(idCol).cast("long").as("__bid"),
        toDouble(col(vecCol)).as("__bv"))
      .select(col("__bid"), col("__bv"),
        explode(
          graft.functions.NearestCells.toCol(col("__bv"), centroids, nprobe))
          .as("__pcell"))
    // candidates share a cell; vectors ride with the rows (the q94
    // shape) so cosine evaluates inside the join and only matches move
    val matches = probes
      .join(index,
        col("__pcell") === col("__cell") &&
          col("__iid") =!= col("__bid") &&
          (col("__hist") || col("__iid") < col("__bid")))
      .filter(cosine(col("__bv"), col("__iv")) >= tau)
      .groupBy(col("__bid"))
      .agg(
        min(when(col("__hist"), col("__iid"))).as("__hist_id"),
        min(when(!col("__hist"), col("__iid"))).as("__bdup_id"))
    batch.select(col(idCol).cast("long").as("__bid"))
      .join(matches, Seq("__bid"), "left")
      .select(
        col("__bid").as(idCol),
        when(col("__hist_id").isNotNull, lit("dup_of_history"))
          .when(col("__bdup_id").isNotNull, lit("dup_in_batch"))
          .otherwise(lit("kept")).as("status"),
        coalesce(col("__hist_id"), col("__bdup_id")).as("dup_of"))
  }

  /** SEMANTIC decontamination: corpus vectors within cosine τ of any
    * EVAL-set vector, found through the IVF cell index — the embedding
    * lift of [[Contamination.benchmarkOverlap]]'s n-gram check (q56),
    * catching paraphrased/reworded benchmark leakage that shares no
    * 5-gram with the eval text (the gap n-gram decontamination is known
    * to leave open). Same read pattern as [[incrementalSemDedup]]:
    * each corpus vector is INDEXED at its rank-1 cell (what a stored
    * cell-partitioned layout serves, q126/q127), each eval vector
    * PROBES its `nprobe` nearest cells — so checking a benchmark suite
    * against a 100 TB corpus touches nprobe·|eval| cells, never the
    * corpus, and candidate volume is ≈ nprobe·|eval|·N/K, not
    * |eval|·N. Corpus-side rank-1 assignment means each (corpus, eval)
    * pair can surface through at most one cell — no dedup pass needed.
    *
    * Returns one row per CONTAMINATED corpus id: `n_eval_hits` (how
    * many eval vectors matched) and `eval_id` (the LOWEST matching eval
    * id — min, not argmax, so no float ranking crosses engines).
    * Dropping flagged ids is the caller's anti-join (the q30/q31
    * apply pattern).
    *
    * Recall is nprobe-bounded like every IVF read, and — unlike the
    * SemDeDup family — no component closure repairs blocking misses
    * here, so the bound is the DIRECT pair-capture rate. Measured at
    * sf1 against the exact 96M-pair check (50k corpus, 2k eval, frozen
    * sf1 book): in the true contamination regime τ ≥ 0.6 — eval
    * near-copies, which is what benchmark leakage looks like in
    * embedding space — recall is 1.0 (14/14 planted pairs; a
    * near-copy's rank-1 cell is its original's rank-1 cell). At
    * speculative low thresholds the geometry genuinely spreads across
    * cells and the rank-1×4-probe read captures 0.22 of τ=0.4 pairs
    * (0.75 even at nprobe=64, 0.45 under symmetric 4×4
    * multi-assignment — raising nprobe does not buy this regime back);
    * a 66°-apart pair is not "contamination", but callers screening
    * that loosely should run the exact brute-force sibling
    * [[evalContaminatedExact]] (q141 — registered and oracle-checked,
    * the same exact-vs-scale pairing as q33→q94, q104→q132, q110→q129)
    * at yardstick scale instead. Precision is exact in every regime:
    * each emitted hit is cosine-verified.
    */
  def evalContaminated(
      corpus: DataFrame,
      evalSet: DataFrame,
      idCol: String,
      vecCol: String,
      tau: Double,
      centroids: Array[Array[Double]],
      nprobe: Int = 4): DataFrame = {
    val indexed = corpus
      .select(col(idCol).cast("long").as("__cid"),
        toDouble(col(vecCol)).as("__cv"))
      .withColumn("__cell",
        element_at(
          graft.functions.NearestCells.toCol(col("__cv"), centroids, 1), 1))
    val probes = evalSet
      .select(col(idCol).cast("long").as("__eid"),
        toDouble(col(vecCol)).as("__ev"))
      .select(col("__eid"), col("__ev"),
        explode(
          graft.functions.NearestCells.toCol(col("__ev"), centroids, nprobe))
          .as("__pcell"))
    probes
      .join(indexed, col("__pcell") === col("__cell"))
      .filter(cosine(col("__ev"), col("__cv")) >= tau)
      .groupBy(col("__cid"))
      .agg(count(lit(1)).as("n_eval_hits"), min(col("__eid")).as("eval_id"))
      .select(col("__cid").as(idCol), col("n_eval_hits"), col("eval_id"))
  }

  /** EXACT cross-set decontamination — [[evalContaminated]]'s
    * brute-force yardstick (the measurement q139's per-regime recall
    * was taken against at sf1): every (corpus, eval) pair is
    * cosine-checked, so recall is 1.0 by construction at ANY τ. Same
    * output contract as the IVF path — one row per contaminated corpus
    * id, `(n_eval_hits, min eval_id)`.
    *
    * Scale shape: O(|corpus|·|eval|) with the eval side BROADCAST —
    * the eval set is a benchmark suite (thousands of rows, not a
    * corpus), so the corpus streams map-side with zero shuffle and the
    * pass parallelizes over corpus splits; the per-pair cosine is the
    * fused native [[graft.functions.CosineSim]] kernel. This is the
    * yardstick arm: at 100 TB the production read is
    * [[evalContaminated]]'s nprobe·|eval|·N/K cell probe, and THIS
    * pass — linear in the corpus, embarrassingly parallel — is what
    * you run once per benchmark-suite release to measure that read's
    * recall in your τ regime (or simply run directly when |eval| is
    * small enough that corpus×|eval| flops are affordable — it has no
    * recall asterisk at all).
    */
  def evalContaminatedExact(
      corpus: DataFrame,
      evalSet: DataFrame,
      idCol: String,
      vecCol: String,
      tau: Double): DataFrame = {
    // spread: the broadcast join's parallelism is the streamed corpus
    // side's split count (the q82 lesson — a single-row-group file
    // caps the whole N·E cosine pass at 1-2 cores)
    val c = Spread.ensure(corpus
      .select(col(idCol).cast("long").as("__cid"),
        toDouble(col(vecCol)).as("__cv")))
    val e = evalSet
      .select(col(idCol).cast("long").as("__eid"),
        toDouble(col(vecCol)).as("__ev"))
    c.join(broadcast(e), cosine(col("__cv"), col("__ev")) >= tau)
      .groupBy(col("__cid"))
      .agg(count(lit(1)).as("n_eval_hits"), min(col("__eid")).as("eval_id"))
      .select(col("__cid").as(idCol), col("n_eval_hits"), col("eval_id"))
  }

  /** Sign-pattern LSH bucket id for a vector column — one fused native
    * pass over the vector (see [[graft.functions.LshBuckets]]); bit-
    * identical to the per-plane HOF formulation it replaced.
    */
  def lshBucket(vecCol: Column, bits: Int, dim: Int, seed: Long = 7L): Column =
    element_at(
      graft.functions.LshBuckets.toCol(
        vecCol, hyperplanes(bits, dim, seed), dim, numTables = 1, bits = bits),
      1)

  /** IVF (inverted-file) approximate cosine top-k: a deterministic
    * k-means coarse quantizer assigns every corpus vector to its nearest
    * centroid cell; a query scores only the cells of its `nprobe`
    * nearest centroids. The standard ANN scale path (cf. FAISS IVF):
    * candidate volume ≈ nprobe/k of the corpus, and at 100 TB the corpus
    * can be PARTITIONED BY cell id so a query touches nprobe partitions.
    * Centroids are fit with spark.ml KMeans (fixed seed ⇒ reproducible).
    */
  /** `frozenCentroids`: pass a pre-trained codebook (e.g. the
    * [[graft.model.IvfCentroids]] fixture) to skip the in-query Lloyd's
    * fit — the q77 freeze discipline: training runs once offline, the
    * search pass becomes a pure deterministic expression over centroid
    * literals, and the whole assignment→probe→cosine→top-k pipeline is
    * SQL-replayable (q32's oracle). In-query training remains the
    * default and stays pinned by `SimilaritySpec`'s recall floors.
    */
  def ivfCosineTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      numCells: Int = 16,
      nprobe: Int = 4,
      seed: Long = 7L,
      trainSample: Int = 16384,
      frozenCentroids: Option[Array[Array[Double]]] = None): DataFrame = {
    val centroids = frozenCentroids.getOrElse(
      trainQuantizer(corpus, vecCol, numCells, seed, trainSample))

    // Corpus assignment: nearest centroid, one fused native pass/row —
    // N·K·dim flops map-side, spread when the scan is one block.
    val c = Spread
      .ensure(corpus
        .select(col(idCol).as("neighbor_id"), toDouble(col(vecCol)).as("__cv")))
      .withColumn("__cell",
        element_at(graft.functions.NearestCells.toCol(col("__cv"), centroids, 1), 1))

    // Query probes: its nprobe nearest centroids under the SAME metric
    // the quantizer assigned with (Euclidean): argmin ‖q−c‖² =
    // argmax (q·c − ‖c‖²/2). Ranking probes by cosine instead would use
    // a different ordering (centroids are not unit-norm) and could skip
    // the very cell a query's neighbors were assigned to.
    val q = queries
      .select(col(idCol).as("query_id"), toDouble(col(vecCol)).as("__qv"))
      .withColumn("__cell",
        explode(graft.functions.NearestCells.toCol(col("__qv"), centroids, nprobe)))
      .select("query_id", "__qv", "__cell")

    val scored = c
      .join(broadcast(q), Seq("__cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("cosine", cosine(col("__cv"), col("__qv")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Multi-table LSH approximate cosine top-k: `numTables` independent
    * sign-pattern hash tables (each `bits` hyperplanes); a candidate is
    * any corpus vector sharing a bucket with the query in ANY table —
    * the classic recall amplifier (collision prob 1−(1−p^bits)^L).
    * Candidate volume ≈ L·N/2^bits per query vs N for brute force; the
    * corpus is replicated ×L into (table, bucket) cells — the standard
    * LSH space/recall trade, and the layout that lets a 100 TB corpus be
    * bucket-partitioned so each query touches L partitions instead of
    * all of them.
    */
  def lshCosineTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      bits: Int = 4,
      dim: Int,
      numTables: Int = 8,
      seed: Long = 7L): DataFrame = {
    // All numTables×bits hyperplane dots run in ONE fused native pass per
    // row (table t's planes seeded seed+t — buckets identical to the
    // one-expression-per-table formulation this replaced).
    val planes = Array.tabulate(numTables)(t => hyperplanes(bits, dim, seed + t))
      .flatten
    def withBuckets(df: DataFrame, id: String): DataFrame =
      df.select(
        col(idCol).as(id),
        toDouble(col(vecCol)).as(s"__v_$id"),
        posexplode(
          graft.functions.LshBuckets.toCol(col(vecCol), planes, dim, numTables, bits))
          .as(Seq("tbl", "bucket")))
    // corpus-side buckets + the per-candidate cosines all run map-side
    // against the broadcast query table — spread a single-block scan
    val c = withBuckets(
      Spread.ensure(corpus.select(col(idCol), col(vecCol))), "neighbor_id")
    val q = withBuckets(queries, "query_id")
    val scored = c
      .join(broadcast(q), Seq("tbl", "bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("cosine",
        cosine(col("__v_neighbor_id"), col("__v_query_id")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }
}

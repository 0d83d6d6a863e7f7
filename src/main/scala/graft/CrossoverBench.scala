package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One-off scale bench for the blocked-SemDeDup crossover claim.
  *
  * The per-round bench runs at sf0.1 (2,000 vectors) where the N² pair
  * count the blocked variant exists to avoid simply doesn't bite, so
  * blocked ≈ exact there. This main generates a deterministic corpus of
  * `SPARK_GRAFT_XN` vectors (default 50,000 — 25× sf0.1) with 10%
  * planted near-duplicate pairs, then times the exact all-pairs
  * SemDeDup (q82's plan shape) against [[graft.operators.Similarity
  * .blockedSemDedup]] on the SAME input, and checks blocked recall on
  * the planted pairs. Prints ONE JSON line.
  *
  * Corpus: components are hash-derived in [-1,1] (zero-centered, like
  * the driver's embeddings fixture — uniform-positive vectors would make
  * EVERY cosine ≈ 0.75 and the tau=0.4 threshold meaningless); every
  * id ≡ 9 (mod 10) row re-uses the base of id−9 plus 0.15-amplitude
  * noise → cosine ≈ 0.98 within a planted pair, ≈ 0 ± 1/√64 elsewhere.
  */
object CrossoverBench {
  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_XN", "50000").toInt
    val dim = 64
    // Planted pairs sit at cosine ≈ 0.98; random pairs at 0 ± 1/√64.
    // tau must clear the random tail at N² pair volume: 0.4 (q82's sf0.1
    // value) is only 3.2σ — at N=20k that's ~10⁵ spurious edges and the
    // whole corpus collapses into one component. 0.8 = 6.4σ ⇒ expected
    // spurious pairs ≪ 1 even at N=100k.
    val tau = 0.8
    val cpus = GraftSession.envCpus().toString
    // shared measurement session + SPARK_GRAFT_SQLCONF A/B plumbing
    val spark = BenchHarness.session()
    graft.functions.CosineSim.register(spark)

    // deterministic corpus; same planted-pair layout at any N
    def h(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      (pmod(xxhash64(c), lit(2000001L)) - lit(1000000L)).cast("double") / 1000000.0
    val vecs = spark.range(n.toLong)
      .withColumn("base_id",
        when(col("id") % 10 === 9, col("id") - 9).otherwise(col("id")))
      .select(
        col("id").as("vec_id"),
        transform(
          sequence(lit(0), lit(dim - 1)),
          j => h(col("base_id") * dim + j) + lit(0.15) * h(col("id") * dim + j + lit(n.toLong * dim))
        ).as("embedding"),
        lit(0).as("label"))
      .repartition(cpus.toInt)
      .localCheckpoint(true)

    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }

    // exact all-pairs (q82's plan: broadcast self-join, a.id < b.id)
    def exactDropped(): DataFrame = {
      val e = vecs.select(col("vec_id"), col("embedding").as("v"))
      val pairs = e.alias("a")
        .join(e.alias("b"), col("a.vec_id") < col("b.vec_id"))
        .filter(expr("cosine_sim(a.v, b.v)") >= tau)
        .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"))
      graft.operators.ConnectedComponents.byMinLabel(pairs)
        .filter(col("id") =!= col("component"))
        .select(col("id").as("vec_id"))
    }

    val (blockedSurvivors, tBlocked) = time {
      graft.operators.Similarity
        .blockedSemDedup(vecs, "vec_id", "embedding", tau)
        .localCheckpoint(true)
    }
    val nBlockedSurv = blockedSurvivors.count()
    // planted-pair recall: every id≡9 (mod 10) is a near-dup of id−9; a
    // pair was missed iff BOTH of its members survive
    val planted = n / 10
    val missed = blockedSurvivors
      .filter(col("vec_id") % 10 === 9).select((col("vec_id") - 9).as("b"))
      .join(
        blockedSurvivors.filter(col("vec_id") % 10 === 0).select(col("vec_id").as("b")),
        Seq("b"))
      .count()
    val caught = planted - missed

    val (nExactDropped, tExact) = time { exactDropped().count() }

    val recall = caught.toDouble / planted
    println(
      f"""{"metric":"semdedup_crossover","n":$n,"dim":$dim,"tau":$tau,"exact_sec":$tExact%.2f,"blocked_sec":$tBlocked%.2f,"speedup":${tExact / tBlocked}%.2f,"exact_dropped":$nExactDropped,"blocked_survivors":$nBlockedSurv,"planted_pairs":$planted,"blocked_pair_recall":$recall%.4f}""")
    spark.stop()
  }
}

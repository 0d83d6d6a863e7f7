package graft.model

import graft.Tables

/** One-shot trainer that generates the [[IvfCentroids]] fixtures — the
  * q77/QualityWeights discipline applied to the IVF coarse quantizer:
  * Lloyd's k-means (iterative, not SQL-replayable) runs ONCE here; the
  * converged centroids freeze as committed artifacts; the consuming
  * queries then apply them as plan literals and are hash-checked
  * against a DuckDB replay. Run manually when the quantizer shape or a
  * corpus generation changes:
  *
  * {{{ sbt "runMain graft.model.IvfCentroidsTrainer" }}}
  *
  * Two artifact kinds:
  *  - `cells` (16, q32's search codebook): printed as Scala source,
  *    small enough to live in [[IvfCentroids]] directly;
  *  - the per-scale BLOCKING codebooks (r8 verdict #3/#7): one CSV
  *    resource per scale factor, each trained ON ITS OWN corpus
  *    generation and sized by the auto-K balance rule K ≈ nprobe·√(N/2)
  *    (see `Similarity.blockedNearDupPairs`) — so the oracle-checked
  *    frozen path has the same K the production auto-K path would pick,
  *    and in-cell candidate volume stays ≈ nprobe²·N/K per vector at
  *    every scale instead of growing N²/K with a one-scale codebook.
  *    CSV (not source literals): a 400×64 Array literal would blow the
  *    JVM's 64 KB method-bytecode limit.
  *
  * Seed 7, 20 Lloyd iterations; trainSample covers every test corpus
  * fully, so the fit is the converged full-corpus solution.
  */
object IvfCentroidsTrainer {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession
      .builder(master = "local[8]", shufflePartitions = 8).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // per-scale blocking codebooks: (corpus generation, K by the auto-K
    // rule at that generation's N). sf1 is the builder-side upsample
    // (tools/gen_sf1.py, deterministic) — N = 20000 → K = 4·√10000 = 400.
    // The optional arg is the OUTPUT resource directory (corpora are
    // fixed below) — refuse a testdata path so the old CLI shape
    // (`runMain ... /root/testdata/sf0.01`) cannot pollute a fixture dir.
    val resDir = java.nio.file.Paths.get(
      args.headOption.getOrElse("src/main/resources/graft"))
    require(!resDir.toString.contains("testdata"),
      s"arg is the codebook OUTPUT dir, not a corpus: $resDir")
    java.nio.file.Files.createDirectories(resDir)
    val jobs = Seq(
      ("/root/testdata/sf0.01", 40), //  N =   200 → 4·√100  =  40
      ("/root/testdata/sf0.1", 128), //  N =  2000 → 4·√1000 ≈ 126
      ("/root/repo/tmp/testdata/sf1", 400), // N = 20000 → 400
      // the beyond-sf1 generation (r10 verdict #5: prove the ceiling
      // message's recipe actually executes): 10× shifted replicas of
      // sf1 (tools: DuckDB CROSS JOIN range(10), shifting every key by
      // one stride per replica) — N = 200000 → 4·⌈√100000⌉ = 1268
      ("/root/repo/tmp/testdata/sf10", 1268))
    for ((dir, k) <- jobs) {
      val cells = graft.operators.Similarity.trainQuantizer(
        Tables.embeddings(spark, dir), "embedding",
        numCells = k, seed = 7L, trainSample = 32768)
      val csv = cells.map(_.mkString(",")).mkString("\n") + "\n"
      val out = resDir.resolve(s"ivf_cells_$k.csv")
      java.nio.file.Files.write(out, csv.getBytes("UTF-8"))
      println(s"// wrote $out: ${cells.length} cells x ${cells.head.length} dims, trained at $dir")
    }

    // q32's 16-cell search codebook stays a source constant
    val cells = graft.operators.Similarity.trainQuantizer(
      Tables.embeddings(spark, "/root/testdata/sf0.01"), "embedding",
      numCells = 16, seed = 7L, trainSample = 16384)
    println(s"// cells trained at /root/testdata/sf0.01: ${cells.length} cells x ${cells.head.length} dims")
    println(s"  val cells: Array[Array[Double]] = Array(")
    cells.zipWithIndex.foreach { case (c, i) =>
      val sep = if (i == cells.length - 1) ")" else ","
      println(s"    Array(${c.mkString(", ")})$sep")
    }
    spark.stop()
  }
}

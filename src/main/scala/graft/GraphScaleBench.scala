package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale-evidence bench for the graph family (the TEXTSCALE pattern
  * applied to q110 triangle counting, q76 PageRank, q50 connected
  * components): the sf0.1 lineitem co-purchase graph is ~10⁵ edges,
  * too small to show whether the adjacency shuffles and the
  * O(|E|^1.5) merge-walk bound actually govern growth. This main
  * replicates lineitem k× with SHIFTED order keys (each replica is a
  * disjoint copy of the basket structure, so |E| scales exactly k× and
  * triangle counts k×; part keys shift too, keeping |V| proportional
  * and the degree distribution identical), writes the driver's testdata
  * layout, and times the REGISTERED queries — the code paths the driver
  * checks, not bench-only variants. Prints ONE JSON line; the pass
  * criterion is time growth ≤ the k^1.5 envelope on q110 (its compute
  * bound) and ~linear on q76/q50 (constant rounds × per-edge work —
  * q50's pointer-jumping round count grows with component DIAMETER,
  * which replication leaves unchanged).
  */
object GraphScaleBench {
  def main(args: Array[String]): Unit = {
    val ks = sys.env.getOrElse("SPARK_GRAFT_GRAPH_KS", "1,4,16")
      .split(",").map(_.trim.toInt).toSeq
    val cpus = GraftSession.envCpus().toString
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // shared measurement session + SPARK_GRAFT_SQLCONF A/B plumbing
    val spark = BenchHarness.session()

    // q110/q76 run as REGISTERED queries over the replicated lineitem.
    // q50's registered spelling prepends an all-pairs cosine edge BUILD
    // (its own documented small-N yardstick shape), which would measure
    // the quadratic builder, not the graph kernel — so the connected-
    // components point times `ConnectedComponents.byMinLabel` directly
    // on the same replicated bipartite order→part edge set (disjoint
    // replicas: |E| scales k×, component diameter unchanged).
    val queries = Seq("q110_triangle_count", "q76_pagerank")

    def gen(k: Int): String = {
      val dir = s"/tmp/graft_graphscale_$k"
      val li = spark.read.parquet(s"$base/lineitem.parquet")
      // disjoint replicas: shift every key space by replica index so
      // baskets (and hence edges/triangles) replicate without merging
      val shifted = spark.range(k.toLong).crossJoin(li)
        .withColumn("l_orderkey", col("l_orderkey") + col("id") * 100000000L)
        .withColumn("l_partkey", col("l_partkey") + col("id") * 100000000L)
        .withColumn("l_suppkey", col("l_suppkey") + col("id") * 100000000L)
        .drop("id")
      shifted.repartition(cpus.toInt)
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      dir
    }

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    // warmup JIT on the base graph
    val warmDir = gen(1)
    queries.foreach(q =>
      SparkEntry.queries(q)(spark, warmDir)
        .write.format("noop").mode("overwrite").save())

    def ccEdges(dir: String) =
      spark.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_orderkey").as("src"),
          (col("l_partkey") + 2000000000L).as("dst"))
        .distinct()

    time(graft.operators.ConnectedComponents.byMinLabel(ccEdges(warmDir))
      .write.format("noop").mode("overwrite").save())

    // q129's scale path: the SAMPLED triangle kernel under the
    // constant-relative-error schedule p = 0.3·k^(-1/3) (variance/T²
    // constant, work O((pE)^1.5) = O(E) — the linear scale sibling of
    // q110's O(E^1.5) exact kernel). Same registered kernel, same
    // deterministic md5 keep-rule as q129, threshold shrinking with k.
    def triSampled(dir: String, k: Int): Unit = {
      val keep = math.round(300.0 * math.pow(k.toDouble, -1.0 / 3)).toInt
      val nPart = graft.queries.GraphQueries.corePartitions(spark)
      graft.queries.GraphQueries.trianglePerPartCredits(
        graft.queries.GraphQueries.bothDirections(
          graft.queries.GraphQueries.coPurchaseEdgesOf(
            spark.read.parquet(s"$dir/lineitem.parquet"), nPart)
            .filter(graft.queries.GraphQueries.edgeKeep(keep))),
        nPart)
        .write.format("noop").mode("overwrite").save()
    }
    time(triSampled(warmDir, 1))

    val points = ks.map { k =>
      val dir = gen(k)
      val times = queries.map { q =>
        q -> time(SparkEntry.queries(q)(spark, dir)
          .write.format("noop").mode("overwrite").save())
      } :+ ("cc_kernel" -> time(
        graft.operators.ConnectedComponents.byMinLabel(ccEdges(dir))
          .write.format("noop").mode("overwrite").save())) :+
        ("tri_sampled_kernel" -> time(triSampled(dir, k)))
      (k, times)
    }
    val json = points.map { case (k, ts) =>
      val qs = ts.map { case (q, s) => f""""$q":$s%.2f""" }.mkString(",")
      f"""{"k":$k,$qs}"""
    }.mkString("[", ",\n ", "]")
    println(s"""{"metric":"graph_scale","base":"$base","points":$json}""")
    spark.stop()
  }
}

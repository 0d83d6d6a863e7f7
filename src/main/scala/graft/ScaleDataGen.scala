package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Generate a larger scale factor from an existing testdata dir by
  * k-fold replication with SHIFTED key spaces: every replica is a
  * disjoint copy of the source's join/basket/session structure, so
  * row counts, group cardinalities, and graph edges all scale exactly
  * k× while per-key distributions stay identical — the right shape for
  * a scale-cliff hunt (candidate-set growth, component rounds, shuffle
  * spill) as opposed to statistical realism. [[replicate]] is also the
  * input generator of the graph, warehouse and pq [[ScaleSweep]]
  * families.
  *
  * Key shifts preserve every FK: orders.o_custkey ↔ customer.c_custkey,
  * lineitem.(l_orderkey, l_partkey, l_suppkey) ↔ orders/part/supplier,
  * events.user_id sessions, documents.doc_id (shift is a multiple of
  * 10, so the % 10 batch-split queries keep their class structure),
  * embeddings.vec_id (probe ids < 3 — and the pq queries' vec_id < 10
  * — stay unique to replica 0, so the query side is constant while the
  * corpus scales). The tiny region/nation dims copy through unchanged.
  * Texts and embeddings repeat verbatim across replicas — near-dup and
  * dedup queries see k exact copies of every planted structure, which
  * is itself a useful adversarial shape for candidate-set growth.
  *
  * Usage: SPARK_GRAFT_SCALE_K=10 SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1
  *        SPARK_GRAFT_OUT_DIR=/tmp/graft_sf1 sbt "runMain graft.ScaleDataGen"
  */
object ScaleDataGen {
  private val Shift = 100000000L // key-space stride per replica (multiple of 10)

  /** The key columns each table's replicas shift. */
  val shiftedKeys: Map[String, Seq[String]] = Map(
    "region" -> Nil,
    "nation" -> Nil,
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  /** Write `tables` of the testdata dir `src` replicated `k`× with
    * shifted keys as `out/<table>.parquet`, one file per core.
    */
  def replicate(
      spark: SparkSession, src: String, out: String, k: Int,
      tables: Seq[String] = shiftedKeys.keys.toSeq): Unit =
    for (t <- tables) {
      val df = spark.read.parquet(s"$src/$t.parquet")
      val keys = shiftedKeys(t)
      val scaled =
        if (keys.isEmpty) df
        else keys.foldLeft(
          spark.range(k.toLong).select(col("id").as("__rep")).crossJoin(df)) {
            (acc, c) => acc.withColumn(c, col(c) + col("__rep") * Shift)
          }.drop("__rep")
      scaled.repartition(GraftSession.envCpus())
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }

  def main(args: Array[String]): Unit = {
    val k = sys.env.getOrElse("SPARK_GRAFT_SCALE_K", "10").toInt
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = sys.env.getOrElse("SPARK_GRAFT_OUT_DIR", "/tmp/graft_sf1")
    val spark = BenchHarness.session()
    replicate(spark, src, out, k)
    for (t <- shiftedKeys.keys)
      println(s"[scalegen] $t: ${spark.read.parquet(s"$src/$t.parquet").count()} -> " +
        s"${spark.read.parquet(s"$out/$t.parquet").count()}")
    spark.stop()
  }
}

package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Generate a larger scale factor from an existing testdata dir by
  * k-fold replication with SHIFTED key spaces (the GraphScaleBench
  * recipe applied to the whole star schema): every replica is a
  * disjoint copy of the source's join/basket/session structure, so
  * row counts, group cardinalities, and graph edges all scale exactly
  * k× while per-key distributions stay identical — the right shape for
  * a scale-cliff hunt (candidate-set growth, component rounds, shuffle
  * spill) as opposed to statistical realism.
  *
  * Key shifts preserve every FK: orders.o_custkey ↔ customer.c_custkey,
  * lineitem.(l_orderkey, l_partkey, l_suppkey) ↔ orders/part/supplier,
  * events.user_id sessions, documents.doc_id (shift is a multiple of
  * 10, so the % 10 batch-split queries keep their class structure),
  * embeddings.vec_id (probe ids < 3 stay unique to replica 0). The tiny
  * region/nation dims copy through unchanged. Texts and embeddings
  * repeat verbatim across replicas — near-dup and dedup queries see k
  * exact copies of every planted structure, which is itself a useful
  * adversarial shape for candidate-set growth.
  *
  * Usage: SPARK_GRAFT_SCALE_K=10 SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1
  *        SPARK_GRAFT_OUT_DIR=/tmp/graft_sf1 sbt "runMain graft.ScaleDataGen"
  */
object ScaleDataGen {
  private val Shift = 100000000L // key-space stride per replica (multiple of 10)

  def main(args: Array[String]): Unit = {
    val k = sys.env.getOrElse("SPARK_GRAFT_SCALE_K", "10").toInt
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = sys.env.getOrElse("SPARK_GRAFT_OUT_DIR", "/tmp/graft_sf1")
    val spark = BenchHarness.session()

    val shifts: Map[String, Seq[String]] = Map(
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

    for ((t, keys) <- shifts) {
      val df = spark.read.parquet(s"$src/$t.parquet")
      val scaled: DataFrame =
        if (keys.isEmpty) df
        else keys.foldLeft(
          spark.range(k.toLong).select(col("id").as("__rep")).crossJoin(df)) {
            (acc, c) => acc.withColumn(c, col(c) + col("__rep") * Shift)
          }.drop("__rep")
      scaled.repartition(GraftSession.envCpus())
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[scalegen] $t: ${df.count()} -> ${spark.read.parquet(s"$out/$t.parquet").count()}")
    }
    spark.stop()
  }
}

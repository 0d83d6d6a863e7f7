package graft.queries

import graft.{SparkEntry, SparkTestBase}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The retrieval queries are hash-checked against DuckDB oracles; this
  * spec pins the semantic invariants a hash can't express on its own.
  */
class RetrievalQueriesSpec extends AnyFunSuite with SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  test("q101: ranks are dense, scores non-increasing, hits contain a query term") {
    import spark.implicits._
    val rows = SparkEntry.queries("q101_bm25_topk")(spark, sf)
      .as[(Long, Double, Int)].collect().sortBy(_._3)
    assert(rows.map(_._3).toSeq == (1 to rows.length))
    assert(rows.sliding(2).forall {
      case Array(a, b) => a._2 >= b._2
      case _ => true
    })
    val terms = Set("spark", "merge", "window")
    val texts = graft.Tables.documents(spark, sf)
      .selectExpr("doc_id", "text").as[(Long, String)].collect().toMap
    rows.foreach { case (id, score, _) =>
      assert(score > 0)
      assert(texts(id).split(" ").exists(terms), s"doc $id has no query term")
    }
  }

  test("q102: postings are doc-ordered and df/total_tf agree with the list") {
    import spark.implicits._
    val rows = SparkEntry.queries("q102_inverted_index")(spark, sf)
      .as[(String, Long, Long, String)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (token, df, totalTf, postings) =>
      val entries = postings.split(",").map { e =>
        val Array(id, tf) = e.split(":"); (id.toLong, tf.toLong)
      }
      assert(entries.length.toLong == df, s"$token: df != postings length")
      assert(entries.map(_._2).sum == totalTf, s"$token: total_tf mismatch")
      assert(entries.map(_._1).toSeq == entries.map(_._1).sorted.toSeq,
        s"$token: postings not doc-ordered")
    }
  }

  /** q104/q132's scores in the (doc, token)-aggregate spelling of their
    * oracles: explode, per-(doc, token) tf, then dl, corpus stats, df
    * and the norms as aggregates of that frame.
    */
  private def aggregateScores(docs: DataFrame): DataFrame = {
    def r6(c: org.apache.spark.sql.Column) = floor(c * 1000000 + lit(0.50001)) / 1000000
    val terms = Seq("spark", "merge", "window")
    val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
    val tfAll = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dl = tfAll.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val tf = tfAll.filter(col("token").isInCollection(terms))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val bm25 = tf.join(dfreq, "token").join(dl, "doc_id").crossJoin(stats)
      .withColumn("idf",
        log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1)))
      .withColumn("part",
        col("idf") * (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
      .groupBy("doc_id").agg(r6(sum(col("part"))).as("bm25"))
    val norms = tfAll.groupBy("doc_id").agg(sqrt(sum(col("tf") * col("tf"))).as("nrm"))
    val cos = tf.groupBy("doc_id").agg(sum(col("tf")).as("dot"))
      .join(norms, "doc_id")
      .select(col("doc_id"), r6(col("dot") / (col("nrm") * sqrt(lit(3.0)))).as("cos"))
    bm25.join(cos, "doc_id")
  }

  test("hybrid scoring: row-local bm25/cos equal the (doc, token) aggregate bit for bit") {
    import spark.implicits._
    val docs = Seq[(Long, String)](
      1L -> "spark merge window spark  spark alpha beta alpha", // all three, repeats
      2L -> "window window  window gamma",                     // one term, repeated
      3L -> "",                                                 // empty: not in n_docs
      4L -> "alpha beta gamma delta  ",                         // no query term
      5L -> "merge alpha alpha alpha beta",
      6L -> "  ",                                               // only empty tokens
      7L -> null,
      8L -> "spark spark merge merge delta delta delta delta"
    ).toDF("doc_id", "text")
    val want = aggregateScores(docs).as[(Long, Double, Double)].collect().sortBy(_._1)
    val (bm25, cosine) = RetrievalQueries.hybridScores(docs)
    val got = bm25.join(cosine, "doc_id")
      .as[(Long, Double, Double)].collect().sortBy(_._1)
    assert(want.map(_._1).toSeq == Seq(1L, 2L, 5L, 8L), want.toSeq)
    // exact Double equality: the same value, not merely close
    assert(got.toSeq == want.toSeq)
  }
}

package graft.queries

import graft.Tables
import graft.operators.Spread
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Retrieval-side operators: the index/ranking primitives a training-data
  * platform needs next to its curation ops (benchmark decontamination
  * wants exact lookups; data exploration and eval-set mining want ranked
  * full-text search; RAG corpus prep wants posting lists).
  *
  * Scale design: everything reduces to count tables keyed by token —
  * vocabulary-sized, orders of magnitude smaller than the corpus — built
  * with map-side-combinable aggregates from ONE tokenized pass, then
  * broadcast back. No corpus-sized shuffle carries strings: the corpus
  * pass explodes, filters to the query terms (q101) or aggregates to
  * (token, doc) partials (q102) before anything moves.
  */
object RetrievalQueries {
  private type Q = (SparkSession, String) => DataFrame

  private def r6(c: Column): Column = floor(c * 1000000 + lit(0.50001)) / 1000000

  /** BM25 (Robertson k1=1.2, b=0.75, Lucene idf) top-20 documents for a
    * fixed conjunctive query. Scores are rounded BEFORE ranking and tied
    * on doc_id — `ln` is not IEEE-pinned across engines, so ranking raw
    * doubles could flip on ulp drift (same discipline as q42).
    */
  private def q101(s: SparkSession, d: String): DataFrame = {
    val terms = Seq("spark", "merge", "window")
    val k1 = 1.2
    val b = 0.75
    val docs = Tables.documents(s, d)
    val toks = Spread.ensure(docs.select("doc_id", "text")).select(
      col("doc_id"),
      explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
    // ONE tokenize+aggregate pass: for a FIXED query-term list, document
    // length and every per-term tf are conditional aggregates of the
    // same doc-keyed groupBy — one explode over the text, one
    // map-side-combinable shuffle, no (doc, token) pair frame and no
    // second scan (both alternatives measured 2-3× this cost). The
    // per-term columns stack back into (token, tf) rows afterwards —
    // |terms| × matching docs, query-sized, with dl already attached.
    //
    // The eager localCheckpoint pins the ONLY corpus-scale pass: three
    // consumers (stats, tf, scored) hang off perDoc, and without the
    // lineage cut each one re-runs the scan+explode+aggregate subtree —
    // AQE compiles them as independent stages and exchange reuse does
    // not collapse them (measured 3× re-execution, 5.7 s vs 1.1 s at
    // sf0.1). The checkpointed frame is one row per document — N_docs ×
    // 4 longs, bounded and tiny relative to the corpus at every scale.
    val perDoc = toks.groupBy(col("doc_id")).agg(
      count(lit(1)).as("dl"),
      terms.map(t =>
        sum(when(col("token") === t, 1L).otherwise(0L)).as(s"tf_$t")): _*)
      .localCheckpoint(true)
    val stats = perDoc.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val tf = perDoc.select(col("doc_id"), col("dl"),
      expr(terms.map(t => s"'$t', tf_$t").mkString(
        s"stack(${terms.length}, ", ", ", ") AS (token, tf)")))
      .filter(col("tf") > 0)
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val scored = tf
      .join(broadcast(dfreq), "token")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1)))
      .withColumn("part",
        col("idf") * (col("tf") * lit(k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy("doc_id")
      .agg(r6(sum(col("part"))).as("bm25"))
    // top-20 via TakeOrderedAndProject (per-partition heaps), rank
    // stamped on the 20 survivors — NOT a global row_number window,
    // which is an Exchange SinglePartition of every scored doc and the
    // one-task bottleneck at scale
    graft.operators.Ranking
      .topK(scored, 20, Seq(col("bm25").desc, col("doc_id")), "rank")
      .select(col("doc_id"), col("bm25"), col("rank"))
  }

  /** Inverted index: token → document frequency, total term frequency,
    * and the `docid:tf` posting list ordered by doc id — built with ONE
    * corpus shuffle ((doc, token) partial counts) plus one
    * vocabulary-keyed agg; the posting string is assembled inside the
    * aggregation (sorted struct array → transform → join), never on the
    * driver.
    */
  private def q102(s: SparkSession, d: String): DataFrame = {
    val tf = Spread.ensure(Tables.documents(s, d).select("doc_id", "text"))
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("token"), col("doc_id")).agg(count(lit(1)).as("tf"))
    tf.groupBy("token")
      .agg(
        count(lit(1)).as("df"),
        sum(col("tf")).as("total_tf"),
        array_join(
          transform(
            sort_array(collect_list(struct(col("doc_id"), col("tf")))),
            e => concat_ws(":", e("doc_id"), e("tf"))),
          ",").as("postings"))
  }

  /** Per-label embedding centroids (prototype vectors — SemDeDup cluster
    * seeds, label prototypes, k-means init). Spark-first shape: the
    * vectors aggregate WITHOUT a dimension explode — `Summarizer.mean`
    * is one map-side-combinable pass whose state is a single running
    * (sum[dim], count) per group, so a 64-dim corpus shuffles one row
    * per partition per label, not 64 rows per vector. The centroid is
    * posexploded only at the very end (one row per label × dim) to stay
    * hash-comparable against the SQL oracle.
    */
  private def q103(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
    import org.apache.spark.ml.stat.Summarizer
    Tables.embeddings(s, d)
      .select(
        col("label"),
        array_to_vector(expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
          .as("v"))
      .groupBy(col("label"))
      .agg(Summarizer.mean(col("v")).as("centroid"))
      .select(col("label"), posexplode(vector_to_array(col("centroid"))))
      .select(
        col("label"),
        col("pos").as("dim"),
        r6(col("col")).as("mean_val"))
  }

  /** The shared scoring prefix of q104/q132: per-doc BM25 and TF-cosine
    * scores, `(doc_id, bm25)` and `(doc_id, cos)`, for the 3-term query,
    * both rounded to 1e-6 BEFORE any ranking (the q101/q42 discipline —
    * `ln` is not IEEE-exact across engines). Both cover exactly the
    * documents containing ≥1 query term.
    *
    * Row-local: document length, the per-term tf and Σtf² (the squared
    * TF norm) come from each document's OWN token array — `size`,
    * `size(filter(…))`, and one `aggregate` over `array_sort` that adds
    * 2·run − 1 per token (so each run of equal tokens sums to run²).
    * No (doc, token) corpus shuffle exists. The corpus statistics
    * (n_docs, avgdl, per-term df) are one one-row aggregate attached to
    * the BM25 side by broadcast. This is the oracle's (doc, token)
    * aggregate spelling computed in one row pass, pinned equal to it in
    * `RetrievalQueriesSpec`.
    *
    * Precondition: `doc_id` is a key of `docs`. Each row is scored as
    * its own document, where the aggregate spelling would merge rows
    * sharing an id.
    */
  private[graft] def hybridScores(docs: DataFrame): (DataFrame, DataFrame) = {
    val terms = Seq("spark", "merge", "window")
    val k1 = 1.2
    val b = 0.75
    val sumSq = aggregate(array_sort(col("toks")),
      struct(lit(null).cast("string").as("p"), lit(0L).as("run"), lit(0L).as("sq")),
      (acc, t) => {
        val run = when(t === acc("p"), acc("run") + 1L).otherwise(lit(1L))
        struct(t.as("p"), run.as("run"), (acc("sq") + run * 2L - 1L).as("sq"))
      },
      acc => acc("sq"))
    // documents without a non-empty token drop out here, as from the
    // oracle's `toks` CTE — they count toward neither n_docs nor avgdl
    val perDoc = Spread.ensure(docs.select("doc_id", "text"))
      .select(col("doc_id"),
        filter(split(col("text"), " "), t => length(t) > 0).as("toks"))
      .select((Seq(col("doc_id"), size(col("toks")).as("dl"), sumSq.as("sq")) ++
        terms.map(t => size(filter(col("toks"), _ === t)).as(s"tf_$t"))): _*)
      .filter(col("dl") > 0)
    val stats = perDoc.agg(
      count(lit(1)).as("n_docs"), (avg(col("dl")).as("avgdl") +:
        terms.map(t => count(when(col(s"tf_$t") > 0, 1)).as(s"df_$t"))): _*)
    // a term a document lacks adds an exact 0.0 to its BM25 sum
    def part(t: String): Column = {
      val (tf, df) = (col(s"tf_$t"), col(s"df_$t"))
      log((col("n_docs") - df + lit(0.5)) / (df + lit(0.5)) + lit(1)) *
        (tf * lit(k1 + 1)) /
        (tf + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl")))
    }
    val dot = terms.map(t => col(s"tf_$t")).reduce(_ + _)
    val hits = perDoc.filter(dot > 0)
    val bm25 = hits.crossJoin(broadcast(stats))
      .select(col("doc_id"), r6(terms.map(part).reduce(_ + _)).as("bm25"))
    val cosine = hits.select(col("doc_id"),
      r6(dot / (sqrt(col("sq")) * sqrt(lit(3.0)))).as("cos"))
    (bm25, cosine)
  }

  /** Hybrid retrieval via reciprocal-rank fusion (Cormack et al. 2009,
    * k=60): the BM25 ranking fused with a TF-cosine ranking of the same
    * conjunctive query. The two rankers disagree exactly where hybrid
    * search earns its keep — BM25 rewards rare-term hits, cosine rewards
    * concentrated ones — and RRF needs only their RANKS, so the fusion
    * is immune to score-scale mismatch. Both lists cover precisely the
    * docs containing ≥1 query term (a TF dot product is nonzero iff a
    * term is shared), so the fusion join is an inner equi-join. Scores
    * are rounded before every ranking (the q101/q42 discipline) and the
    * RRF sum — pure rational arithmetic on small ints — is bit-stable
    * across engines.
    */
  private def q104(s: SparkSession, d: String): DataFrame = {
    val (bm25, cosine) = hybridScores(Tables.documents(s, d))
    // RRF consumes the FULL rankings (a fused top-20 doc may sit at rank
    // 5 in one list and rank 5000 in the other, and 1/(60+r) needs the
    // exact 5000), so the ranks come from the distributed global ranking
    // — range-partitioned, every stage parallel — never a
    // single-partition row_number window over the corpus-fraction scored
    // frame. Both lists rank in ONE pass: the (doc, score) frames union
    // with a list tag ordered FIRST, so each list occupies a contiguous
    // global-rank span and the within-list rank is the global rank minus
    // the list's base — halving the fixed per-ranking cost (one range
    // exchange + checkpoint instead of two). q132 is the truncated
    // sibling that drops the full ranking entirely.
    val ranked = graft.operators.Ranking.globalRowNumber(
      bm25.select(col("doc_id"), lit("b").as("lst"), col("bm25").as("score"))
        .unionAll(cosine.select(col("doc_id"), lit("c").as("lst"), col("cos").as("score"))),
      Seq(col("lst"), col("score").desc, col("doc_id")), "gr")
    val bases = ranked.groupBy(col("lst")).agg(min(col("gr")).as("g0"))
    val inList = ranked.join(broadcast(bases), "lst")
      .withColumn("r", (col("gr") - col("g0") + 1).cast("int"))
    // re-pair each doc's two ranks by PIVOTING (conditional aggregation
    // on doc_id) rather than self-joining two filtered slices — one
    // map-side-combinable exchange instead of two slice subtrees plus a
    // shuffle join, and the ranked frame is consumed exactly once
    val fused = inList.groupBy(col("doc_id"))
      .agg(
        max(when(col("lst") === "b", col("score"))).as("bm25"),
        max(when(col("lst") === "b", col("r"))).as("r_bm25"),
        max(when(col("lst") === "c", col("r"))).as("r_cos"))
      .withColumn("rrf",
        r6(lit(1.0) / (lit(60) + col("r_bm25")) + lit(1.0) / (lit(60) + col("r_cos"))))
    graft.operators.Ranking
      .topK(fused, 20, Seq(col("rrf").desc, col("doc_id")), "rank")
      .select(col("doc_id"), col("rrf"), col("rank"))
  }

  /** Truncated RRF — q104's 100 TB spelling (r9 verdict #6). Textbook
    * RRF consumes FULL global rankings, and even the distributed
    * global ranking costs a corpus-fraction range exchange +
    * checkpoint; a production deployment instead truncates each arm to
    * its top-K (K = 200 ≫ the fused top-20) and fuses only those,
    * scoring a doc absent from an arm's list as zero contribution from
    * that arm — the standard practice in RRF deployments (per-arm
    * retrieval depth). Each arm is then a TakeOrderedAndProject:
    * per-partition bounded heaps and a K-row merge, NO global sort or
    * range exchange anywhere in the plan — the same exact-vs-truncated
    * yardstick pattern as q33/q82. Truncation changes the fused
    * ranking only through docs outside an arm's top-200 (whose arm
    * contribution is < 1/260 ≈ 0.0038); both SFs truncate for real
    * (482/4823 scored docs vs K=200). Ranks and the fusion replay
    * exactly in SQL — scores are rounded before ranking and ties break
    * on doc_id, so the top-K cut is engine-independent.
    */
  private def q132(s: SparkSession, d: String): DataFrame = {
    val armK = 200
    val (bm25, cosine) = hybridScores(Tables.documents(s, d))
    val tb = graft.operators.Ranking
      .topK(bm25, armK, Seq(col("bm25").desc, col("doc_id")), "r_bm25")
    val tc = graft.operators.Ranking
      .topK(cosine, armK, Seq(col("cos").desc, col("doc_id")), "r_cos")
    val fused = tb.select(col("doc_id"), col("r_bm25"))
      .join(tc.select(col("doc_id"), col("r_cos")), Seq("doc_id"), "full_outer")
      .withColumn("rrf",
        r6(coalesce(lit(1.0) / (lit(60) + col("r_bm25")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("r_cos")), lit(0.0))))
    graft.operators.Ranking
      .topK(fused, 20, Seq(col("rrf").desc, col("doc_id")), "rank")
      .select(col("doc_id"), col("rrf"), col("rank"))
  }

  /** q102's inverted index built INCREMENTALLY: the corpus arrives as
    * history (doc_id % 10 ≠ 0) plus an append batch (doc_id % 10 = 0);
    * each slice is tokenized ALONE into a token-level state and the two
    * states are merged index-to-index
    * ([[graft.operators.IncrementalIndex]] — the q115 IVM contract on
    * postings). The oracle is q102's full-corpus rebuild verbatim:
    * merge(state(history), state(batch)) must render byte-identically
    * to state(history ∪ batch), so maintenance is result-invisible —
    * same invariance shape as q127's layout append. Streamed spelling
    * (foreachBatch partial-state appends) and BM25-from-state parity
    * live in `IncrementalIndexSpec`/`IncrementalIndexStreamSpec`.
    */
  private def q128(s: SparkSession, d: String): DataFrame = {
    import graft.operators.IncrementalIndex
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val history = IncrementalIndex.state(docs.filter(col("doc_id") % 10 =!= 0))
    val batch = IncrementalIndex.state(docs.filter(col("doc_id") % 10 === 0))
    IncrementalIndex.render(IncrementalIndex.merge(history, batch))
  }

  val defs: Map[String, Q] = Map(
    "q101_bm25_topk" -> q101,
    "q102_inverted_index" -> q102,
    "q103_embed_centroids" -> q103,
    "q104_hybrid_rrf" -> q104,
    "q128_incremental_index" -> q128,
    "q132_hybrid_rrf_topk" -> q132)

  /** The shared hybrid-scoring CTE prefix of the q104/q132 oracles
    * (toks → dl/stats → tf/dfreq → bm25s, norms → coss) — one builder
    * so the two replays cannot drift (r10 advice: the Scala side was
    * factored into `hybridScores` for exactly this reason while the
    * oracles carried two inline copies). q104 consumes `bm25s`/`coss`
    * with full rankings; q132 with per-arm top-200 truncation.
    */
  private def hybridScoringCtes: String =
    """toks AS (
      |  SELECT doc_id, token FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |    FROM documents) t
      |  WHERE length(token) > 0),
      |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
      |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
      |tf_all AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
      |tf AS (SELECT * FROM tf_all
      |       WHERE token IN ('spark', 'merge', 'window')),
      |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
      |bm25s AS (
      |  SELECT tf.doc_id,
      |    floor(sum(
      |      ln((stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1)
      |      * (tf.tf * 2.2)
      |      / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))
      |    ) * 1000000 + 0.50001) / 1000000 AS bm25
      |  FROM tf JOIN dfreq ON tf.token = dfreq.token
      |    JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats
      |  GROUP BY 1),
      |norms AS (SELECT doc_id, sqrt(CAST(sum(tf * tf) AS BIGINT)) AS nrm
      |          FROM tf_all GROUP BY 1),
      |coss AS (
      |  SELECT t.doc_id,
      |    floor(CAST(sum(t.tf) AS BIGINT) / (n.nrm * sqrt(3.0))
      |      * 1000000 + 0.50001) / 1000000 AS cos
      |  FROM tf t JOIN norms n ON t.doc_id = n.doc_id
      |  GROUP BY t.doc_id, n.nrm)""".stripMargin

  val oracles: Map[String, String] = Map(
    // merge-invariance: the incrementally-maintained index must equal
    // the from-scratch rebuild — q102's oracle, reused verbatim
    "q128_incremental_index" ->
      """WITH tf AS (
        |  SELECT token, doc_id, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |    FROM documents) t
        |  WHERE length(token) > 0 GROUP BY 1, 2)
        |SELECT token, count(*) AS df, CAST(sum(tf) AS BIGINT) AS total_tf,
        |  string_agg(doc_id || ':' || tf, ',' ORDER BY doc_id) AS postings
        |FROM tf GROUP BY token""".stripMargin,
    "q101_bm25_topk" ->
      """WITH toks AS (
        |  SELECT doc_id, token FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |    FROM documents) t
        |  WHERE length(token) > 0),
        |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
        |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks
        |       WHERE token IN ('spark', 'merge', 'window') GROUP BY 1, 2),
        |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |scored AS (
        |  SELECT tf.doc_id,
        |    floor(sum(
        |      ln((stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1)
        |      * (tf.tf * 2.2)
        |      / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))
        |    ) * 1000000 + 0.50001) / 1000000 AS bm25
        |  FROM tf JOIN dfreq ON tf.token = dfreq.token
        |    JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats
        |  GROUP BY 1),
        |ranked AS (SELECT doc_id, bm25,
        |    row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank
        |  FROM scored)
        |SELECT doc_id, bm25, rank FROM ranked WHERE rank <= 20""".stripMargin,
    "q102_inverted_index" ->
      """WITH tf AS (
        |  SELECT token, doc_id, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |    FROM documents) t
        |  WHERE length(token) > 0 GROUP BY 1, 2)
        |SELECT token, count(*) AS df, CAST(sum(tf) AS BIGINT) AS total_tf,
        |  string_agg(doc_id || ':' || tf, ',' ORDER BY doc_id) AS postings
        |FROM tf GROUP BY token""".stripMargin,
    "q104_hybrid_rrf" ->
      s"""WITH $hybridScoringCtes,
        |bm25r AS (SELECT doc_id, row_number() OVER (
        |    ORDER BY bm25 DESC, doc_id) AS r_bm25 FROM bm25s),
        |cosr AS (SELECT doc_id, row_number() OVER (
        |    ORDER BY cos DESC, doc_id) AS r_cos FROM coss),
        |fused AS (
        |  SELECT b.doc_id,
        |    floor((1.0 / (60 + b.r_bm25) + 1.0 / (60 + c.r_cos))
        |      * 1000000 + 0.50001) / 1000000 AS rrf
        |  FROM bm25r b JOIN cosr c ON b.doc_id = c.doc_id),
        |ranked AS (SELECT doc_id, rrf,
        |    row_number() OVER (ORDER BY rrf DESC, doc_id) AS rank
        |  FROM fused)
        |SELECT doc_id, rrf, rank FROM ranked WHERE rank <= 20""".stripMargin,
    "q132_hybrid_rrf_topk" ->
      s"""WITH $hybridScoringCtes,
        |bt AS (SELECT * FROM (
        |    SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r_bm25
        |    FROM bm25s) WHERE r_bm25 <= 200),
        |ct AS (SELECT * FROM (
        |    SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id) AS r_cos
        |    FROM coss) WHERE r_cos <= 200),
        |fused AS (
        |  SELECT coalesce(b.doc_id, c.doc_id) AS doc_id,
        |    floor((coalesce(1.0 / (60 + b.r_bm25), 0) + coalesce(1.0 / (60 + c.r_cos), 0))
        |      * 1000000 + 0.50001) / 1000000 AS rrf
        |  FROM bt b FULL JOIN ct c ON b.doc_id = c.doc_id),
        |ranked AS (SELECT doc_id, rrf,
        |    row_number() OVER (ORDER BY rrf DESC, doc_id) AS rank
        |  FROM fused)
        |SELECT doc_id, rrf, rank FROM ranked WHERE rank <= 20""".stripMargin,
    "q103_embed_centroids" ->
      """WITH x AS (
        |  SELECT label,
        |    unnest(CAST(embedding AS DOUBLE[])) AS v,
        |    unnest(range(len(embedding))) AS dim
        |  FROM embeddings)
        |SELECT label, dim,
        |  floor(avg(v) * 1000000 + 0.50001) / 1000000 AS mean_val
        |FROM x GROUP BY 1, 2""".stripMargin)
}

package graft.queries

import graft.{SparkTestBase, Tables}
import graft.functions.NormalizeText
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Properties of q82–q87 their DuckDB oracles can't express: brute-force
  * recomputation of the semantic-dedup closure and the sweep-line maximum
  * on the driver, the 7-day frame bound, histogram mass conservation, and
  * argmax winners actually holding the group maximum.
  */
class ScaleQueriesSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("normalize_text: NFC composes, case folds, whitespace collapses, idempotent") {
    // decomposed e+U+0301 and composed U+00E9 normalize to the same bytes
    assert(NormalizeText.compute("Cafe\u0301") == NormalizeText.compute("Caf\u00e9"))
    assert(NormalizeText.compute("Cafe\u0301") == "caf\u00e9")
    // NFC before lowercase: I+U+0308 -> Ï -> ï
    assert(NormalizeText.compute("NAI\u0308VE") == "na\u00efve")
    assert(NormalizeText.compute("  a\t\tb \n c  ") == "a b c")
    assert(NormalizeText.compute("") == "")
    assert(NormalizeText.compute(" \t ") == "")
    val once = NormalizeText.compute("A  Cafe\u0301\u00c9")
    assert(NormalizeText.compute(once) == once)
  }

  test("normalize_text: expression output == compute on corpus docs (codegen path)") {
    val rows = Tables.documents(spark, sf)
      .select(col("text"), expr("normalize_text(text)").as("norm"))
      .as[(String, String)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (raw, norm) =>
      assert(norm == NormalizeText.compute(raw))
    }
  }

  test("q82: survivors == brute-force cosine closure recomputed on the driver") {
    val out = ScaleQueries.defs("q82_semdedup_survivors")(spark, sf)
      .select("vec_id").as[Long].collect().toSet
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect()
      .map { case (id, v) => id -> v.map(_.toDouble) }
    assert(out == graft.TestClosure.cosineSurvivors(vecs, tau = 0.4))
  }

  test("q83: every frame spans at most 7 calendar days and n7 >= n") {
    val out = ScaleQueries.defs("q83_rolling_range")(spark, sf)
    // brute-force recompute per (prio): n7 must equal the sum of n over
    // days in [day-6, day]
    val daily = Tables.orders(spark, sf)
      .groupBy(col("o_orderpriority").as("prio"), to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("n"))
      .as[(String, java.sql.Date, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(t => t._2.toLocalDate -> t._3).toMap).toMap
    val got = out.select("prio", "day", "n7")
      .as[(String, java.sql.Date, Long)].collect()
    assert(got.nonEmpty)
    got.foreach { case (prio, day, n7) =>
      val d = day.toLocalDate
      val expected = (0 to 6).map(k => daily(prio).getOrElse(d.minusDays(k.toLong), 0L)).sum
      assert(n7 == expected, s"$prio $day")
    }
  }

  test("q85: sweep-line max == brute-force concurrency maximum per type") {
    val out = ScaleQueries.defs("q85_concurrency")(spark, sf)
      .as[(String, Long)].collect().toMap
    val iv = Tables.events(spark, sf)
      .select(
        col("event_type"),
        unix_micros(col("ts")).as("ts_us"),
        unix_micros(expr(
          "timestampadd(MICROSECOND, CAST(round(value * 1000000) AS BIGINT), ts)"))
          .as("te_us"))
      .as[(String, Long, Long)].collect()
    val byType = iv.groupBy(_._1)
    assert(out.keySet == byType.keySet)
    byType.foreach { case (tpe, rows) =>
      // the running sum only increases at starts, so its maximum is
      // attained right after some start s: count intervals with
      // s2 <= s < e2 (an end at exactly s has already closed under the
      // end-before-start tie rule -> strict inequality on the end)
      val maxConc = rows.map { case (_, s, _) =>
        rows.count { case (_, s2, e2) => s2 <= s && s < e2 }
      }.max
      assert(out(tpe) == maxConc, s"$tpe: sweep ${out(tpe)} != brute $maxConc")
    }
  }

  test("q95: union coverage == brute-force merged-interval length per type") {
    val out = ScaleQueries.defs("q95_interval_union")(spark, sf)
      .as[(String, Long)].collect().toMap
    val iv = Tables.events(spark, sf)
      .select(
        col("event_type"),
        unix_micros(col("ts")).as("t0"),
        unix_micros(expr(
          "timestampadd(MICROSECOND, CAST(round(value * 1000000) AS BIGINT), ts)"))
          .as("t1"))
      .as[(String, Long, Long)].collect()
    val expected = iv.groupBy(_._1).view.mapValues { rows =>
      // classic merge: sort by start, extend the current merged interval
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      rows.map(r => (r._2, r._3)).sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { covered += curE - curS; curS = s; curE = e }
        else if (e > curE) curE = e
      }
      covered + (curE - curS)
    }.toMap
    assert(out.keySet == expected.keySet)
    out.foreach { case (k, v) => assert(v == expected(k), k) }
  }

  test("q86: histogram mass equals table row count and bins are disjoint") {
    val out = ScaleQueries.defs("q86_histogram")(spark, sf)
    val total = out.agg(sum("n")).as[Long].head()
    assert(total == Tables.lineitem(spark, sf).count())
    val rows = out.select("bin", "lo", "hi").as[(Long, Double, Double)].collect()
    rows.foreach { case (bin, lo, hi) =>
      assert(lo >= bin * 5000.0 - 0.01 && hi < (bin + 1) * 5000.0 + 0.01)
    }
  }

  test("q88: PMI recomputed from independent driver-side count maps") {
    val out = ScaleQueries.defs("q88_pmi_collocations")(spark, sf)
      .as[(String, Long, Double)].collect()
    assert(out.nonEmpty)
    val texts = Tables.documents(spark, sf)
      .select("text").as[String].collect()
      .map(t => t.split(" ").filter(_.nonEmpty))
    val uni = texts.flatten.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val big = texts.flatMap(w => w.sliding(2).filter(_.length == 2).map(_.mkString(" ")))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val nu = uni.values.sum.toDouble
    val nb = big.values.sum.toDouble
    out.foreach { case (bg, n, pmi) =>
      assert(big(bg) == n)
      assert(n >= 5)
      val Array(w1, w2) = bg.split(" ")
      val expected = math.log(n.toDouble * nu * nu / (nb * uni(w1) * uni(w2)))
      assert(math.abs(pmi - math.floor(expected * 1e6 + 0.50001) / 1e6) < 1e-9, bg)
    }
    // completeness: every bigram with count >= 5 is present
    assert(out.length == big.count(_._2 >= 5))
  }

  test("cms_estimate: never under-counts, exact in the no-collision regime, memo survives sketch switches") {
    val out = ScaleQueries.defs("q89_countmin_roundtrip")(spark, sf)
    assert(out.count() > 0)
    assert(out.filter(!col("within_bound")).count() == 0)
    // two DIFFERENT sketches probed alternately in one partition — the
    // thread-local memo must re-parse on every switch, not serve stale
    val df = spark.range(0, 100)
      .select((col("id") % 2).as("g"), (col("id") % 5).as("v"))
    val sk = df.groupBy("g").agg(
      expr("count_min_sketch(v, 0.0001d, 0.99d, 7)").as("sk"))
    val probed = df.join(broadcast(sk), "g")
      .select(col("g"), col("v"), expr("cms_estimate(sk, v)").as("est"))
      .as[(Long, Long, Long)].collect()
    // 100 ids, g = id%2, v = id%5: every residue v appears exactly 10
    // times within each parity group (cycle length lcm(2,5) = 10)
    probed.foreach { case (g, v, est) =>
      assert(est == 10L, s"g=$g v=$v est=$est")
    }
  }

  test("q87: richest/poorest actually hold the group max/min balance") {
    val out = ScaleQueries.defs("q87_argmax_group")(spark, sf)
    val joined = out.join(
      Tables.customer(spark, sf).select(
        col("c_nationkey"), col("c_name").as("richest"), col("c_acctbal")),
      Seq("c_nationkey", "richest"))
    val bad = joined.filter(
      abs(col("c_acctbal") - col("max_bal")) > 0.011).count()
    assert(bad == 0)
  }
}

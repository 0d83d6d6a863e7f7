package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PipelineOpsSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("trainValTest: deterministic, full-cover, roughly proportioned") {
    val docs = (1L to 2000L).toDF("id")
    val a = Splits.trainValTest(docs, "id").groupBy("split").count()
      .as[(String, Long)].collect().toMap
    val b = Splits.trainValTest(docs, "id").groupBy("split").count()
      .as[(String, Long)].collect().toMap
    assert(a == b) // reruns identical
    assert(a.values.sum == 2000)
    assert(a("train") > 1400 && a("val") > 100 && a("test") > 100)
    // membership is per-id stable: a subset gets the same assignments
    val full = Splits.trainValTest(docs, "id").as[(Long, String)].collect().toMap
    val sub = Splits.trainValTest(docs.filter($"id" <= 500), "id")
      .as[(Long, String)].collect().toMap
    assert(sub.forall { case (k, v) => full(k) == v })
  }

  test("stratifiedSample keeps strata at their own rates") {
    val docs = (1L to 1000L).map(i => (i, if (i % 2 == 0) "en" else "de"))
      .toDF("id", "lang")
    val out = Splits.stratifiedSample(docs, "id", "lang", Map("en" -> 20))
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(out("de") == 500)            // default 100%
    assert(out("en") > 50 && out("en") < 150) // ~20% of 500
  }

  test("asof backward: inclusive match, latest prior wins, no-match null") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq(
      (1L, 10L, ts("2024-01-01 10:00:00")),
      (2L, 10L, ts("2024-01-01 12:00:00")),
      (3L, 20L, ts("2024-01-01 09:00:00"))  // user 20 has no clicks
    ).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (100L, 10L, ts("2024-01-01 09:30:00")),
      (101L, 10L, ts("2024-01-01 10:00:00")), // ties left row 1 exactly
      (102L, 10L, ts("2024-01-01 11:00:00"))
    ).toDF("event_id", "user_id", "ts")
    val out = AsOfJoin.backward(left, right, "user_id", "ts",
      carry = Seq("event_id"), rightTiebreak = Seq("event_id"))
      .select("event_id", "asof_event_id")
      .as[(Long, Option[Long])].collect().toMap
    assert(out(1L).contains(101L)) // inclusive: equal-ts click matches
    assert(out(2L).contains(102L)) // latest prior, not first
    assert(out(3L).isEmpty)        // no prior right row -> null
  }

  test("asof backward: equal-ts right rows resolve to max tiebreak") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq((1L, 10L, ts("2024-01-01 10:00:00"))).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (100L, 10L, ts("2024-01-01 09:00:00")),
      (103L, 10L, ts("2024-01-01 09:00:00")),
      (101L, 10L, ts("2024-01-01 09:00:00"))
    ).toDF("event_id", "user_id", "ts")
    val out = AsOfJoin.backward(left, right, "user_id", "ts",
      carry = Seq("event_id"), rightTiebreak = Seq("event_id"))
      .select("asof_event_id").as[Long].collect()
    assert(out.toSeq == Seq(103L))
  }

  test("connected components: chain, clique, isolated pair") {
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),     // chain -> component 1
      (10L, 11L), (11L, 12L), (10L, 12L), // triangle -> component 10
      (20L, 21L)                          // pair -> component 20
    ).toDF("src", "dst")
    val out = ConnectedComponents.byMinLabel(edges)
      .as[(Long, Long)].collect().toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(out(_) == 1L))
    assert(Seq(10L, 11L, 12L).forall(out(_) == 10L))
    assert(Seq(20L, 21L).forall(out(_) == 20L))
    assert(out.size == 9)
  }

  test("connected components converge on a long path (diameter > rounds guard)") {
    val n = 12L
    val edges = (1L until n).map(i => (i, i + 1)).toDF("src", "dst")
    val out = ConnectedComponents.byMinLabel(edges).as[(Long, Long)].collect().toMap
    assert((1L to n).forall(out(_) == 1L))
  }

  test("connected components: pointer jumping converges a 300-link chain within default rounds") {
    // plain one-hop propagation would need ~300 rounds; the label-of-label
    // branch from round 3 doubles coverage per round -> ~12 rounds
    val n = 300L
    val edges = (1L until n).map(i => (i, i + 1)).toDF("src", "dst")
    val out = ConnectedComponents.byMinLabel(edges).as[(Long, Long)].collect().toMap
    assert((1L to n).forall(out(_) == 1L))
  }

  test("connected components: non-convergence throws instead of returning split labels") {
    val edges = (1L until 40L).map(i => (i, i + 1)).toDF("src", "dst")
    val ex = intercept[IllegalStateException] {
      ConnectedComponents.byMinLabel(edges, maxIter = 3).collect()
    }
    assert(ex.getMessage.contains("did not converge"))
  }

  test("connected components: a misspelt roundMode is rejected, not read as auto") {
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    spark.conf.set("spark.graft.cc.roundMode", "shufle")
    val ex =
      try intercept[IllegalArgumentException](ConnectedComponents.byMinLabel(edges))
      finally spark.conf.unset("spark.graft.cc.roundMode")
    Seq("shufle", "auto", "shuffle").foreach(w => assert(ex.getMessage.contains(w)))
  }

  test("asof backward: all carried values come from the SAME winning right row") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq((1L, 10L, ts("2024-01-01 10:00:00"))).toDF("event_id", "user_id", "ts")
    // newest right row has price=NULL: the output must carry (NULL, "new"),
    // never mix the older row's price with the newer row's tag
    val right = Seq(
      (10L, ts("2024-01-01 08:00:00"), Some(5.0), "old"),
      (10L, ts("2024-01-01 09:00:00"), None, "new")
    ).toDF("user_id", "ts", "price", "tag")
    val out = AsOfJoin.backward(left, right, "user_id", "ts",
      carry = Seq("price", "tag"))
      .select("asof_price", "asof_tag")
      .as[(Option[Double], String)].collect()
    assert(out.toSeq == Seq((None, "new")))
  }
}

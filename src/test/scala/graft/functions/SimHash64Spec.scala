package graft.functions

import graft.SparkTestBase
import org.scalatest.funsuite.AnyFunSuite

class SimHash64Spec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  /** Independent reference SimHash (different code path: split/regex +
    * BigInt accumulation) to pin the expression's semantics.
    */
  private def referenceSimHash(text: String): Long = {
    def fnv(s: String): Long = {
      var h = 0xcbf29ce484222325L
      s.foreach { c => h ^= c; h *= 0x100000001b3L }
      h
    }
    val tokens = text.split("\\s+").filter(_.nonEmpty)
    val votes = Array.fill(64)(0)
    tokens.foreach { t =>
      val h = fnv(t)
      (0 until 64).foreach { b =>
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
      }
    }
    (0 until 64).foldLeft(0L)((acc, b) => if (votes(b) > 0) acc | (1L << b) else acc)
  }

  test("compute matches independent reference implementation") {
    val samples = Seq(
      "the quick brown fox",
      "a",
      "  leading and   multiple   spaces  ",
      "tabs\tand\nnewlines here",
      "",
      "repeated repeated repeated words words")
    samples.foreach { s =>
      assert(SimHash64.compute(s) == referenceSimHash(s), s"for '$s'")
    }
  }

  test("near-duplicate texts have small hamming distance; unrelated large") {
    val a = SimHash64.compute(
      "spark is a unified analytics engine for large scale data processing with apis")
    val b = SimHash64.compute(
      "spark is a unified analytics engine for large scale data processing with api")
    val c = SimHash64.compute(
      "completely different words about cooking pasta and italian recipes tonight")
    assert(SimHash64.hamming(a, b) <= 16)
    assert(SimHash64.hamming(a, c) > 16)
  }

  test("expression evaluates through SQL (registered function) and codegen") {
    // spark.range keeps a physical scan in the plan (a local Seq would be
    // constant-folded by ConvertToLocalRelation, bypassing codegen).
    val df = spark.range(3)
      .selectExpr("concat('word', CAST(id % 2 AS STRING)) AS t")
      .selectExpr("t", "simhash64(t) AS h")
    val rows = df.collect().map(r => (r.getString(0), r.getLong(1)))
    rows.foreach { case (t, h) => assert(h == SimHash64.compute(t), t) }
    assert(rows.map(_._2).distinct.length == 2)
    // whole-stage codegen survives the expression (doGenCode path): the
    // `*(n)` prefix marks operators fused into a WholeStageCodegen stage.
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.next().trim.startsWith("*(1) Project"), plan)
    assert(plan.contains("simhash64"), plan)
  }

  test("null input yields null, non-string input is rejected") {
    val out = Seq(Some("x"), None).toDF("t").selectExpr("simhash64(t) AS h")
      .collect()
    assert(!out(0).isNullAt(0) && out(1).isNullAt(0))
    intercept[Exception] {
      Seq(1).toDF("i").selectExpr("simhash64(i)").collect()
    }
  }
}

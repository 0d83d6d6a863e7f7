package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

/** `cms_estimate(sketch, value)` — point-frequency lookup into a
  * serialized Count-Min sketch (the binary produced by Spark's built-in
  * `count_min_sketch(col, eps, confidence, seed)` aggregate).
  *
  * Spark ships the CMS *builder* as an aggregate but no SQL-level query
  * surface for the resulting sketch; this expression closes that gap so
  * the full sketch round-trip (build per group → join → probe) stays
  * inside one declarative plan. CMS guarantee: estimate ≥ true count,
  * and ≤ true count + eps·N with probability ≥ confidence — the q89
  * oracle asserts exactly that envelope.
  *
  * Deserializing the sketch per row would dwarf the lookup, so the
  * static `estimate` helper memoizes the last-seen sketch bytes per
  * thread (probe sets are small and grouped by sketch after the join,
  * and the memo is correct for ANY access pattern — it just re-parses
  * when the bytes change).
  */
case class CmsEstimate(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"cms_estimate requires (binary, bigint), got " +
          s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")

  override def dataType: DataType = LongType
  override def prettyName: String = "cms_estimate"

  override protected def nullSafeEval(sketch: Any, value: Any): Any =
    CmsEstimate.estimate(sketch.asInstanceOf[Array[Byte]], value.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (sk, v) =>
      s"graft.functions.CmsEstimate.estimate($sk, $v)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CmsEstimate =
    copy(left = newLeft, right = newRight)
}

object CmsEstimate {

  // SoftReference: a parsed sketch is megabytes (width·depth longs) and a
  // pooled executor thread outlives the query — a hard ThreadLocal would
  // pin the last sketch (plus its byte[] key) per thread forever. Soft
  // refs keep the fast path warm and let the GC reclaim dead sketches
  // under pressure.
  private val lastSketch = new ThreadLocal[java.lang.ref.SoftReference[
    (Array[Byte], org.apache.spark.util.sketch.CountMinSketch)]]

  /** Memo hit test ordered cheapest-first: reference equality, then
    * length + 16-byte prefix/suffix probes (a different sketch of the
    * same shape almost surely differs in its first counters), and only
    * then the full Arrays.equals — so a memo MISS costs O(1), not a
    * scan of the ~MB serialized sketch.
    */
  private def sameSketch(a: Array[Byte], b: Array[Byte]): Boolean = {
    if (a eq b) return true
    val n = a.length
    if (n != b.length) return false
    var i = 0
    val probe = math.min(16, n)
    while (i < probe) {
      if (a(i) != b(i) || a(n - 1 - i) != b(n - 1 - i)) return false
      i += 1
    }
    java.util.Arrays.equals(a, b)
  }

  /** Static entry point shared by interpreted eval and generated code. */
  def estimate(bytes: Array[Byte], value: Long): Long = {
    val ref = lastSketch.get()
    val cached = if (ref == null) null else ref.get()
    val cms =
      if (cached != null && sameSketch(cached._1, bytes)) cached._2
      else {
        val parsed = org.apache.spark.util.sketch.CountMinSketch.readFrom(
          new java.io.ByteArrayInputStream(bytes))
        lastSketch.set(new java.lang.ref.SoftReference((bytes, parsed)))
        parsed
      }
    cms.estimateCount(java.lang.Long.valueOf(value))
  }

  /** Builds `cms_estimate(sketch, item)`, the SQL function [[graft.GraftExtensions]] injects. */
  def build(args: Seq[Expression]): Expression = {
    require(args.length == 2, "cms_estimate(sketch, item)")
    CmsEstimate(args.head, args(1))
  }
}

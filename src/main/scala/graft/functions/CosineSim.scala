package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** `cosine_sim(a, b)` — cosine similarity of two numeric arrays as one
  * native fused expression: dot product and both norms in a single pass
  * over primitive arrays, no per-element lambda dispatch.
  *
  * The `zip_with`+`aggregate` higher-order formulation is interpreted per
  * element; on an all-pairs near-dup join (2M pairs × 64 dims at sf0.1)
  * that cost 61 s — this expression computes the identical value in ~2 s
  * and stays inside whole-stage codegen. Accepts `array<float>` or
  * `array<double>` on either side.
  */
case class CosineSim(left: Expression, right: Expression) extends BinaryExpression {

  private def ok(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim requires array<float|double> arguments, got " +
        s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")

  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  private def isFloat(t: DataType): Boolean =
    t.asInstanceOf[ArrayType].elementType == FloatType

  override protected def nullSafeEval(a: Any, b: Any): Any =
    CosineSim.compute(
      a.asInstanceOf[ArrayData], isFloat(left.dataType),
      b.asInstanceOf[ArrayData], isFloat(right.dataType))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (fa, fb) = (isFloat(left.dataType), isFloat(right.dataType))
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.CosineSim.compute($a, $fa, $b, $fb)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

object CosineSim {

  /** Static entry point shared by interpreted eval and generated code.
    * Sums run left-to-right in array order (same as the sequential HOF
    * fold and DuckDB's list_cosine_similarity — bit-compatible).
    *
    * Mismatched dimensions ERROR (DuckDB's list_cosine_similarity does
    * too; silently truncating would produce a plausible-but-wrong score).
    * Zero-norm input yields NaN by definition here: 0/0 — callers that
    * filter `>= threshold` drop such rows because NaN comparisons are
    * false.
    */
  def compute(a: ArrayData, aFloat: Boolean, b: ArrayData, bFloat: Boolean): Double = {
    val n = a.numElements()
    if (b.numElements() != n)
      throw new IllegalArgumentException(
        s"cosine_sim: array length mismatch (${a.numElements()} vs ${b.numElements()})")
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Builds `cosine_sim(a, b)`, the SQL function [[graft.GraftExtensions]] injects. */
  def build(args: Seq[Expression]): Expression = {
    require(args.length == 2, "cosine_sim(a, b)")
    CosineSim(args.head, args(1))
  }

  /** `cosine_sim` as a Column, for operators that must not depend on a
    * session's registered SQL functions.
    */
  def toCol(
      a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.internal.Cols.of(
      CosineSim(graft.internal.Cols.expressionOf(a), graft.internal.Cols.expressionOf(b)))
}

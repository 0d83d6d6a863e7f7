package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `simhash64(text)` — 64-bit SimHash document fingerprint (Charikar 2002,
  * "Similarity estimation techniques from rounding algorithms"; the
  * near-dup detection scheme popularized by Manku et al., WWW'07).
  *
  * Whitespace-tokenizes, hashes each token with a 64-bit FNV-1a, and for
  * each of the 64 bit positions sums +1/−1 votes across token hashes; the
  * sign of each sum becomes the output bit. Hamming-close fingerprints ⇒
  * near-duplicate documents.
  *
  * Implemented as a native Catalyst `Expression` with `doGenCode` (not a
  * Scala UDF): codegen emits a direct static call, so the expression
  * stays inside whole-stage codegen with no Row boxing — the right shape
  * for a 100 TB scan. Registered in SQL by [[graft.GraftExtensions]];
  * [[SimHash64.toCol]] builds the Column directly.
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"simhash64 requires a string argument, got ${child.dataType.catalogString}")

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override protected def nullSafeEval(input: Any): Any =
    SimHash64.compute(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash64.compute($c.toString())")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object SimHash64 {
  /** FNV-1a 64-bit over a token's UTF-16 chars — stable, dependency-free. */
  private def fnv1a(s: String, start: Int, end: Int): Long = {
    var h = 0xcbf29ce484222325L
    var i = start
    while (i < end) {
      h ^= s.charAt(i)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** Static entry point shared by interpreted eval and generated code. */
  def compute(text: String): Long = {
    val votes = new Array[Int](64)
    val n = text.length
    var i = 0
    while (i < n) {
      while (i < n && Character.isWhitespace(text.charAt(i))) i += 1
      val start = i
      while (i < n && !Character.isWhitespace(text.charAt(i))) i += 1
      if (i > start) {
        val h = fnv1a(text, start, i)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** Hamming distance between two fingerprints (≤ k ⇒ near-dup). */
  def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** Builds `simhash64(text)`, the SQL function [[graft.GraftExtensions]] injects. */
  def build(args: Seq[Expression]): Expression = {
    require(args.length == 1, "simhash64(text)")
    SimHash64(args.head)
  }

  /** `simhash64` as a Column, for operators that must not depend on a
    * session's registered SQL functions.
    */
  def toCol(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.internal.Cols.of(SimHash64(graft.internal.Cols.expressionOf(text)))
}

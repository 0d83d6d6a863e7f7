package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `word_ngrams(text, n, distinct)` — word n-gram shingles as one native
  * codegen'd expression: tokenize on single spaces (empty tokens
  * dropped), emit each run of `n` consecutive tokens re-joined by single
  * spaces; fewer than `n` tokens ⇒ empty array. With `distinct`,
  * first-occurrence order (matching Spark's `array_distinct`; DuckDB's
  * `list_distinct` does NOT pin order, so no oracle may compare
  * shingle-array ORDER — all current uses explode, sort, or
  * set-compare).
  *
  * Exactly the engine-portable semantics of the higher-order-function
  * formulation `array_distinct(transform(sequence(1, size(tk) - n + 1),
  * i -> concat_ws(' ', slice(tk, i, n))))` over
  * `filter(split(text, ' '), t -> t != '')` — but those HOFs run
  * interpreted (no codegen), allocating per token and per gram; one
  * tight loop here is ~20× per row, which dominates scan-heavy shingle
  * pipelines (q52/q56/q58).
  */
case class WordNGrams(child: Expression, n: Int, distinct: Boolean)
    extends UnaryExpression {

  require(n > 0, "n must be positive")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"word_ngrams requires a string argument, got ${child.dataType.catalogString}")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_ngrams"

  override protected def nullSafeEval(t: Any): Any =
    WordNGrams.compute(t.asInstanceOf[UTF8String], n, distinct)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.WordNGrams.compute($c, $n, $distinct)")

  override protected def withNewChildInternal(newChild: Expression): WordNGrams =
    copy(child = newChild)
}

object WordNGrams {

  /** Builds `word_ngrams(text, n, distinct)`, the SQL function
    * [[graft.GraftExtensions]] injects.
    */
  def build(args: Seq[Expression]): Expression = {
    require(args.length == 3, "word_ngrams(text, n, distinct)")
    WordNGrams(args.head, intArg(args(1)), boolArg(args(2)))
  }

  /** Token [start, end) offsets into `s`, interleaved (start0, end0,
    * start1, end1, …) in one growable int[] — no per-token boxing.
    * Single-space tokenization, empties dropped (split boundaries only,
    * no regex). Returns the offsets array; token count = length / 2 of
    * the USED prefix, returned via the first element of `countOut`.
    */
  private[functions] def tokenOffsets(s: String, countOut: Array[Int]): Array[Int] = {
    var offs = new Array[Int](32)
    var w = 0
    var i = 0
    val len = s.length
    while (i < len) {
      if (s.charAt(i) != ' ') {
        val st = i
        while (i < len && s.charAt(i) != ' ') i += 1
        if (w == offs.length) offs = java.util.Arrays.copyOf(offs, w * 2)
        offs(w) = st; offs(w + 1) = i; w += 2
      } else i += 1
    }
    countOut(0) = w / 2
    offs
  }

  /** Static entry point shared by interpreted eval and generated code. */
  def compute(text: UTF8String, n: Int, distinct: Boolean): ArrayData = {
    val s = text.toString
    val cnt = new Array[Int](1)
    val offs = tokenOffsets(s, cnt)
    val nTok = cnt(0)
    if (nTok < n) return new GenericArrayData(Array.empty[Any])
    val out = new java.util.ArrayList[UTF8String](nTok - n + 1)
    val seen = if (distinct) new java.util.HashSet[UTF8String]() else null
    var g = 0
    while (g <= nTok - n) {
      // gram = tokens g..g+n-1 joined by ' ' — rebuilt without the
      // original inter-token runs of spaces
      val sb = new java.lang.StringBuilder(offs(2 * (g + n - 1) + 1) - offs(2 * g))
      var k = 0
      while (k < n) {
        if (k > 0) sb.append(' ')
        sb.append(s, offs(2 * (g + k)), offs(2 * (g + k) + 1))
        k += 1
      }
      val gram = UTF8String.fromString(sb.toString)
      if (seen == null || seen.add(gram)) out.add(gram)
      g += 1
    }
    new GenericArrayData(out.toArray)
  }
}

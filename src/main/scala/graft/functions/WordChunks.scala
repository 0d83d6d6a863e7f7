package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `word_chunks(text, size, stride)` — strided context-window chunking:
  * token windows `[i·stride, i·stride + size)` re-joined by single
  * spaces, for i = 0, 1, … while `i·stride` is a valid start — the
  * "split long documents into overlapping context windows" step of a
  * training pipeline (stride < size ⇒ `size − stride` tokens of
  * overlap). The final chunk may be shorter than `size`; emission stops
  * with the first window that covers the last token (no redundant
  * suffix-only windows); empty/whitespace text ⇒ empty array.
  * Tokenization matches [[WordNGrams]]: split on single spaces, empty
  * tokens dropped.
  *
  * One codegen'd pass per document (offset arithmetic over the raw
  * string, no per-token allocation), scan-parallel, no shuffle.
  */
case class WordChunks(child: Expression, size: Int, stride: Int)
    extends UnaryExpression {

  require(size > 0, "size must be positive")
  require(stride > 0, "stride must be positive")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"word_chunks requires a string argument, got ${child.dataType.catalogString}")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_chunks"

  override protected def nullSafeEval(t: Any): Any =
    WordChunks.compute(t.asInstanceOf[UTF8String], size, stride)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.WordChunks.compute($c, $size, $stride)")

  override protected def withNewChildInternal(newChild: Expression): WordChunks =
    copy(child = newChild)
}

object WordChunks {

  /** Builds `word_chunks(text, size, stride)`, the SQL function
    * [[graft.GraftExtensions]] injects.
    */
  def build(args: Seq[Expression]): Expression = {
    require(args.length == 3, "word_chunks(text, size, stride)")
    WordChunks(args.head, intArg(args(1)), intArg(args(2)))
  }

  /** Static entry point shared by interpreted eval and generated code. */
  def compute(text: UTF8String, size: Int, stride: Int): ArrayData = {
    val s = text.toString
    val cnt = new Array[Int](1)
    val offs = WordNGrams.tokenOffsets(s, cnt) // shared unboxed tokenizer
    val nTok = cnt(0)
    if (nTok == 0) return new GenericArrayData(Array.empty[Any])
    val out = new java.util.ArrayList[UTF8String]()
    var from = 0
    var done = false
    while (from < nTok && !done) {
      val to = math.min(from + size, nTok) // exclusive; tail may be short
      val sb = new java.lang.StringBuilder(offs(2 * (to - 1) + 1) - offs(2 * from))
      var k = from
      while (k < to) {
        if (k > from) sb.append(' ')
        sb.append(s, offs(2 * k), offs(2 * k + 1))
        k += 1
      }
      out.add(UTF8String.fromString(sb.toString))
      done = to == nTok
      from += stride
    }
    new GenericArrayData(out.toArray)
  }
}

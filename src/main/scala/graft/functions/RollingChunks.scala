package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `rolling_chunks(text, avgChunk)` — content-defined chunk fingerprints
  * via a Rabin-Karp-style rolling hash (the rsync/LBFS chunking scheme):
  * a fixed window's polynomial hash rolls across the text one char at a
  * time; positions where `hash % avgChunk == 0` become chunk boundaries,
  * and each chunk's FNV digest is emitted.
  *
  * Because boundaries depend on CONTENT (not offsets), inserting or
  * deleting a sentence shifts at most the chunks it touches — unlike
  * fixed-size blocks, where one insertion re-aligns every subsequent
  * block. Sub-document overlap between two texts is then Jaccard over
  * their chunk-digest sets: the partial-duplication detector (quote
  * farms, boilerplate headers, near-copies with edits) that whole-doc
  * fingerprints cannot see.
  *
  * One fused JVM pass, codegen'd — same design rules as the other
  * `graft.functions` kernels.
  */
case class RollingChunks(child: Expression, avgChunk: Int)
    extends UnaryExpression {

  require(avgChunk >= 4, "avgChunk must be ≥ 4")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"rolling_chunks requires a string argument, got ${child.dataType.catalogString}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "rolling_chunks"

  override protected def nullSafeEval(input: Any): Any =
    RollingChunks.compute(input.asInstanceOf[UTF8String].toString, avgChunk)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.RollingChunks.compute($c.toString(), $avgChunk)")

  override protected def withNewChildInternal(newChild: Expression): RollingChunks =
    copy(child = newChild)
}

object RollingChunks {

  private val Window = 16
  private val Base = 257L

  /** Static entry point shared by interpreted eval and generated code. */
  def compute(text: String, avgChunk: Int): ArrayData = {
    val len = text.length
    if (len == 0) return new GenericArrayData(Array.empty[Long])
    // precomputed Base^(Window-1) for the rolling update
    var basePow = 1L
    var i = 0
    while (i < Window - 1) { basePow *= Base; i += 1 }

    val out = new scala.collection.mutable.ArrayBuffer[Long](len / avgChunk + 2)
    var rolling = 0L
    var chunkStart = 0
    i = 0
    while (i < len) {
      val c = text.charAt(i)
      rolling =
        if (i < Window) rolling * Base + c
        else (rolling - text.charAt(i - Window) * basePow) * Base + c
      val boundary =
        i >= chunkStart + Window &&
          java.lang.Long.remainderUnsigned(rolling, avgChunk.toLong) == 0L
      if (boundary || i == len - 1) {
        // FNV-1a digest of the chunk [chunkStart, i]
        var h = 0xcbf29ce484222325L
        var j = chunkStart
        while (j <= i) { h ^= text.charAt(j); h *= 0x100000001b3L; j += 1 }
        out += h
        chunkStart = i + 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Builds `rolling_chunks(text, avgChunk)`, the SQL function
    * [[graft.GraftExtensions]] injects.
    */
  def build(args: Seq[Expression]): Expression = {
    require(args.length == 2, "rolling_chunks(text, avgChunk)")
    RollingChunks(args.head, intArg(args(1)))
  }
}

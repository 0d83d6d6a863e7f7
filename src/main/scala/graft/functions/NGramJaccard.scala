package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `ngram_jaccard(a, b, n)` — exact Jaccard similarity of the character
  * n-gram shingle SETS of two strings, as one native expression.
  *
  * Shingles are hashed (FNV-1a 64) and deduplicated via sort+unique; the
  * intersection count comes from a linear merge of the two sorted arrays.
  * O(len·n + s log s) per row, no array materialization in the plan — so
  * when Catalyst inlines a `jaccard >= t` filter into a join condition
  * (which it does), each probe costs microseconds instead of two
  * interpreted higher-order shingle constructions (the HOF formulation
  * cost ~165 s over 176k candidate pairs at sf0.1; this evaluates the
  * same workload in ~1 s).
  *
  * Hash collisions (2⁻⁶⁴ per shingle pair) can in principle perturb the
  * value; for corpus-dedup semantics this is far below any meaningful
  * threshold granularity.
  */
case class NGramJaccard(left: Expression, right: Expression, n: Int)
    extends BinaryExpression {

  require(n > 0)

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"ngram_jaccard requires string arguments, got " +
        s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")

  override def dataType: DataType = DoubleType
  override def prettyName: String = "ngram_jaccard"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    NGramJaccard.compute(
      a.asInstanceOf[UTF8String].toString,
      b.asInstanceOf[UTF8String].toString, n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.NGramJaccard.compute($a.toString(), $b.toString(), $n)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NGramJaccard =
    copy(left = newLeft, right = newRight)
}

/** `ngram_distinct_count(a, n)` — the distinct character-n-gram shingle
  * count of one string, sharing [[NGramJaccard]]'s hashing. Computed once
  * per document (not per pair), it powers the EXACT length prefilter on
  * candidate pairs: J(A,B) = |A∩B|/|A∪B| ≤ min(|A|,|B|)/max(|A|,|B|), so
  * a pair whose count ratio is below the similarity threshold can be
  * dropped before building any shingle set for it.
  */
case class NGramDistinctCount(child: Expression, n: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(n > 0)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"ngram_distinct_count requires a string argument, got ${child.dataType.catalogString}")

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "ngram_distinct_count"

  override protected def nullSafeEval(a: Any): Any =
    NGramJaccard.distinctCount(a.asInstanceOf[UTF8String].toString, n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      s"graft.functions.NGramJaccard.distinctCount($a.toString(), $n)")

  override protected def withNewChildInternal(newChild: Expression): NGramDistinctCount =
    copy(child = newChild)
}

object NGramJaccard {

  /** Sorted distinct FNV-1a hashes of all n-gram shingles (degenerate
    * short/empty text ⇒ the single truncated shingle, mirroring the SQL
    * `sequence(1, greatest(len-n+1, 1))` formulation).
    */
  def shingleHashes(text: String, n: Int): Array[Long] = {
    val len = text.length
    val last = math.max(len - n, 0)
    val hs = new Array[Long](last + 1)
    var i = 0
    while (i <= last) {
      val end = math.min(i + n, len)
      var h = 0xcbf29ce484222325L
      var j = i
      while (j < end) {
        h ^= text.charAt(j)
        h *= 0x100000001b3L
        j += 1
      }
      hs(i) = h
      i += 1
    }
    java.util.Arrays.sort(hs)
    // in-place unique
    var w = 0
    i = 0
    while (i < hs.length) {
      if (w == 0 || hs(i) != hs(w - 1)) { hs(w) = hs(i); w += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(hs, w)
  }

  /** Static entry point shared by interpreted eval and generated code.
    * MUST be public: qualified-private (`private[functions]`) members get
    * no static forwarder on the companion class, so Janino can't resolve
    * them — the generated projection then fails to compile and the WHOLE
    * enclosing projection falls back to interpreted mode (this exact
    * regression shipped once: `shingleHashes` called directly from
    * `NGramDistinctCount.doGenCode`).
    */
  def distinctCount(text: String, n: Int): Int = shingleHashes(text, n).length

  /** Static entry point shared by interpreted eval and generated code. */
  def compute(a: String, b: String, n: Int): Double =
    jaccardSorted(shingleHashes(a, n), shingleHashes(b, n))

  /** Jaccard of two SORTED-DISTINCT hash arrays by linear merge — the
    * tail of [[compute]], public so [[SortedJaccard]] can evaluate over
    * PRE-built shingle arrays: a doc in `p` candidate pairs is shingled
    * once instead of `p` times (q21's verify at sf1 spent ~100× redundant
    * shingling before this split). Public static for codegen (see the
    * forwarder note above).
    */
  def jaccardSorted(ha: Array[Long], hb: Array[Long]): Double = {
    var i = 0
    var j = 0
    var inter = 0
    while (i < ha.length && j < hb.length) {
      val c = java.lang.Long.compare(ha(i), hb(j))
      if (c == 0) { inter += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    val union = ha.length + hb.length - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  /** Static array builder for codegen ([[NGramShingles]]). */
  def shingleArrayData(text: String, n: Int): org.apache.spark.sql.catalyst.util.GenericArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(shingleHashes(text, n))

  /** Builds `ngram_jaccard(a, b, n)`, the SQL function [[graft.GraftExtensions]] injects. */
  def build(args: Seq[Expression]): Expression = {
    require(args.length == 3, "ngram_jaccard(a, b, n)")
    NGramJaccard(args.head, args(1), intArg(args(2)))
  }
}

/** `ngram_shingles(text, n)` — the sorted-distinct FNV-1a shingle-hash
  * array of one string, [[NGramJaccard]]'s per-side preprocessing
  * exposed as its own expression so candidate-pair verification can
  * shingle each document ONCE (per scan) instead of once per pair side.
  * [[SortedJaccard]] over two of these arrays is value-identical to
  * `ngram_jaccard` over the texts (same hashes, same merge).
  */
case class NGramShingles(child: Expression, n: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(n > 0)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"ngram_shingles requires a string argument, got ${child.dataType.catalogString}")

  override def dataType: DataType = org.apache.spark.sql.types.ArrayType(
    org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "ngram_shingles"

  override protected def nullSafeEval(a: Any): Any =
    NGramJaccard.shingleArrayData(a.asInstanceOf[UTF8String].toString, n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      s"graft.functions.NGramJaccard.shingleArrayData($a.toString(), $n)")

  override protected def withNewChildInternal(newChild: Expression): NGramShingles =
    copy(child = newChild)
}

/** `sorted_jaccard(a, b)` — Jaccard of two sorted-distinct long arrays
  * (see [[NGramShingles]]); the per-pair half of `ngram_jaccard` with
  * the per-side shingling hoisted out.
  */
case class SortedJaccard(left: Expression, right: Expression)
    extends BinaryExpression {


  // containsNull arrays are rejected at ANALYSIS time: toLongArray in
  // the eval path throws on a null element, so accepting them here
  // would turn a future caller's type error into a runtime crash
  // (current internal producers — NGramShingles — are containsNull=false)
  private def isLongArray(t: DataType): Boolean = t match {
    case org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.LongType, containsNull) => !containsNull
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isLongArray(left.dataType) && isLongArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sorted_jaccard requires array<bigint> (no null elements) arguments, got " +
        s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")

  override def dataType: DataType = DoubleType
  override def prettyName: String = "sorted_jaccard"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    NGramJaccard.jaccardSorted(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray(),
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.NGramJaccard.jaccardSorted($a.toLongArray(), $b.toLongArray())")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedJaccard =
    copy(left = newLeft, right = newRight)
}

package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `normalize_text(text)` — the canonical text-normalization pass of a
  * web-scale curation pipeline, fused into ONE native expression:
  *
  *   1. Unicode NFC canonical composition (é as `e`+U+0301 and é as
  *      U+00E9 become the same bytes — without this, exact dedup,
  *      shingling, and md5 fingerprints all silently treat canonically
  *      equal text as different),
  *   2. locale-independent SIMPLE lowercase — per-codepoint
  *      `Character.toLowerCase`, NOT `String.toLowerCase`: the String
  *      variant applies Unicode SpecialCasing (contextual Greek final
  *      sigma, Turkish İ expanding to `i`+U+0307) that per-codepoint
  *      engines like DuckDB's utf8proc `lower()` do not, so the String
  *      form would diverge from the oracle on exactly those inputs.
  *      Simple 1:1 mapping is also the right choice for a dedup
  *      normalizer: stable, length-preserving, locale-free,
  *   3. whitespace run collapse to a single ASCII space + trim.
  *
  * Collapse recognizes exactly the RE2 `\s` class `[ \t\n\f\r]` so the
  * DuckDB oracle (`regexp_replace(..., '\s+', ' ', 'g')`, RE2 engine)
  * computes the identical function; Java's broader
  * `Character.isWhitespace` set (vertical tab, unicode spaces) is
  * deliberately NOT used.
  *
  * Semantics order matters and both engines pin it: NFC FIRST, then
  * lowercase (so `I`+U+0308 composes to `Ï` before lowering to `ï`),
  * then collapse.
  */
case class NormalizeText(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"normalize_text requires a string argument, got ${child.dataType.catalogString}")

  override def dataType: DataType = StringType
  override def prettyName: String = "normalize_text"

  override protected def nullSafeEval(input: Any): Any =
    UTF8String.fromString(
      NormalizeText.compute(input.asInstanceOf[UTF8String].toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.functions.NormalizeText.compute($c.toString()))")

  override protected def withNewChildInternal(newChild: Expression): NormalizeText =
    copy(child = newChild)
}

object NormalizeText {

  /** RE2 `\s`: space, tab, newline, form feed, carriage return. */
  private def isRe2Space(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\f' || c == '\r'

  /** Builds `normalize_text(text)`, the SQL function [[graft.GraftExtensions]] injects. */
  def build(args: Seq[Expression]): Expression = {
    require(args.length == 1, "normalize_text(text)")
    NormalizeText(args.head)
  }

  /** Static entry point shared by interpreted eval and generated code. */
  def compute(text: String): String = {
    val composed =
      if (java.text.Normalizer.isNormalized(text, java.text.Normalizer.Form.NFC)) text
      else java.text.Normalizer.normalize(text, java.text.Normalizer.Form.NFC)
    val len = composed.length
    val sb = new java.lang.StringBuilder(len)
    var i = 0
    var pendingSpace = false
    while (i < len) {
      val cp = composed.codePointAt(i)
      if (cp < 0x80 && isRe2Space(cp.toChar)) {
        pendingSpace = sb.length > 0 // leading runs vanish (trim)
      } else {
        if (pendingSpace) { sb.append(' '); pendingSpace = false }
        // simple per-codepoint mapping — see the case-mapping note above
        sb.appendCodePoint(Character.toLowerCase(cp))
      }
      i += Character.charCount(cp)
    }
    sb.toString // trailing run never flushed (trim)
  }
}

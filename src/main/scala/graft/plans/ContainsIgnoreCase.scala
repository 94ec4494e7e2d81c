package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge.{column => toCol, expression}
import org.apache.spark.sql.types.{BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Case-insensitive ASCII substring test — the keyword-filter
  * primitive (`P6` keyword-OR filters, SURVEY §2.2).
  *
  * `contains(lower(text), kw)` is exact but MATERIALIZES: `lower`
  * rewrites a full copy of every document just so `contains` can scan
  * it — on the x1000 documents corpus that copy was most of
  * p6_keyword_or's 1.3 s wall (the filter touches ~10 GB of text).
  * This expression scans the original UTF-8 buffer in place, folding
  * `A-Z` to `a-z` byte-wise during the comparison — zero allocation,
  * a tight JIT'able loop that stays inside whole-stage codegen.
  *
  * Equivalence to `contains(lower(text), needle)` for the accepted
  * needles (lower-case ASCII): ASCII bytes never occur inside UTF-8
  * multi-byte sequences, and Unicode's only case mappings FROM a
  * non-ASCII character INTO ASCII are U+212A KELVIN SIGN → 'k' and
  * U+0130 İ → "i" + U+0307 (combining dot). The constructor therefore
  * rejects needles containing 'k' (a Kelvin sign in the text would
  * lower into a match this scan can't see) and needles ENDING in 'i'
  * (İ's lowered "i" is always followed by the combining dot, which
  * blocks any longer match but would complete an i-final one). Within
  * those bounds the two forms agree on EVERY input string, not just
  * ASCII text — ContainsIgnoreCaseSpec fuzzes the equivalence
  * including İ/K adversarial inputs.
  *
  * LOCALE CONTRACT: the argued equivalence is to `lower()` under the
  * ROOT locale — DuckDB's `lower()` and the rule every text kernel
  * lowers by ([[TokenScan]]). This scan holds it whatever the JVM's
  * default locale. Spark's own `lower` delegates to
  * `String.toLowerCase()` — the DEFAULT locale — for strings
  * containing any non-ASCII character, so under a Turkish/Azeri
  * default `contains(lower(text), kw)` can differ from this scan
  * (`lower("JOİN")` is then "join"); `Sessions` sets no locale, so
  * that composition is the one to distrust, not this expression.
  */
object ContainsIgnoreCase {

  /** In-place case-folding scan: does `s` contain `needleLower`
    * (lower-case ASCII bytes) under ASCII case folding? */
  def containsAsciiFold(s: UTF8String, needleLower: UTF8String): Boolean = {
    val n = s.numBytes()
    val m = needleLower.numBytes()
    if (m == 0) return true
    if (m > n) return false
    val limit = n - m
    var i = 0
    while (i <= limit) {
      var j = 0
      var ok = true
      while (ok && j < m) {
        if (TokenScan.fold(s.getByte(i + j)) != needleLower.getByte(j)) ok = false
        j += 1
      }
      if (ok) return true
      i += 1
    }
    false
  }

  private[plans] def validNeedle(v: UTF8String): Option[String] = {
    val m = v.numBytes()
    var i = 0
    while (i < m) {
      val b = v.getByte(i)
      if ((b & 0x80) != 0) return Some("needle must be ASCII")
      if (b >= 'A' && b <= 'Z')
        return Some("needle must be lower-case (it is compared folded)")
      if (b == 'k')
        return Some("needle may not contain 'k' (U+212A KELVIN SIGN " +
          "lowercases to ASCII k — lower()-equivalence would break)")
      i += 1
    }
    if (m > 0 && v.getByte(m - 1) == 'i')
      Some("needle may not end in 'i' (U+0130 İ lowercases to i+" +
        "combining-dot — an i-final needle could match under lower() " +
        "but not under byte folding)")
    else None
  }

  /** Column form: case-insensitive `str` contains `needle`. */
  def column(str: Column, needle: String): Column = {
    val v = UTF8String.fromString(needle)
    validNeedle(v).foreach(msg =>
      throw new IllegalArgumentException(s"containsIgnoreCase: $msg"))
    toCol(ContainsIgnoreCaseExpr(expression(str), Literal(needle)))
  }
}

/** `ContainsIgnoreCaseExpr(str, needle)`: BOOLEAN, true when `str`
  * contains the lower-case-ASCII literal `needle` under ASCII case
  * folding. Codegen emits a call to the static scanning loop — no
  * per-row allocation, no lowered copy of the input. */
case class ContainsIgnoreCaseExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = left.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != StringType || right.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"arguments must be string, got ${left.dataType} / ${right.dataType}")
    else right match {
      case Literal(v: UTF8String, StringType) if v != null =>
        ContainsIgnoreCase.validNeedle(v)
          .map(TypeCheckResult.TypeCheckFailure(_))
          .getOrElse(TypeCheckResult.TypeCheckSuccess)
      case _ => TypeCheckResult.TypeCheckFailure(
        "needle must be a non-null string literal")
    }

  private lazy val needle: UTF8String =
    right.eval(null).asInstanceOf[UTF8String]

  override def nullSafeEval(str: Any, chr: Any): Any =
    ContainsIgnoreCase.containsAsciiFold(str.asInstanceOf[UTF8String], needle)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("needle", needle, classOf[UTF8String].getName)
    nullSafeCodeGen(ctx, ev, (s, _) => {
      s"${ev.value} = graft.plans.ContainsIgnoreCase.containsAsciiFold($s, $ref);"
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ContainsIgnoreCaseExpr =
    copy(left = newLeft, right = newRight)
}

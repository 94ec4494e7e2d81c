package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Occurrence count of a single ASCII byte in a string — the
  * whitespace-token-count primitive (`tokens = #separators + 1`,
  * SURVEY §2 token counting).
  *
  * The `length(translate(text, " ", ""))` arithmetic the token-count
  * queries used is exact but ALLOCATES: `translate` materializes a
  * rewritten copy of every document (and walks a codepoint iterator)
  * just so `length` can subtract. On the x100 documents corpus that
  * copy was ~40% of `pack_sequences`' scan job (round-12 x100 job
  * timeline: 0.52 s scan job → 0.33 s with the counting loop). This expression
  * counts matching bytes in place — zero allocation, a tight JIT'able
  * loop over the UTF-8 buffer.
  *
  * ASCII-byte semantics: in UTF-8, byte values < 0x80 never occur
  * inside a multi-byte sequence, so counting `0x20` bytes equals
  * counting U+0020 codepoints — the identity the DuckDB oracle's
  * `length - length(replace(...))` arithmetic computes. Constructor
  * requires an ASCII literal so the equivalence cannot silently break.
  */
object StringCount {

  /** Count occurrences of `b` (ASCII) in `s`'s UTF-8 bytes. */
  def countByte(s: UTF8String, b: Byte): Long = {
    var i = 0
    val n = s.numBytes()
    var c = 0L
    while (i < n) {
      if (s.getByte(i) == b) c += 1
      i += 1
    }
    c
  }

  /** Column form: occurrences of ASCII char `ch` in `str`. */
  def countChar(str: Column, ch: Char): Column = {
    require(ch < 0x80, f"countChar requires an ASCII char, got U+${ch.toInt}%04X")
    column(CountByte(expression(str), Literal(ch.toString)))
  }
}

/** `CountByte(str, chr)`: LONG count of the ASCII character `chr`
  * (a one-char string literal) in `str`. Codegen emits a call to the
  * static counting loop — stays inside whole-stage codegen with no
  * per-row allocation. */
case class CountByte(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = left.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != StringType || right.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"arguments must be string, got ${left.dataType} / ${right.dataType}")
    else right match {
      case Literal(v: UTF8String, StringType)
        if v != null && v.numBytes == 1 && (v.getByte(0) & 0x80) == 0 =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "chr must be a single-ASCII-char string literal")
    }

  private lazy val target: Byte =
    right.eval(null).asInstanceOf[UTF8String].getByte(0)

  override def nullSafeEval(str: Any, chr: Any): Any =
    StringCount.countByte(str.asInstanceOf[UTF8String], target)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, _) => {
      s"${ev.value} = graft.plans.StringCount.countByte($s, (byte) $target);"
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CountByte =
    copy(left = newLeft, right = newRight)
}

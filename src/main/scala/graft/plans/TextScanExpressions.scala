package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge.{column => toCol, expression}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Static per-row scan kernels for the text-sketch expressions below —
  * the r19 instalment of the r18 "codegen scan instead of UDF"
  * treatment (ContainsIgnoreCase). Both kernels read the
  * UTF-8 buffer IN PLACE: the UDF forms paid a full UTF8String→String
  * decode-copy per row before doing any work — at the 17 GB sweep
  * point that boundary was ~all of lang_stopwords' 4.8 s (6.2×) and
  * the dominant residual of simhash's 3.9 s (95 % sketch scan in the
  * r18 x1000 stage cuts, bench_history/BENCH_FULL_r18.json).
  *
  * LOCALE: tokens lower by [[TokenScan]]'s one rule (ASCII folded in
  * place, anything else with Locale.ROOT), the same contract as
  * [[SketchScan]] and [[ContainsIgnoreCase]].
  */
object TextScan {

  /** Count of whitespace-delimited tokens equal (case-folded) to one
    * of `set`'s needles. Exactly `text.toLowerCase(Locale.ROOT)
    * .split("\\s+")` + set-membership counting (the reference UDF
    * semantics; TextScanSpec fuzz-pins the equivalence). */
  def stopwordHits(s: UTF8String, set: TokenTable): Int = {
    val c = new TokenScan.Cursor(s)
    var hits = 0
    while (c.next()) if (set.get(c) != TokenTable.ABSENT) hits += 1
    hits
  }

  /** 64-bit SimHash over [[SketchScan]]'s tokens: per-bit ±1 majority
    * of the finalized token hashes. The per-bit counters are
    * BIT-SLICED: plane k holds bit k of all 64 ones-counters, and adding
    * a token's 64-bit mask is an amortized-O(1) ripple-carry increment
    * (~2 plane ops/token) instead of a 64-iteration per-token loop — the
    * loop that was ~all of the sketch scan's CPU at x1000. Majority
    * test: counts(b) = 2·ones(b) − total > 0 ⟺ 2·ones(b) > total.
    * TextScanSpec fuzz-pins it against the counter loop over the regex
    * tokenizer (TextReference). */
  def simhash64(s: UTF8String): Long = {
    val planes = new Array[Long](33) // total < 2^31 tokens → ≤32 planes
    var total = 0L
    val c = new SketchScan.Cursor(s)
    while (c.next()) {
      // finalize (xorshift mix) so low bits are well distributed
      var h = c.hash
      h ^= (h >>> 33); h *= 0xff51afd7ed558ccdL; h ^= (h >>> 33)
      var carry = h
      var k = 0
      while (carry != 0L) {
        val old = planes(k); planes(k) = old ^ carry; carry = old & carry
        k += 1
      }
      total += 1L
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      var ones = 0L
      var k = 0
      while (k < 33) { ones |= ((planes(k) >>> b) & 1L) << k; k += 1 }
      if (2L * ones > total) out |= (1L << b)
      b += 1
    }
    out
  }

  /** Column forms. */
  def stopwordCount(text: Column, needles: Seq[String]): Column =
    toCol(StopwordCountExpr(expression(text), needles))
  def simhash(text: Column): Column = toCol(SimHash64Expr(expression(text)))
}

/** `StopwordCountExpr(text, needles)`: INT count of whitespace
  * tokens of `text` whose lower-cased form is in `needles`. Codegen
  * emits a call to the static in-place scanner — no per-row String
  * decode, no split array. */
case class StopwordCountExpr(child: Expression, needles: Seq[String])
    extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"argument must be string, got ${child.dataType}")
    else TypeCheckResult.TypeCheckSuccess

  @transient private lazy val set: TokenTable = {
    require(needles.forall(w => w == w.toLowerCase(java.util.Locale.ROOT)),
      "stopword needles must be lower-case (tokens compare folded)")
    TokenTable.of(needles.map(_ -> 1L))
  }

  override def nullSafeEval(str: Any): Any =
    TextScan.stopwordHits(str.asInstanceOf[UTF8String], set)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("stopwordSet", set,
      classOf[TokenTable].getName)
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.plans.TextScan.stopwordHits($s, $ref);")
  }

  override def toString: String = s"stopword_count($child)"

  override protected def withNewChildInternal(newChild: Expression): StopwordCountExpr =
    copy(child = newChild)
}

/** `SimHash64Expr(text)`: LONG 64-bit SimHash sketch (see
  * [[TextScan.simhash64]]). */
case class SimHash64Expr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"argument must be string, got ${child.dataType}")
    else TypeCheckResult.TypeCheckSuccess

  override def nullSafeEval(str: Any): Any =
    TextScan.simhash64(str.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.plans.TextScan.simhash64($s);")

  override def toString: String = s"simhash64($child)"

  override protected def withNewChildInternal(newChild: Expression): SimHash64Expr =
    copy(child = newChild)
}

package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge.{column => toCol, expression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** r20 instalment of the "codegen scan instead of UDF" treatment
  * (guide §4) for the row-local corpus scorers — tf-idf top-k and the
  * unigram LM score, the two largest x1000 weak entries (11.5 s and
  * 8 s; each tokenized the corpus through per-token substring +
  * toLowerCase + boxed map updates).
  *
  * The kernels read the UTF-8 buffer in place through [[TokenScan]]'s
  * cursor (byte-level whitespace delimiting, ASCII tokens folded in
  * place, non-ASCII tokens lowered with `Locale.ROOT`). Per-document
  * term frequencies accumulate in a [[TokenTable]] whose ASCII keys
  * borrow the text buffer, so the common path allocates only the
  * output rows; the df, log-prob and language-mask tables are
  * TokenTables of owned keys, probed by folded bytes.
  *
  * Scoring parity:
  *  - tf-idf is bit-identical to the UDF it replaces: score = tf ·
  *    StrictMath.log(nD / df) per distinct token (no accumulation, so
  *    order cannot matter), ranked by (score desc, token asc) — a
  *    total order, byte-compared when both tokens are pure ASCII
  *    (equal to `String.<` there) and compared as Strings otherwise.
  *  - the LM score's Σ tf·ln(p) accumulates over distinct tokens in
  *    TABLE order, where the UDF folded in scala-HashMap order — both
  *    arbitrary-but-deterministic; the sums agree to the usual
  *    reassociation ulps and the query rounds to 4 decimals
  *    (LmScoreSpec re-pins the forms at the rounded contract; the
  *    DuckDB oracle already accumulates in a third order).
  * TfidfKernelSpec fuzz-pins both kernels against the UDF forms on
  * mixed corpora.
  */
object Tfidf {

  /** Top-k (rank, token, tf, tf·idf) rows for one document — the
    * scalar UDF's exact tuple shape, ready for explode. */
  def topK(s: UTF8String, df: TokenTable, nD: Double, k: Int): ArrayData = {
    val t = TokenTable.scan(s)
    if (t.size == 0) return new GenericArrayData(Array.empty[Any])

    val kk = math.min(k, t.size)
    val topE = new Array[Int](kk)
    val topS = new Array[Double](kk)
    var m = 0
    var e = 0
    while (e < t.capacity) {
      if (t.occupied(e)) {
        val dfv = df.get(t, e)
        if (dfv == TokenTable.ABSENT) throw new IllegalStateException(
          s"tfidfTopTermsRowLocal: token '${t.entryString(e)}' absent from " +
            "the vocab pass — the input must be deterministic across scans " +
            "(sample()/limit()/unstable shuffle break this); use the join " +
            "form tfidfTopTerms")
        val score = t.value(e) * java.lang.StrictMath.log(nD / dfv)
        // insertion position: past every slot that beats e
        var p = m
        while (p > 0 && (score > topS(p - 1) ||
          (score == topS(p - 1) && t.tokLess(e, topE(p - 1))))) p -= 1
        if (p < kk) {
          val last = math.min(m, kk - 1)
          var q = last
          while (q > p) { topE(q) = topE(q - 1); topS(q) = topS(q - 1); q -= 1 }
          topE(p) = e; topS(p) = score
          if (m < kk) m += 1
        }
      }
      e += 1
    }

    val out = new Array[Any](m)
    var r = 0
    while (r < m) {
      val en = topE(r)
      out(r) = new GenericInternalRow(Array[Any](
        r + 1, UTF8String.fromBytes(t.entryBytes(en)), t.value(en), topS(r)))
      r += 1
    }
    new GenericArrayData(out)
  }

  /** (n_tokens, Σ tf·logp / n_tokens) for one document — the LM
    * scorer UDF's tuple shape. `logpBits` maps lowered token bytes to
    * `doubleToRawLongBits(ln(cnt/total))`. */
  def lmScore(s: UTF8String, logpBits: TokenTable): InternalRow = {
    val t = TokenTable.scan(s)
    var n = 0L
    var acc = 0.0
    var e = 0
    while (e < t.capacity) {
      if (t.occupied(e)) {
        val bits = logpBits.get(t, e)
        if (bits == TokenTable.ABSENT) throw new IllegalStateException(
          s"corpusLmScoreRowLocal: token '${t.entryString(e)}' absent from " +
            "the vocab pass — the input must be deterministic across scans " +
            "(sample()/limit()/unstable shuffle break this); use the join " +
            "form corpusLmScore")
        n += t.value(e)
        acc += t.value(e) * java.lang.Double.longBitsToDouble(bits)
      }
      e += 1
    }
    new GenericInternalRow(Array[Any](n, acc / n))
  }

  /** Language-ID argmax in ONE pass: every stopword list is folded
    * into a single (lowered token → language bitmask) table, each token
    * occurrence bumps the hit counter of every language whose list
    * contains it, and the argmax applies the reference UDF's exact
    * rule (most hits; ties at >0 hits break to the lexicographically
    * larger code; all-zero → "und"). The UDF re-lowered and re-split
    * the text and rebuilt each language's needle SET per document —
    * five token passes plus per-doc set allocation. Languages are
    * passed pre-sorted by code. */
  def langId(s: UTF8String, masks: TokenTable, langs: Array[UTF8String],
             und: UTF8String): UTF8String = {
    val hits = new Array[Int](langs.length)
    val c = new TokenScan.Cursor(s)
    while (c.next()) {
      var mask = masks.get(c)
      if (mask != TokenTable.ABSENT) {
        var l = 0
        while (mask != 0L) {
          if ((mask & 1L) != 0L) hits(l) += 1
          mask >>>= 1
          l += 1
        }
      }
    }
    var best = -1 // und
    var bestHits = 0
    var l = 0
    while (l < langs.length) {
      // langs sorted ascending; '>' on equal hits prefers the later
      // (lex-larger) code — the UDF's exact tie rule
      if (hits(l) > bestHits ||
        (hits(l) == bestHits && hits(l) > 0 && best >= 0 &&
          langs(l).compareTo(langs(best)) > 0) ||
        (hits(l) == bestHits && hits(l) > 0 && best < 0)) {
        bestHits = hits(l); best = l
      }
      l += 1
    }
    if (best < 0) und else langs(best)
  }

  /** Column forms. [[HasTokenExpr]] is the cheap pre-filter equivalent
    * of `n_tokens > 0`, so callers can drop empty docs BEFORE an
    * expensive scorer instead of filtering on the scorer's output
    * (which re-evaluates the kernel per row when the predicate is
    * pushed below the projection — the §4.4 duplication hazard,
    * observed live in lm_score's plan: `Filter (lm_score(text)._1 > 0)`
    * under `Project [lm_score(text) AS r]`). */
  def hasTokenCol(text: Column): Column =
    toCol(HasTokenExpr(expression(text)))
  def topKCol(text: Column, df: TokenTable, nD: Double, k: Int): Column =
    toCol(TfidfTopKExpr(expression(text), df, nD, k))
  def lmScoreCol(text: Column, logpBits: TokenTable): Column =
    toCol(LmScoreExpr(expression(text), logpBits))
  def langIdCol(text: Column, table: Map[String, Seq[String]]): Column =
    toCol(LangIdExpr(expression(text), table))
}

/** `TfidfTopKExpr(text)`: array<struct<_1:int,_2:string,_3:bigint,
  * _4:double>> of the doc's top-k (rank, token, tf, tf·idf) — the
  * row-local scorer's UDF tuple shape, computed by the in-place
  * kernel. */
case class TfidfTopKExpr(child: Expression, dfMap: TokenTable,
                         nD: Double, k: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("_1", IntegerType, nullable = false),
    StructField("_2", StringType),
    StructField("_3", LongType, nullable = false),
    StructField("_4", DoubleType, nullable = false))))
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"argument must be string, got ${child.dataType}")
    else TypeCheckResult.TypeCheckSuccess

  override def nullSafeEval(str: Any): Any =
    Tfidf.topK(str.asInstanceOf[UTF8String], dfMap, nD, k)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("tfidfDfMap", dfMap,
      classOf[TokenTable].getName)
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.plans.Tfidf.topK($s, $ref, ${nD}D, $k);")
  }

  override def toString: String = s"tfidf_topk($child, k=$k)"

  override protected def withNewChildInternal(newChild: Expression): TfidfTopKExpr =
    copy(child = newChild)
}

/** `HasTokenExpr(text)`: BOOLEAN, true iff the text has a
  * non-whitespace byte (null text → null, i.e. filtered). */
case class HasTokenExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"argument must be string, got ${child.dataType}")
    else TypeCheckResult.TypeCheckSuccess

  override def nullSafeEval(str: Any): Any =
    TokenScan.hasToken(str.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.plans.TokenScan.hasToken($s);")

  override def toString: String = s"has_token($child)"

  override protected def withNewChildInternal(newChild: Expression): HasTokenExpr =
    copy(child = newChild)
}

/** `LangIdExpr(text)`: STRING language code by stopword-hit argmax
  * (see [[Tfidf.langId]]). Null text yields null — the caller
  * coalesces to 'und' (the UDF's null contract). */
case class LangIdExpr(child: Expression, table: Map[String, Seq[String]])
    extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"argument must be string, got ${child.dataType}")
    else TypeCheckResult.TypeCheckSuccess

  @transient private lazy val langs: Array[UTF8String] =
    table.keys.toArray.sorted.map(UTF8String.fromString)
  @transient private lazy val masks: TokenTable = {
    val sorted = table.keys.toArray.sorted
    val m = scala.collection.mutable.Map.empty[String, Long]
    sorted.zipWithIndex.foreach { case (lang, i) =>
      table(lang).foreach { w =>
        val k = w.toLowerCase(java.util.Locale.ROOT)
        m.update(k, m.getOrElse(k, 0L) | (1L << i))
      }
    }
    TokenTable.of(m)
  }
  @transient private lazy val und = UTF8String.fromString("und")

  override def nullSafeEval(str: Any): Any =
    Tfidf.langId(str.asInstanceOf[UTF8String], masks, langs, und)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mRef = ctx.addReferenceObj("langMasks", masks,
      classOf[TokenTable].getName)
    val lRef = ctx.addReferenceObj("langCodes", langs,
      "org.apache.spark.unsafe.types.UTF8String[]")
    val uRef = ctx.addReferenceObj("langUnd", und,
      classOf[UTF8String].getName)
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.plans.Tfidf.langId($s, $mRef, $lRef, $uRef);")
  }

  override def toString: String = s"lang_id($child)"

  override protected def withNewChildInternal(newChild: Expression): LangIdExpr =
    copy(child = newChild)
}

/** `LmScoreExpr(text)`: struct<_1:bigint,_2:double> of (n_tokens,
  * avg log-prob) — the LM scorer's UDF tuple shape. */
case class LmScoreExpr(child: Expression, logpBits: TokenTable)
    extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("_1", LongType, nullable = false),
    StructField("_2", DoubleType, nullable = false)))
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"argument must be string, got ${child.dataType}")
    else TypeCheckResult.TypeCheckSuccess

  override def nullSafeEval(str: Any): Any =
    Tfidf.lmScore(str.asInstanceOf[UTF8String], logpBits)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("lmLogpMap", logpBits,
      classOf[TokenTable].getName)
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.plans.Tfidf.lmScore($s, $ref);")
  }

  override def toString: String = s"lm_score($child)"

  override protected def withNewChildInternal(newChild: Expression): LmScoreExpr =
    copy(child = newChild)
}

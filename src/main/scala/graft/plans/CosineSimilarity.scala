package graft.plans

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionDescription}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression for cosine similarity over two
  * `array<float>` columns — the engine's hottest scalar
  * (SURVEY §2.8-math, ref embedding_handler.py:61-73).
  *
  * Versus the higher-order-function formulation (zip_with + aggregate)
  * this stays inside whole-stage codegen: one fused loop over the two
  * ArrayData buffers, no lambda-interpreter dispatch per element and
  * no intermediate array allocation. Math is identical — per-element
  * float→double widening, sequential double accumulation, 0.0 for
  * zero-norm inputs — so results hash-match the HOF path and the
  * DuckDB oracle. NULL semantics also match the HOF formulation:
  * mismatched lengths (zip_with pads with null) or a null element
  * (null poisons the aggregate) yield NULL, not a fabricated number.
  * The element null check is emitted only when the array type says
  * `containsNull` — embeddings read as `array<float> NOT NULL` keep
  * the branch-free hot loop. A k-NN query is a foldable side (an array
  * literal, which generated code sees as boxed Floats): it is read
  * once per task into a `float[]` and its norm, with the same results
  * bit for bit ([[queryLoop]]).
  */
@ExpressionDescription(
  usage = "_FUNC_(a, b) - cosine similarity of two float vectors (0.0 when a norm is zero)")
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"arguments must be array<float>, got ${left.dataType} / ${right.dataType}")
  }

  override def nullable: Boolean = true

  private def elementsNullable: Boolean = VectorNullability.elementsNullable(this)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    val checkNulls = elementsNullable
    var dot = 0.0
    var nx = 0.0
    var ny = 0.0
    var i = 0
    while (i < n) {
      if (checkNulls && (x.isNullAt(i) || y.isNullAt(i))) return null
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi
      nx += xi * xi
      ny += yi * yi
      i += 1
    }
    val denom = math.sqrt(nx) * math.sqrt(ny)
    if (denom == 0.0) 0.0 else dot / denom
  }

  /** The value of the one foldable side (the query), when exactly one
    * side is foldable and its value has no null element, with whether
    * it is the left side. */
  private def foldedQuery: Option[(Array[Float], Boolean)] =
    Seq(left -> true, right -> false).filter(_._1.foldable) match {
      case Seq((e, isLeft)) => Option(e.eval().asInstanceOf[ArrayData]).collect {
        case q if !(0 until q.numElements()).exists(q.isNullAt) => (q.toFloatArray(), isLeft)
      }
      case _ => None
    }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => foldedQuery match {
      case Some((q, queryLeft)) => queryLoop(ctx, ev, q, queryLeft, if (queryLeft) b else a)
      case None => pairLoop(ctx, ev, a, b)
    })

  /** One side is a query known at planning: it is read once per task
    * into a `float[]` and its norm, so the loop neither unboxes it nor
    * sums its squares per row. Both stay reference objects, never
    * inlined values, so every query runs the same generated class. The
    * products, sums and their order are [[pairLoop]]'s. */
  private def queryLoop(ctx: CodegenContext, ev: ExprCode, q: Array[Float],
                        queryLeft: Boolean, row: String): String = {
    val norm = math.sqrt(q.foldLeft(0.0)((s, e) => s + e.toDouble * e.toDouble))
    val qRef = ctx.addReferenceObj("cosineQuery", q, "float[]")
    val normRef = ctx.addReferenceObj("cosineQueryNorm", java.lang.Double.valueOf(norm))
    val qa = ctx.addMutableState("float[]", "cosineQuery", v => s"$v = $qRef;",
      forceInline = true)
    val qn = ctx.addMutableState("double", "cosineQueryNorm",
      v => s"$v = $normRef.doubleValue();", forceInline = true)
    val n = ctx.freshName("n")
    val i = ctx.freshName("i")
    val dot = ctx.freshName("dot")
    val nr = ctx.freshName("nr")
    val qi = ctx.freshName("qi")
    val ri = ctx.freshName("ri")
    val denom = ctx.freshName("denom")
    val nullCheck =
      if (elementsNullable) s"if ($row.isNullAt($i)) { ${ev.isNull} = true; break; }"
      else ""
    val (product, norms) =
      if (queryLeft) (s"$qi * $ri", s"$qn * java.lang.Math.sqrt($nr)")
      else (s"$ri * $qi", s"java.lang.Math.sqrt($nr) * $qn")
    s"""
       |int $n = $row.numElements();
       |if ($n != $qa.length) {
       |  ${ev.isNull} = true;
       |} else {
       |  double $dot = 0.0; double $nr = 0.0;
       |  for (int $i = 0; $i < $n; $i++) {
       |    $nullCheck
       |    double $qi = (double) $qa[$i];
       |    double $ri = (double) $row.getFloat($i);
       |    $dot += $product; $nr += $ri * $ri;
       |  }
       |  if (!${ev.isNull}) {
       |    double $denom = $norms;
       |    ${ev.value} = ($denom == 0.0) ? 0.0 : $dot / $denom;
       |  }
       |}
     """.stripMargin
  }

  private def pairLoop(ctx: CodegenContext, ev: ExprCode, a: String, b: String): String = {
    val n = ctx.freshName("n")
    val i = ctx.freshName("i")
    val dot = ctx.freshName("dot")
    val nx = ctx.freshName("nx")
    val ny = ctx.freshName("ny")
    val xi = ctx.freshName("xi")
    val yi = ctx.freshName("yi")
    val denom = ctx.freshName("denom")
    val nullCheck =
      if (elementsNullable)
        s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
      else ""
    s"""
       |int $n = $a.numElements();
       |if ($n != $b.numElements()) {
       |  ${ev.isNull} = true;
       |} else {
       |  double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
       |  for (int $i = 0; $i < $n; $i++) {
       |    $nullCheck
       |    double $xi = (double) $a.getFloat($i);
       |    double $yi = (double) $b.getFloat($i);
       |    $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
       |  }
       |  if (!${ev.isNull}) {
       |    double $denom = java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny);
       |    ${ev.value} = ($denom == 0.0) ? 0.0 : $dot / $denom;
       |  }
       |}
     """.stripMargin
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

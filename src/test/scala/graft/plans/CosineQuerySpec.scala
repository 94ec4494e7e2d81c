package graft.plans

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}

import graft.SparkSpec
import graft.functions.VectorFunctions.cosineFast

/** A foldable query side is read once per task into a `float[]` and its
  * norm; the generated loop must give, bit for bit, what the
  * interpreted `nullSafeEval` gives: over random vectors, a zero
  * vector, a length mismatch, a null element and a null row, with the
  * query on either side. */
class CosineQuerySpec extends SparkSpec {

  private val dim = 256
  private val rnd = new scala.util.Random(17)
  private def vec(n: Int = dim): Seq[java.lang.Float] =
    Seq.fill(n)(java.lang.Float.valueOf((rnd.nextGaussian() * 3).toFloat))

  /** Rows over a parallelized collection, so the projection is code
    * generated (a local relation would be folded by the optimizer). */
  private def frame(rows: Seq[Seq[java.lang.Float]], containsNull: Boolean): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.zipWithIndex.map { case (v, i) => Row(i.toLong, v) }, 3),
      StructType(Seq(StructField("id", LongType),
        StructField("v", ArrayType(FloatType, containsNull)))))

  private def data(v: Seq[java.lang.Float]): ArrayData =
    if (v == null) null else ArrayData.toArrayData(v.toArray)

  private def bits(d: Any): Any = d match {
    case x: Double => java.lang.Double.doubleToRawLongBits(x)
    case other => other
  }

  /** Generated vs interpreted over `rows` for `query` on both sides;
    * returns whether the generated code read the query once per task. */
  private def check(rows: Seq[Seq[java.lang.Float]], query: Column, q: Seq[java.lang.Float],
                    containsNull: Boolean): Boolean = {
    val df = frame(rows, containsNull)
      .select(col("id"), cosineFast(col("v"), query).as("r"), cosineFast(query, col("v")).as("l"))
    val got = df.collect().map(r => r.getLong(0).toInt -> (r.get(1), r.get(2))).toMap
    val e = CosineSimilarity(BoundReference(0, ArrayType(FloatType, containsNull), nullable = true),
      ColumnBridge.expression(query))
    rows.indices.foreach { i =>
      def interp(x: ArrayData, y: ArrayData): Any =
        if (x == null || y == null) null else e.nullSafeEval(x, y)
      val (r, l) = got(i)
      assert(bits(r) == bits(interp(data(rows(i)), data(q))), s"row $i, query right")
      assert(bits(l) == bits(interp(data(q), data(rows(i)))), s"row $i, query left")
    }
    df.queryExecution.debug.codegenToSeq().exists(_._2.contains("cosineQueryNorm"))
  }

  test("query on either side: bitwise equal to nullSafeEval") {
    val rows = Seq.fill(40)(vec()) ++ Seq(Seq.fill(dim)(java.lang.Float.valueOf(0f)), vec(dim - 1))
    (0 until 8).foreach { _ =>
      val q = vec()
      assert(check(rows, lit(q.map(_.floatValue).toArray), q, containsNull = false))
    }
    val zero = Seq.fill(dim)(java.lang.Float.valueOf(0f))
    assert(check(rows, lit(zero.map(_.floatValue).toArray), zero, containsNull = false))
  }

  test("nullable elements: a null element or row gives null, as nullSafeEval does") {
    val withNull = vec().updated(5, null)
    val rows = Seq.fill(20)(vec()) ++ Seq(withNull, null, vec(dim + 1))
    val q = vec()
    assert(check(rows, lit(q.map(_.floatValue).toArray), q, containsNull = true))
    // a query with a null element is not hoisted, and still matches
    val qNull = vec().updated(3, null)
    assert(!check(rows, typedLit(qNull), qNull, containsNull = true))
  }
}

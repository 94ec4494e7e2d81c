package graft.operators

import scala.collection.immutable.ListMap
import scala.reflect.ClassTag

import org.apache.spark.sql.{Column, DataFrame, Encoder, Row}
import org.apache.spark.sql.catalyst.encoders.{AgnosticEncoders, ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.functions.VectorFunctions._
import graft.plans.TopKTail

/** The vector-QA read path (SURVEY.md §2.10 / §3.1): k-NN top-k, then
  * Scala stages over its rows: metric normalization (A12) → margin+floor
  * cut (P8) → per-group cap + round-robin diversify (A10/W8) → context
  * char budget (A14).
  * Ref: enhanced_internal_db_service.py:634-816.
  *
  * Scale design:
  *  - Brute-force k-NN is a single pruned parquet scan (id + embedding
  *    columns only) with the query vector an array literal in the
  *    plan, which generated code reads as a reference object, so every
  *    query runs the same compiled class — no shuffle, no driver
  *    collect; `TakeOrderedAndProject` does a per-partition top-k then
  *    a k-row merge into one partition.
  *    At 100 TB this is the exact/oracle path; `VectorIndex` (IVF
  *    partition pruning) is the approximate scale path.
  *  - Only the top-k is distributed: [[overTopK]] runs a stage over
  *    its rows. Collected, that is one stage of light tasks (a partial
  *    top-k per partition) merged on the driver, where the stage runs;
  *    under another plan or a write it runs in the top-k's one
  *    partition. Stages order scores as Spark SQL does (NaN highest,
  *    -0.0 = 0.0, null last under desc).
  */
object VectorSearch {

  /** Exact brute-force top-k by cosine similarity. Ties broken by id
    * for deterministic output. */
  def knnExact(embeddings: DataFrame, idCol: String, embCol: String,
               query: Seq[Float], k: Int): DataFrame = {
    val q = lit(query.toArray)
    embeddings
      .select(col(idCol), cosineFast(col(embCol), q).as("score"))
      .orderBy(desc("score"), col(idCol))
      .limit(k)
  }

  /** `df`'s top `k` rows by `order`, as one local Seq in that order,
    * through `f`: the rows `f` returns, under `schema(df.schema)`. A lazy
    * plan over `df`'s scan (`inputFiles` is `df`'s); `coalesce(1)` keeps
    * one partition where the optimizer drops a limit, so `f` runs once.
    *
    * `f` goes in as a [[graft.plans.TopKTail]], the mark of the
    * `Sessions.extensions` rule [[graft.plans.TopKTailCollect]]: with
    * it, `collect()` on this plan runs the top-k as one stage (a
    * partial top-k per task, merged on the driver) and `f` on the
    * driver, through the same row encoders. Any plan above it, a write
    * or a session without the extension runs the two-stage form: the
    * top-k shuffled to one partition and `f` in its task. */
  def overTopK(df: DataFrame, order: Seq[Column], k: Int,
               schema: StructType => StructType = identity)
              (f: Seq[Row] => Seq[Row]): DataFrame =
    df.orderBy(order: _*).limit(k).coalesce(1).as(rowEncoder(df.schema))
      .mapPartitions(TopKTail(f))(rowEncoder(schema(df.schema)))

  /** Spark's Row encoder with maps read as ListMaps, which keep their
    * entry order (a plain immutable Map past four entries does not). */
  private def rowEncoder(schema: StructType): Encoder[Row] = {
    val enc = RowEncoder.encoderFor(schema).asInstanceOf[AgnosticEncoders.RowEncoder]
    ExpressionEncoder(enc.copy(fields = enc.fields.map(f => f.enc match {
      case m: AgnosticEncoders.MapEncoder[_, _, _] =>
        f.copy(enc = AgnosticEncoders.MapEncoder(ClassTag(classOf[ListMap[_, _]]),
          m.keyEncoder, m.valueEncoder, m.valueContainsNull))
      case _ => f
    })))
  }

  /** Spark SQL's double ordering. */
  private val sqlDoubles: Ordering[Double] = SQLOrderingUtil.compareDoubles(_, _)

  private def opt[T](r: Row, i: Int): Option[T] =
    if (r.isNullAt(i)) None else Some(r.getAs[T](i))

  /** A12 score normalization, inner-product branch: min-max to [0,1]
    * with hi = max(1, max(score)), lo = min(-1, min(score)); a null
    * score stays null. Ref: enhanced_internal_db_service.py:702-714. */
  def normalizeScoresIP(rows: Seq[Row], score: Int): Seq[Row] = {
    val s = rows.flatMap(opt[Double](_, score))
    val (hi, lo) = (s.foldLeft(1.0)(sqlDoubles.max), s.foldLeft(-1.0)(sqlDoubles.min))
    rows.map(r => opt[Double](r, score).fold(r)(x =>
      Row.fromSeq(r.toSeq.updated(score, (x - lo) / (hi - lo)))))
  }

  /** P8 margin + floor cut: keep rows with score >= simFloor AND
    * score >= max(best - margin, best*(1-margin)); a null score drops.
    * Ref: enhanced_internal_db_service.py:718-720. */
  def marginFilter(rows: Seq[Row], score: Int, margin: Double,
                   simFloor: Double): Seq[Row] = {
    val cut = rows.flatMap(opt[Double](_, score)).maxOption(sqlDoubles)
      .map(best => sqlDoubles.max(best - margin, best * (1.0 - margin)))
    rows.filter(opt[Double](_, score).exists(x =>
      cut.exists(c => sqlDoubles.gteq(x, simFloor) && sqlDoubles.gteq(x, c))))
  }

  /** A10/W8 diversify: rank by score desc, long id asc; cap `perGroupCap`
    * rows per group; round-robin across groups in order of first
    * appearance; keep `topK` in emit order (position = round-robin rank).
    * Ref: enhanced_internal_db_service.py:765-794; SURVEY §7.4. */
  def diversify(rows: Seq[Row], group: Row => Any, score: Int, id: Int,
                perGroupCap: Int, topK: Int): Seq[Row] = {
    val ranked = rows.sorted(Ordering.by((r: Row) => (opt[Double](r, score), opt[Long](r, id)))(
      Ordering.Tuple2(Ordering.Option(sqlDoubles).reverse, Ordering.Option[Long])))
    val byGroup = ranked.groupBy(group)
    val capped = ranked.map(group).distinct.map(byGroup(_).take(perGroupCap))
    (0 until perGroupCap).flatMap(i => capped.flatMap(_.lift(i))).take(topK)
  }

  /** A14 budget walk over ordered rows: a row is kept while the cost
    * spent before it is under `budget`, so the boundary row is kept (ref
    * :796-809 truncate-last). Returns kept rows with the budget left. */
  def spendBudget(rows: Seq[Row], cost: Row => Long,
                  budget: Long): Seq[(Row, Long)] = {
    val spentBefore = rows.scanLeft(0L)(_ + cost(_))
    rows.zip(spentBefore).collect { case (r, s) if s < budget => r -> (budget - s) }
  }

  /** A14 context assembly: [[spendBudget]] on text length in code
    * points (Spark's `length`; null costs 0), appending `kept_text`,
    * the text cut to the budget left. */
  def contextBudget(rows: Seq[Row], text: Int, budget: Int): Seq[Row] = {
    def chars(s: String): Int = if (s == null) 0 else s.codePointCount(0, s.length)
    spendBudget(rows, r => chars(r.getString(text)), budget).map { case (r, left) =>
      Row.fromSeq(r.toSeq :+ Option(r.getString(text)).map(s =>
        s.substring(0, s.offsetByCodePoints(0, math.min(left, chars(s).toLong).toInt))).orNull)
    }
  }
}

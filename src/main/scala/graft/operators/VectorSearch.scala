package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** The vector-QA read path (SURVEY.md §2.10 / §3.1), re-expressed as
  * declarative DataFrame stages: k-NN score → metric normalization
  * (A12) → margin+floor cut (P8) → per-group cap + round-robin
  * diversify (A10/W8) → context char budget (A14).
  * Ref: enhanced_internal_db_service.py:634-816.
  *
  * Scale design:
  *  - Brute-force k-NN is a single pruned parquet scan (id + embedding
  *    columns only) with the query vector an array literal in the
  *    plan, which generated code reads as a reference object, so every
  *    query runs the same compiled class — no shuffle, no driver
  *    collect; `TakeOrderedAndProject` does a per-partition top-k then
  *    a k-row merge on the driver.
  *    At 100 TB this is the exact/oracle path; `VectorIndex` (IVF
  *    partition pruning) is the approximate scale path.
  *  - All post-k-NN stages operate on ≤ fetch_k rows (tens), so their
  *    unpartitioned windows are intentionally driver-scale.
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

  /** A12 score normalization, inner-product branch: min-max to [0,1]
    * with hi = max(1, max(score)), lo = min(-1, min(score)) — computed
    * over the (tiny, post-top-k) result set.
    * Ref: enhanced_internal_db_service.py:702-714. */
  def normalizeScoresIP(results: DataFrame, scoreCol: String = "score"): DataFrame = {
    val w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val hi = greatest(lit(1.0), max(col(scoreCol)).over(w))
    val lo = least(lit(-1.0), min(col(scoreCol)).over(w))
    results.withColumn(scoreCol, (col(scoreCol) - lo) / (hi - lo))
  }

  /** P8 margin + floor cut: keep rows with
    * score >= simFloor AND score >= max(best - margin, best*(1-margin)).
    * Ref: enhanced_internal_db_service.py:718-720. */
  def marginFilter(results: DataFrame, margin: Double, simFloor: Double,
                   scoreCol: String = "score"): DataFrame = {
    val w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val best = max(col(scoreCol)).over(w)
    results
      .withColumn("_cut", greatest(best - margin, best * (1.0 - margin)))
      .filter(col(scoreCol) >= simFloor && col(scoreCol) >= col("_cut"))
      .drop("_cut")
  }

  /** A10/W8 diversify: cap `perGroupCap` rows per group (rank by score
    * desc within group), then round-robin interleave across groups —
    * rank-major ordering, group order = first appearance (best score,
    * tie → min id) — and keep top_k.
    * Ref: enhanced_internal_db_service.py:765-794; deterministic group
    * order per SURVEY §7.4.
    *
    * The emitted round-robin position is returned explicitly as
    * `div_rank` (1..topK): downstream marker assignment must order by
    * this column, never by physical row order — `
    * monotonically_increasing_id` does not preserve a sort across
    * partitions, so markers derived from it are nondeterministic on
    * multi-partition input. */
  def diversify(results: DataFrame, groupCol: Column, idCol: Column,
                perGroupCap: Int, topK: Int,
                scoreCol: String = "score"): DataFrame = {
    val inGroup = Window.partitionBy(groupCol).orderBy(desc(scoreCol), idCol)
    val capped = results.withColumn("_gr", row_number().over(inGroup))
      .filter(col("_gr") <= perGroupCap)
    // group order key: best (lowest) global rank inside the group.
    // The unpartitioned windows here are bounded BY CONSTRUCTION:
    // `results` is a retrieval result set (top-k rows), never a table.
    val globalOrd = Window.orderBy(desc(scoreCol), idCol)
    val groupOrd = Window.partitionBy(groupCol)
    val emitOrd = Window.orderBy(col("_gr"), col("_gpos"), desc(scoreCol), idCol)
    capped.withColumn("_pos", row_number().over(globalOrd))
      .withColumn("_gpos", min(col("_pos")).over(groupOrd))
      .withColumn("div_rank", row_number().over(emitOrd))
      .filter(col("div_rank") <= topK)
      .orderBy("div_rank")
      .drop("_gr", "_pos", "_gpos")
  }

  /** A14 context assembly: ordered docs kept while the running char
    * budget is not yet exhausted (boundary row kept and truncated to
    * the remaining budget, mirroring the reference's truncate-last at
    * enhanced_internal_db_service.py:796-809). */
  def contextBudget(results: DataFrame, order: Seq[Column], textCol: Column,
                    budget: Int): DataFrame = {
    // unpartitioned by design — `results` is a retrieval result set
    // (top-k rows), so the global running sum is bounded by k
    val w = Window.orderBy(order: _*).rowsBetween(Window.unboundedPreceding, -1)
    results
      .withColumn("_spent", coalesce(sum(length(textCol)).over(w), lit(0L)))
      .filter(col("_spent") < budget)
      .withColumn("kept_text",
        textCol.substr(lit(1), (lit(budget.toLong) - col("_spent")).cast("int")))
      .drop("_spent")
  }
}

package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.nfkc
import graft.functions.VectorFunctions.cosineFast
import graft.ingest.HashEmbedder

/** The retrieval tail as DataFrame stages — normalize, margin cut,
  * anchor filter, diversify and markers over unpartitioned windows — the
  * form `SearchPipeline.search` had before its post-top-k stages became
  * one Scala pass. Kept as the reference that pass is checked against
  * row for row (`SearchPassFuzzSpec`). */
object SearchReference {

  def normalizeScoresIP(results: DataFrame, scoreCol: String = "score"): DataFrame = {
    val w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val hi = greatest(lit(1.0), max(col(scoreCol)).over(w))
    val lo = least(lit(-1.0), min(col(scoreCol)).over(w))
    results.withColumn(scoreCol, (col(scoreCol) - lo) / (hi - lo))
  }

  def marginFilter(results: DataFrame, margin: Double, simFloor: Double,
                   scoreCol: String = "score"): DataFrame = {
    val w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val best = max(col(scoreCol)).over(w)
    results
      .withColumn("_cut", greatest(best - margin, best * (1.0 - margin)))
      .filter(col(scoreCol) >= simFloor && col(scoreCol) >= col("_cut"))
      .drop("_cut")
  }

  /** Per-group cap, then rank-major round-robin with groups in order of
    * their best row; the emitted position is `div_rank`. */
  def diversify(results: DataFrame, groupCol: Column, idCol: Column,
                perGroupCap: Int, topK: Int,
                scoreCol: String = "score"): DataFrame = {
    val inGroup = Window.partitionBy(groupCol).orderBy(desc(scoreCol), idCol)
    val capped = results.withColumn("_gr", row_number().over(inGroup))
      .filter(col("_gr") <= perGroupCap)
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

  def search(index: DataFrame, question: String, topK: Int = 5,
             margin: Double = 0.12, simFloor: Double = 0.35,
             perTitleCap: Int = 3, fetchMultiplier: Int = 4,
             dim: Int = HashEmbedder.DefaultDim): DataFrame = {
    val fetchK = math.max(topK * fetchMultiplier, topK + 5)
    val qvec = HashEmbedder.embed("query: " + question.trim, dim)
    val top = index
      .select(col("chunk_id"), col("doc_id"), col("title"), col("oo"),
        col("content"), col("metadata"),
        cosineFast(col("embedding"), lit(qvec)).as("score"))
      .orderBy(desc("score"), col("chunk_id"))
      .limit(fetchK)
    val cut = marginFilter(normalizeScoresIP(top), margin, simFloor)
    val anchors = SearchPipeline.anchorsFromQuery(question)
    val anchored =
      if (anchors.strong.isEmpty) cut
      else cut.filter(SearchPipeline.strongAnchorPredicate(
        col("content"), col("title"), anchors.strong))
    val groupKey = lower(nfkc(coalesce(
      when(length(col("title")) > 0, col("title")), col("oo"), lit("unknown"))))
    val kept = diversify(anchored.withColumn("_g", groupKey), col("_g"),
      col("chunk_id"), perTitleCap, topK).drop("_g")
    kept.withColumn("marker", concat(lit("S"), col("div_rank")))
      .drop("div_rank")
  }
}

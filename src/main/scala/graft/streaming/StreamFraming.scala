package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Stream re-framing operators (SURVEY §2.9 ST1/ST4/ST5/ST6) — the
  * sink-side shaping the reference does inside its SSE generators,
  * expressed as row-local column transforms usable in `foreachBatch`
  * or plain batch jobs. */
object StreamFraming {

  /** ST1: wrap a JSON payload column as an SSE frame
    * `data: {...}\n\n` (ref routes.py:316-336). */
  def sseFrame(payload: Column): Column =
    concat(lit("data: "), payload, lit("\n\n"))

  /** ST4: fixed-size re-chunking of a text column into `n`-char
    * pieces, one row per (idx, piece) after posexplode (ref
    * routes.py:438-449 — 10-char chunks; the 50 ms pacing is sink
    * policy, not data). */
  def rechunk(df: DataFrame, textCol: Column, n: Int): DataFrame = {
    val pieces = transform(
      sequence(lit(0), ((length(textCol) - 1) / n).cast("int")),
      i => substring(textCol, (i * n + 1).cast("int"), lit(n)))
    df.select(col("*"), posexplode(pieces).as(Seq("chunk_idx", "chunk")))
  }

  /** ST5: staged progress events interleaved with a payload stream —
    * emit (stage, pct, message) rows for a fixed stage table (ref
    * routes.py:1316-1371: 5%→100%). */
  def progressEvents(spark: org.apache.spark.sql.SparkSession,
                     stages: Seq[(String, Int)]): DataFrame = {
    import spark.implicits._
    stages.zipWithIndex.map { case ((msg, pct), i) => (i, pct, msg) }
      .toDF("stage", "pct", "message")
  }

  /** ST6: per-key stream accumulation — concatenate chunks in seq
    * order into one value per key (ref routes.py:956-963
    * `summary_parts.append` → join). */
  def accumulate(df: DataFrame, keyCol: String, seqCol: String,
                 chunkCol: String): DataFrame =
    df.groupBy(col(keyCol))
      .agg(array_join(transform(array_sort(collect_list(
        struct(col(seqCol).as("s"), col(chunkCol).as("c")))),
        x => x.getField("c")), "").as("text"))
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Multimodal columns for a training-data pipeline (north-star
  * requirement; no reference counterpart). Media assets ride as opaque
  * `binary` columns next to typed metadata; decode / feature-extract /
  * resize / frame-sample are per-partition batch transforms.
  *
  * The actual codec work is STUBBED (this container ships no
  * image/audio libraries): [[decodeStub]] derives deterministic fake
  * dimensions/features from the bytes. The Spark-side plumbing —
  * schema, partition-batch processing shape, row-group sizing — is
  * real and is what a production codec would drop into (swap the stub
  * inside the same `mapPartitions`, which batches per task exactly
  * like an `mapInPandas`/Arrow UDF would).
  *
  * Scale notes: media blobs make wide rows — the asset table should
  * set a small `parquet.block.size` / use `maxPartitionBytes` tuned
  * down so a partition of blobs fits executor memory; metadata-only
  * queries must select typed columns (column pruning keeps the scan
  * from touching the blob pages at all — parquet stores the binary
  * column in its own chunk).
  */
object Multimodal {

  /** Deterministic fake decode: width/height/duration derived from a
    * 64-bit mix of the bytes — a stand-in with the exact signature a
    * real decoder would have (bytes → struct). */
  def decodeStub(bytes: Array[Byte]): (Int, Int, Double) = {
    var h = 1125899906842597L
    if (bytes != null) {
      var i = 0
      while (i < math.min(bytes.length, 4096)) { h = h * 31L + bytes(i); i += 1 }
    }
    h ^= (h >>> 33); h *= 0xff51afd7ed558ccdL; h ^= (h >>> 33)
    val w = 160 + java.lang.Math.floorMod(h, 8L).toInt * 160        // 160..1280
    val ht = 120 + java.lang.Math.floorMod(h >>> 8, 8L).toInt * 120 // 120..960
    val dur = 1.0 + java.lang.Math.floorMod(h >>> 16, 600L) / 10.0  // 1..61 s
    (w, ht, dur)
  }

  /** Decode pass, emitting typed media metadata next to the original
    * columns.
    *
    * r20 (guide §4): the decode runs as a PROJECTION — one codegen
    * hash kernel ([[graft.plans.MultimodalHash]], the stub's exact
    * byte mix) plus floorMod/shift arithmetic lowered to built-in
    * Catalyst ops. The previous form ran [[decodeStub]] inside
    * `mapPartitions` over external `Row`s: every column of every row
    * crossed the object boundary twice, and the opaque node blocked
    * column pruning, so consumers that aggregated two decoded fields
    * still paid to build uri/meta at the scan. A production codec that
    * is genuinely a black box would use the mapPartitions batch shape
    * ([[sampleFrames]] keeps it); a decode whose output is derivable
    * per row belongs in the plan where the optimizer can see through
    * it. MultimodalSpec pins this row-identical to the stub loop.
    */
  def decode(assets: DataFrame): DataFrame = {
    val h = graft.plans.MultimodalHash.mixCol(col("bytes"))
    // exactly decodeStub's arithmetic: pmod == Java floorMod on longs
    val w = (lit(160) + pmod(h, lit(8L)).cast("int") * 160).as("width")
    val ht = (lit(120) + pmod(shiftrightunsigned(h, 8), lit(8L)).cast("int") * 120)
      .as("height")
    val dur = (lit(1.0) + pmod(shiftrightunsigned(h, 16), lit(600L)) / 10.0)
      .as("duration_s")
    assets.withColumn("decoded", struct(w, ht, dur))
  }

  /** Feature extraction stub: 16-bin byte histogram, L1-normalized —
    * the batch/UDF shape of an embedding-from-pixels pass. */
  val byteHistogramUdf = udf((bytes: Array[Byte]) => {
    val hist = new Array[Double](16)
    if (bytes != null && bytes.nonEmpty) {
      var i = 0
      while (i < bytes.length) { hist((bytes(i) & 0xff) >> 4) += 1.0; i += 1 }
      var j = 0
      while (j < 16) { hist(j) /= bytes.length; j += 1 }
    }
    hist.toSeq
  })

  /** Frame sampling stub: every `stride`-th 256-byte "frame" of the
    * blob → (frame_idx, frame_bytes) rows via posexplode. Real video
    * sampling swaps the slicing lambda, keeps the explode shape. */
  def sampleFrames(assets: DataFrame, stride: Int): DataFrame = {
    val frameUdf = udf((bytes: Array[Byte]) => {
      if (bytes == null) Seq.empty[Array[Byte]]
      else bytes.grouped(256).zipWithIndex.collect {
        case (frame, i) if i % stride == 0 => frame
      }.toSeq
    })
    assets.select(col("asset_id"),
      posexplode(frameUdf(col("bytes"))).as(Seq("frame_idx", "frame_bytes")))
  }

  /** Pruned aggregate form of [[sampleFrames]]: per-asset sampled
    * frame count and sampled-byte total computed ARITHMETICALLY from
    * the blob length, never materializing the slices. This is the
    * projection a perfect optimizer would derive when a consumer only
    * aggregates `count(*)` / `sum(length(frame_bytes))` over the
    * explode — Catalyst cannot prune through the generator's UDF, so
    * the explode form copies the whole sampled corpus into 256-byte
    * rows to compute statistics the scan already knows (at the
    * 100 M-row point: 1.68 s vs the oracle's 64 ms of pure length
    * arithmetic — r17's worst per-query standout). MultimodalSpec
    * pins this row-equal to aggregating [[sampleFrames]]; use
    * sampleFrames when the bytes themselves are consumed.
    * Assets with empty/absent blobs (nb ≤ 0) drop, matching the
    * explode form where an empty slice list generates no rows.
    * All divisions are exact pmod-aligned int64 (no double rounding
    * at any blob size). */
  def frameStats(assets: DataFrame, idCol: Column, nbCol: Column,
                 stride: Int, frameSize: Long = 256L): DataFrame = {
    require(stride >= 1, "stride must be >= 1")
    require(frameSize >= 1, "frameSize must be >= 1")
    def idiv(x: Column, d: Long): Column =
      ((x - pmod(x, lit(d))) / d).cast("long")
    val nb = nbCol.cast("long")
    val chunks = idiv(nb + lit(frameSize - 1), frameSize)   // ceil(nb/fs)
    val nFrames = idiv(chunks - 1, stride.toLong) + 1       // indices 0,stride,…
    val lastLen = nb - (chunks - 1) * frameSize             // short final chunk
    val lastSampled = pmod(chunks - 1, lit(stride.toLong)) === 0
    val totalBytes = nFrames * frameSize -
      when(lastSampled, lit(frameSize) - lastLen).otherwise(lit(0L))
    assets.filter(nb > 0)
      .select(idCol.as("asset_id"), nFrames.as("n_frames"),
        totalBytes.as("frame_bytes"))
  }

  /** "Resize" stub: truncate/pad the blob to `targetBytes` (the shape
    * of a thumbnailing pass: binary in → smaller binary out). */
  val resizeUdf = udf((bytes: Array[Byte], target: Int) =>
    if (bytes == null) Array.empty[Byte]
    else java.util.Arrays.copyOf(bytes, target))
}

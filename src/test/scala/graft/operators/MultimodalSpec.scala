package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: the codecs are stubs (no media libs in
  * this container) but the Spark shapes — binary columns + typed
  * metadata, partition-batch decode, posexplode frame sampling,
  * binary→binary resize, histogram features — are real and asserted
  * here. */
class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private lazy val assets = Seq(
    (1L, "video", "mem://1", "x" * 700),
    (2L, "image", "mem://2", "y" * 100),
    (3L, "audio", "mem://3", "")).toDF("asset_id", "media_type", "uri", "txt")
    .select($"asset_id", $"media_type", $"uri", encode($"txt", "UTF-8").as("bytes"),
      map(lit("k"), lit("v")).as("meta"))

  test("decode appends a typed struct, deterministically from the bytes") {
    val out = Multimodal.decode(assets)
    assert(out.schema("decoded").dataType.typeName == "struct")
    val twice = Multimodal.decode(assets)
    val a = out.select($"asset_id", $"decoded.width", $"decoded.duration_s")
      .as[(Long, Int, Double)].collect().toSet
    val b = twice.select($"asset_id", $"decoded.width", $"decoded.duration_s")
      .as[(Long, Int, Double)].collect().toSet
    assert(a == b)
    assert(a.forall { case (_, w, d) => w >= 160 && w <= 1280 && d >= 1.0 && d <= 61.0 })
  }

  test("decode expression is bit-identical to decodeStub on fuzzed blobs") {
    val rnd = new scala.util.Random(20)
    val blobs: Seq[Array[Byte]] = Seq(
      null, Array.emptyByteArray, Array[Byte](0), Array[Byte](-128, 127)) ++
      (0 until 40).map { i =>
        val n = rnd.nextInt(if (i % 4 == 0) 5000 else 300) // past the 4 KiB cap too
        val a = new Array[Byte](n); rnd.nextBytes(a); a
      }
    val df = blobs.zipWithIndex.map { case (b, i) => (i.toLong, b) }
      .toDF("id", "bytes")
    val got = Multimodal.decode(df)
      .select($"id", $"decoded.width", $"decoded.height", $"decoded.duration_s")
      .as[(Long, Int, Int, Double)].collect().sortBy(_._1)
    got.foreach { case (id, w, h, d) =>
      val (ew, eh, ed) = Multimodal.decodeStub(blobs(id.toInt))
      assert((w, h, d) == (ew, eh, ed), s"blob $id")
    }
  }

  test("sampleFrames keeps every stride-th 256-byte frame, covering the blob") {
    val frames = Multimodal.sampleFrames(assets.filter($"asset_id" === 1), stride = 2)
      .select($"frame_idx", length($"frame_bytes").as("n")).as[(Int, Int)]
      .collect().sortBy(_._1)
    // 700 bytes → chunks of 256/256/188 at indices 0,1,2 → kept 0 and 2
    assert(frames.map(_._1).toSeq == Seq(0, 1))
    assert(frames.map(_._2).toSeq == Seq(256, 188))
    // empty blob → no frames, asset absent after explode
    assert(Multimodal.sampleFrames(assets.filter($"asset_id" === 3), 2).count() == 0)
  }

  test("byteHistogram is an L1-normalized 16-bin feature vector") {
    val h = assets.filter($"asset_id" === 2)
      .select(Multimodal.byteHistogramUdf($"bytes")).head.getSeq[Double](0)
    assert(h.length == 16)
    assert(math.abs(h.sum - 1.0) < 1e-9)
    // 'y' = 0x79 → bin 7 carries everything
    assert(h(7) == 1.0)
  }

  test("resize truncates or zero-pads to the target size") {
    val out = assets.select($"asset_id",
        length(Multimodal.resizeUdf($"bytes", lit(64))).as("n"))
      .as[(Long, Int)].collect().toMap
    assert(out(1L) == 64 && out(2L) == 64 && out(3L) == 64)
  }

  test("metadata-only queries prune the blob column out of the scan") {
    val dir = tempDir("graft_mm_")
    assets.write.mode("overwrite").parquet(dir)
    val p = spark.read.parquet(dir).select("asset_id", "media_type")
      .queryExecution.executedPlan.toString
    assert(p.contains("ReadSchema: struct<asset_id:bigint,media_type:string>"),
      p.take(1500))
  }

  test("frameStats equals aggregated sampleFrames for all lengths 0..600 and strides 1..3") {
    // every chunk-boundary class: empty (dropped), < one frame, exact
    // multiples of 256, short tails, last-chunk sampled and unsampled
    val lens = (0 to 600) ++ Seq(255, 256, 257, 511, 512, 513, 768, 1024, 1025)
    val blobs = lens.zipWithIndex
      .map { case (n, i) => (i.toLong, "z" * n) }
      .toDF("asset_id", "txt")
      .select($"asset_id", encode($"txt", "UTF-8").as("bytes"))
    for (stride <- 1 to 3) {
      val viaExplode = Multimodal.sampleFrames(blobs, stride)
        .groupBy("asset_id")
        .agg(count(lit(1)).as("n_frames"),
          sum(length($"frame_bytes")).cast("long").as("frame_bytes"))
        .as[(Long, Long, Long)].collect().toMap2
      val viaStats = Multimodal.frameStats(blobs, $"asset_id",
          octet_length($"bytes"), stride)
        .as[(Long, Long, Long)].collect().toMap2
      assert(viaStats == viaExplode, s"stride=$stride")
    }
  }

  private implicit class Triples(rows: Array[(Long, Long, Long)]) {
    def toMap2: Map[Long, (Long, Long)] =
      rows.map { case (a, b, c) => a -> (b, c) }.toMap
  }
}

package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Real streaming path behind the st_dedup batch stand-in:
  * withWatermark + dropDuplicatesWithinWatermark keyed on event_id. */
class StreamingDedupSpec extends SparkSpec {
  import spark.implicits._

  /** Adds one batch whose event time (10:40) moves the 10-minute
    * watermark past the expiry of every key seen so far (the latest,
    * 10:04, expires at 10:14), and asserts that the state operator
    * holds fewer rows afterwards: state stays bounded by the
    * watermark, not by stream length. */
  private def assertEvictsBehindWatermark(
      input: MemoryStream[(Long, java.sql.Timestamp)], q: StreamingQuery): Unit = {
    def stateRows = q.lastProgress.stateOperators.head.numRowsTotal
    val before = stateRows
    input.addData((4L, java.sql.Timestamp.valueOf("2025-01-01 10:40:00")))
    q.processAllAvailable()
    val after = stateRows
    assert(after < before,
      s"state rows $before -> $after: keys behind the watermark were not evicted")
  }

  test("re-delivered events dedup across micro-batches while state is live") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val deduped = input.toDS().toDF("event_id", "ts")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      def t(m: Int) = java.sql.Timestamp.valueOf(f"2025-01-01 10:$m%02d:00")
      input.addData((1L, t(1)), (2L, t(2)))
      q.processAllAvailable()
      // batch 2 re-delivers event 1 inside the watermark horizon
      input.addData((1L, t(3)), (3L, t(4)))
      q.processAllAvailable()
      val ids = spark.table("dedup_out").select("event_id")
        .as[Long].collect().sorted.toSeq
      assert(ids == Seq(1L, 2L, 3L))
      assertEvictsBehindWatermark(input, q)
    } finally q.stop()
  }

  test("same dedup semantics on the RocksDB state-store provider") {
    // the 100 TB posture: heap HDFSBackedStateStore holds every live
    // key as JVM objects; RocksDB keeps state off-heap. The provider
    // is a per-query conf — semantics, eviction included, must be
    // identical (this spec makes the provider swap durable in CI).
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val deduped = input.toDS().toDF("event_id", "ts")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    // the provider is captured at query START — set it first
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    val q = deduped.writeStream.format("memory").queryName("dedup_out_rocks")
      .outputMode("append")
      .option("checkpointLocation",
        tempDir("rocks_ckpt"))
      .start()
    try {
      def t(m: Int) = java.sql.Timestamp.valueOf(f"2025-01-01 10:$m%02d:00")
      input.addData((1L, t(1)), (2L, t(2)))
      q.processAllAvailable()
      input.addData((1L, t(3)), (3L, t(4)))
      q.processAllAvailable()
      val ids = spark.table("dedup_out_rocks").select("event_id")
        .as[Long].collect().sorted.toSeq
      assert(ids == Seq(1L, 2L, 3L))
      // prove the provider swap actually took: RocksDB stores report
      // provider-specific custom metrics absent from the heap provider
      val metrics = q.lastProgress.stateOperators.head
        .customMetrics.keySet().toArray.map(String.valueOf)
      assert(metrics.exists(_.toLowerCase.contains("rocksdb")),
        s"expected RocksDB custom metrics, got ${metrics.mkString(",")}")
      assertEvictsBehindWatermark(input, q)
    } finally {
      q.stop()
      prev match {
        case Some(p) => spark.conf.set(key, p)
        case None => spark.conf.unset(key)
      }
    }
  }
}

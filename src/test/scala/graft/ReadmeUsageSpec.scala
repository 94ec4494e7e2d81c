package graft

import org.apache.spark.sql.functions._

/** Compiles and runs the README "Library usage" examples VERBATIM —
  * the README section and this spec must stay in sync (the examples'
  * bodies are copied character-for-character, minus the surrounding
  * test scaffolding), so a facade signature change that would break a
  * README reader breaks the build first. */
class ReadmeUsageSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("README example 1: ingest a table into a chunked vector index, then search it") {
    // --- README: ingest + search ---
    import graft.ingest.Ingest
    import graft.search.SearchPipeline

    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source").as("title"), col("text"))
    val schema = Ingest.inferSchema(docs.columns.toSeq) // finds id/title/text cols
    val index = Ingest.buildIndex(docs, schema, saveName = "kb", dim = 256)
    val hits = SearchPipeline.search(index, "climate research data", topK = 5, dim = 256)
    // hits: (chunk_id, doc_id, title, oo, content, metadata, score, marker "S1"..)
    // --- end README ---
    assert(index.columns.contains("embedding"))
    val rows = hits.collect()
    assert(rows.length <= 5)
    assert(hits.columns.toSeq == Seq("chunk_id", "doc_id", "title", "oo", "content",
      "metadata", "score", "marker"))
  }

  test("README example 2: near-duplicate detection and dedup clusters") {
    // --- README: dedup ---
    import graft.operators.Dedup

    val docs = Tables.load(spark, dir, "documents").select("doc_id", "text")
    val pairs = Dedup.minhashNearDups(docs, idCol = "doc_id", textCol = "text",
      shingleN = 3, numHashes = 16, bands = 4, threshold = 0.7)
    // pairs: (idA, idB, jaccard) — candidates from LSH buckets only,
    // exact Jaccard verified, never all-pairs
    val clusters = Dedup.connectedComponents(
      pairs.select(col("idA").as("src"), col("idB").as("dst")))
    // clusters: (id, label) — keep min(id) per label to dedup
    // --- end README ---
    val labeled = clusters.collect()
    assert(labeled.forall(_.size == 2))
    // every endpoint of every pair is labeled
    val ids = pairs.select(col("idA")).union(pairs.select(col("idB")))
      .distinct().count()
    assert(labeled.length.toLong == ids)
  }

  test("README example 3: resample, spine, gap-limited interpolation") {
    // --- README: time series ---
    import graft.operators.TimeSeriesOps

    val events = Tables.load(spark, dir, "events").filter(col("user_id") < 20)
    val daily = TimeSeriesOps.dailyResample(
      events, Seq(col("user_id")), col("ts"), col("value"))
    val spine = TimeSeriesOps.toDailySpine(daily, Seq("user_id"), "day", "avg_value")
    val filled = TimeSeriesOps.interpolateGapLimited(
      spine, Seq("user_id"), "day", "avg_value", maxGap = 14)
    // filled: every (user_id, day) in each user's range, nulls filled
    // by time-weighted interpolation when a valid value is <= 14 days
    // away on either side — pandas interpolate(method='time',
    // limit_direction='both') parity, thousands of series per shuffle
    // --- end README ---
    assert(filled.columns.toSeq == Seq("user_id", "day", "avg_value"))
    val gaps = spine.filter(col("avg_value").isNull).count()
    val remaining = filled.filter(col("avg_value").isNull).count()
    assert(remaining <= gaps)
  }

  test("README example 4: stateful streaming sentence segmentation") {
    // --- README: streaming ---
    import graft.streaming.SentenceSegmenter
    import graft.streaming.SentenceSegmenter.TokenChunk
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val source = MemoryStream[TokenChunk] // any Dataset[TokenChunk] stream works
    val sentences = SentenceSegmenter.segmentStream(source.toDS())
    val q = sentences.writeStream.format("memory").queryName("readme_sentences")
      .outputMode("append").start()
    source.addData(TokenChunk("s1", 0, "Hello wor"), TokenChunk("s1", 1, "ld. Next"))
    q.processAllAvailable(); q.stop()
    // table readme_sentences: ("s1", 0, "Hello world.", isFinal=false, …);
    // "Next" stays buffered in the per-session keyed state — pass
    // timeout = Some("30 seconds") to flush and GC abandoned sessions
    // --- end README ---
    val got = spark.table("readme_sentences")
      .select("sentence").as[String].collect().toSeq
    assert(got == Seq("Hello world."))
  }

  test("README example 5: temporal joins — as-of attribution and proximity counting") {
    // --- README: temporal joins ---
    import graft.operators.TemporalJoin

    val ev = Tables.load(spark, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts").as("c_ts"))
      .agg(max(col("event_id")).as("click_id")) // as-of right side must be unique per (key, ts)
    val attributed = TemporalJoin.asof(purchases, clicks,
      keys = Seq("user_id"), lTs = "ts", rTs = "c_ts",
      rPayload = Seq("click_id", "c_ts"))
    // attributed: each purchase + the latest same-user click at-or-before
    // it (null when none) — ONE shuffle on the key, no range scan
    val errors = ev.filter(col("event_type") === "error")
      .select(col("ts").as("err_ts"))
    val flagged = TemporalJoin.proximityCount(purchases, errors,
      lTs = "ts", rTs = "err_ts", tolSec = 300L)
    // flagged: purchases + n_matches = errors within ±5 min, no equi key.
    // Counted via per-bucket sorted arrays + binary search — the pair set
    // (quadratic in dense windows) is never materialized; use
    // TemporalJoin.proximity to enumerate the pairs when you need them
    // --- end README ---
    val nPurch = purchases.count()
    assert(attributed.count() == nPurch)  // left-preserving
    assert(flagged.count() == nPurch)     // zero-count rows kept
    assert(attributed.columns.contains("click_id"))
    // the counting path agrees with enumerating + counting
    val viaEnum = TemporalJoin.proximity(purchases, errors, "ts", "err_ts", 300L).count()
    import spark.implicits._
    val viaCount = flagged.agg(coalesce(sum(col("n_matches")), lit(0L))).as[Long].head()
    assert(viaCount == viaEnum)
  }

  test("README example 6: existence checks at fact scale — bitmap semi-join") {
    // --- README: bitmap semi-join ---
    import graft.operators.Relational

    val li = Tables.load(spark, dir, "lineitem")
    val urgent = Tables.load(spark, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey")
    val urgentLines = Relational.bitmapSemiJoin(li, urgent,
      factKey = "l_orderkey", keyCol = "o_orderkey")
    // equals li.join(broadcast(urgent), ..., "left_semi") — but the probe
    // is the codegen filter dense_lookup(l_orderkey) >= 0 fused into the
    // fact scan (no join operator, no serial driver-side hash-relation
    // build, span/8-byte broadcast). It is denseLookupJoin's payload-free
    // case: one constant payload, so the dense array is one bit per key of
    // span, built DISTRIBUTED (≤ 8 partial arrays folded on the driver,
    // which never holds a key). A key span past maxBitmapBytes (64 MB of
    // array) hands the semi join to Spark's own planner
    // --- end README ---
    val viaJoin = li.join(broadcast(urgent),
      li("l_orderkey") === urgent("o_orderkey"), "left_semi").count()
    assert(urgentLines.count() == viaJoin)
    assert(viaJoin > 0)
  }

  test("README example 7: denseLookupJoin (dimension lookup without a join)") {
    import graft.operators.Relational
    // --- as printed in README.md (Library usage, example 7) ---
    val lines = Tables.load(spark, dir, "lineitem")
      .select("l_orderkey", "l_extendedprice")
    val urgentDim = Tables.load(spark, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_orderpriority"))
    val priced = Relational.denseLookupJoin(lines, urgentDim,
      factKey = "l_orderkey", keyCol = "o_orderkey",
      valueCol = "o_orderpriority")
    // --- end README ---
    val viaJoin = lines.join(broadcast(urgentDim),
      lines("l_orderkey") === urgentDim("o_orderkey"))
    assert(priced.count() == viaJoin.count())
    assert(priced.count() > 0)
  }
}

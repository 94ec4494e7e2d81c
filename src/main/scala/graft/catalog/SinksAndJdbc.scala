package graft
package catalog

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.fixtures.Fixtures
import graft.ingest.Ingest
import graft.streaming.SentenceSegmenter

import Helpers.{t, orderedSmall}

/** Round-3 additions: sink/CRUD surfaces (S10/S11), SSE framing +
  * partial flush + progress staging (ST1/ST3/ST5), the JDBC scan
  * front door (S2), the watermarked event-time window, incremental
  * index append + re-dedup, and structured from_json extraction. */
object SinksAndJdbc {
  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("st1_sse", ((s, _) => {
      // ST1: JSON token payload → SSE frame `data: {...}\n\n`
      // (ref routes.py:316-336)
      import s.implicits._
      Fixtures.tokenStream.toDF("session_id", "seq", "chunk")
        .filter(col("session_id") === "s1")
        .select(col("seq"),
          graft.streaming.StreamFraming.sseFrame(
            to_json(struct(col("chunk").as("token")))).as("frame"))
        .orderBy("seq")
    }),
      ("SELECT CAST(seq AS BIGINT) AS seq, 'data: {\"token\":\"' || tok || '\"}' || chr(10) || chr(10) AS frame FROM (VALUES " +
        "(0, '안녕하세요. 오늘'),(1, '은 날씨가 좋'),(2, '습니다! 내일은 비'),(3, '가 온다고 합니다'),(4, '. 우산을 챙기세요')) " +
        "AS t(seq, tok) ORDER BY seq")),
    QuerySpec("st3_flush", ((s, _) => {
      // ST3: partial-flush heuristic over the token stream — sentences
      // emit on terminal chars, partials flush on pause punctuation or
      // ≥20 buffered chars, the flushed buffer clears
      // (ref streaming_tts_service.py:56-69,153-172)
      import s.implicits._
      val ds = Fixtures.tokenStream.toDF("session_id", "seq", "chunk")
        .as[(String, Long, String)]
      ds.groupByKey(_._1).flatMapGroups { (sid, it) =>
        val out = Seq.newBuilder[(String, Long, String, String)]
        var buf = ""
        var n = 0L
        it.toSeq.sortBy(_._2).foreach { c =>
          val (sentences, partial, nb) = SentenceSegmenter.feedWithPartial(buf, c._3)
          sentences.foreach { x => out += ((sid, n, "sentence", x)); n += 1 }
          partial.foreach { p => out += ((sid, n, "partial", p)); n += 1 }
          buf = nb
        }
        if (buf.trim.nonEmpty) out += ((sid, n, "tail", buf.trim))
        out.result().iterator
      }.toDF("session_id", "idx", "kind", "text")
        .orderBy("session_id", "idx")
    }),
      ("SELECT session_id, CAST(idx AS BIGINT) AS idx, kind, text FROM (VALUES " +
        "('s1', 0, 'sentence', '안녕하세요.'),('s1', 1, 'sentence', '오늘은 날씨가 좋습니다!')," +
        "('s1', 2, 'sentence', '내일은 비가 온다고 합니다.'),('s1', 3, 'tail', '우산을 챙기세요')," +
        "('s2', 0, 'sentence', 'First sentence here.')," +
        "('s2', 1, 'partial', 'Second one continues, with a comma pause that runs long enough to flush')," +
        "('s2', 2, 'sentence', '.'),('s2', 3, 'partial', 'And a tail without end')) " +
        "AS t(session_id, idx, kind, text) ORDER BY session_id, idx")),
    QuerySpec("st5_progress", ((s, _) =>
      // ST5: staged progress events (ref routes.py:1316-1371, 5%→100%)
      graft.streaming.StreamFraming.progressEvents(s, Seq(
        ("질문 분석", 5), ("문서 검색", 25), ("문맥 구성", 45),
        ("답변 생성", 70), ("후처리", 90), ("완료", 100)))
        .select(col("stage").cast("bigint").as("stage"),
          col("pct").cast("bigint").as("pct"), col("message"))
        .orderBy("stage")),
      ("SELECT CAST(stage AS BIGINT) AS stage, CAST(pct AS BIGINT) AS pct, message FROM (VALUES " +
        "(0, 5, '질문 분석'),(1, 25, '문서 검색'),(2, 45, '문맥 구성'),(3, 70, '답변 생성'),(4, 90, '후처리'),(5, 100, '완료')) " +
        "AS t(stage, pct, message) ORDER BY stage")),
    QuerySpec("s10_append", ((s, _) => {
      // S10: append-mode embedding-index sink — two insertRows batches
      // land additively (ref rag_service.py:86-95 incremental add)
      val dir = EngineState.of(s).newDir("s10_") + "/idx"
      val k = Fixtures.knowledge(s)
      val schema = Ingest.inferSchema(k.columns.toSeq)
      val idx = Ingest.buildIndex(k, schema, "knowledge", dim = 64)
      graft.sources.Sinks.insertRows(s, dir, idx)
      graft.sources.Sinks.insertRows(s, dir, idx.filter(col("doc_id") <= 2))
      s.read.parquet(dir).agg(count(lit(1)).as("n_chunks"),
        countDistinct("doc_id").as("n_docs"))
    }),
      ("SELECT * FROM (VALUES (CAST(9 AS BIGINT), CAST(7 AS BIGINT))) AS t(n_chunks, n_docs)")),
    QuerySpec("s11_crud", ((s, _) => {
      // S11: insert → update-where → ownership-predicate delete
      // (ref tool_executor.py:239-285,471-511,525-545)
      import s.implicits._
      val dir = EngineState.of(s).newDir("s11_") + "/rows"
      val rows = Seq((1L, "u1", 10L), (2L, "u1", 20L), (3L, "u2", 30L),
        (4L, "u2", 40L), (5L, "u1", 50L)).toDF("id", "owner", "qty")
      graft.sources.Sinks.insertRows(s, dir, rows)
      graft.sources.Sinks.updateWhere(s, dir, col("id") === 3,
        Map("qty" -> lit(99L)))
      graft.sources.Sinks.deleteWhere(s, dir,
        col("id") === 5 && col("owner") === "u1")
      s.read.parquet(dir).select("id", "owner", "qty").orderBy("id")
    }),
      ("SELECT * FROM (VALUES (CAST(1 AS BIGINT), 'u1', CAST(10 AS BIGINT))," +
        "(2, 'u1', 20),(3, 'u2', 99),(4, 'u2', 40)) AS t(id, owner, qty) ORDER BY id")),
    QuerySpec("s2_jdbc", ((s, d) => {
      // S2: the live-DB ingest front door via spark.read.jdbc against
      // embedded Derby (ref enhanced_internal_db_service.py:475-510);
      // the numeric predicate is pushed to the database (PlanSpec
      // asserts PushedFilters on this exact shape)
      val url = EngineState.of(s).newDerbyUrl("s2_jdbc_")
      graft.sources.JdbcSource.writeTable(t(s, d, "nation"), url, "nation")
      graft.sources.JdbcSource.readTable(s, url, "nation")
        .filter(col("n_regionkey") < 3)
        .groupBy(col("n_regionkey").cast("bigint").as("region_key"))
        .agg(count(lit(1)).as("n_nations"))
        .orderBy("region_key")
    }),
      ("SELECT CAST(n_regionkey AS BIGINT) AS region_key, count(*) AS n_nations " +
        "FROM nation WHERE n_regionkey < 3 GROUP BY 1 ORDER BY 1")),
    QuerySpec("s2_mysql_types", ((s, _) => {
      // S2 dialect coverage: the reference's MariaDB serving tables
      // carry BIT/TINYINT(1) flags, TIME-of-day columns and DATEs that
      // its Python layer coerces row-by-row (tool_executor.py:156-161,
      // 227-228; routes.py:2450 medication). Same contract here as
      // schema-driven column coercions over a JDBC read — Derby
      // stands in for MariaDB with the same arrival types. Real
      // recompute since r15: Fixtures.materializeForOracle exports the
      // raw ARRIVAL rows to parquet and DuckDB re-runs the coercions
      // itself; the JDBC transport is the declared boundary.
      graft.sources.MySqlCoercions.normalize(
          Fixtures.medicationArrival(s),
          bitCols = Seq("ALARM_ENABLED"), timeCols = Seq("INTAKE_TIME"),
          dateCols = Seq("REFILL_DATE"))
        .select(col("MEDICATION_ID").cast("bigint").as("medication_id"),
          col("NAME").as("name"), col("DOSAGE").as("dosage"),
          col("INTAKE_TIME").as("intake_time"),
          col("ALARM_ENABLED").as("alarm_enabled"),
          col("REFILL_DATE").as("refill_date"))
        .orderBy("medication_id")
    }),
      // deterministic Derby fixture → pinned rows; the coercions under
      // test (BIT→bool, TIME→'HH:MM' seconds-dropped, DATE→ISO) are the
      // reference's serving-layer semantics
      // real recompute since r15: DuckDB reads the exported raw JDBC
      // arrival rows and re-runs the dialect coercions itself — the
      // TIME→"HH:MM" seconds-drop, the TINYINT(1)→bool '≠0', the
      // DATE→ISO formatting (the contract MySqlCoercions implements)
      {
        s"SELECT CAST(MEDICATION_ID AS BIGINT) AS medication_id, NAME AS name, " +
          "DOSAGE AS dosage, strftime(INTAKE_TIME, '%H:%M') AS intake_time, " +
          "(ALARM_ENABLED <> 0) AS alarm_enabled, " +
          "strftime(REFILL_DATE, '%Y-%m-%d') AS refill_date " +
          s"FROM read_parquet('${graft.fixtures.Fixtures.oracleFixtureDir}/medication_arrival.parquet/*.parquet') " +
          "ORDER BY medication_id"
      }),
    QuerySpec("st_dedup", ((s, d) => {
      // §2.9: streaming duplicate-arrival dedup as a batch oracle.
      // At-least-once sources re-deliver events; the engine keeps the
      // FIRST arrival per event_id (dropDuplicatesWithinWatermark
      // semantics while state is live). Re-deliveries are synthesized
      // for every 50th event. StreamingDedupSpec drives the real
      // withWatermark + dropDuplicatesWithinWatermark path.
      // r19: the re-delivered arrivals are GENERATED inline (explode
      // of a 1- or 2-element array) instead of a self-union — one
      // events scan instead of two for the identical arrival stream
      // (x1000 A/B: 1.18 s → 0.86 s min-of-5). The r18 _arr scramble
      // (the arrival-position formula st_watermark uses) is gone with
      // the row_number window below — the declared counts are
      // arrival-position-independent; _src still distinguishes the
      // synthetic re-delivery row.
      val e = t(s, d, "events").filter(col("user_id") < 8)
        .select(col("event_id"), col("user_id"))
      val arrivals = e.select(col("event_id"), col("user_id"),
        explode(when(col("event_id") % 50 === 0, array(lit(0), lit(1)))
          .otherwise(array(lit(0)))).as("_src"))
      // r19: the counts are arrival-order-INDEPENDENT — rn==1 marks
      // exactly one row per event_id and rn>1 the rest, so per user:
      // n_unique = #distinct event_ids, n_arrivals = Σ per-event
      // arrival counts, n_dropped = Σ (cnt−1). Two hash aggregates
      // (map-side-combined, whole-stage codegen) replace the keyed
      // Sort+WindowExec pass (the _arr scramble column no longer
      // ships through the exchange either); exchange count unchanged
      // (event_id grouping, then user_id), row_number gone.
      // StreamingDedupSpec pins this form equal to the rn==1 window
      // form; selection of WHICH arrival survives (first-by-_arr)
      // still matters in the real stream path, which the spec drives
      // via withWatermark + dropDuplicatesWithinWatermark.
      val perEvent = arrivals.groupBy("event_id", "user_id")
        .agg(count(lit(1)).as("_cnt"))
      orderedSmall(perEvent
        .groupBy("user_id")
        .agg(sum(col("_cnt")).as("n_arrivals"),
          count(lit(1)).as("n_unique"),
          sum(col("_cnt") - lit(1L)).as("n_dropped")),
        "user_id")
    }),
      ("WITH e AS (SELECT event_id, user_id FROM events WHERE user_id < 8), " +
        "a AS (SELECT event_id, user_id, 0 AS src FROM e " +
        "UNION ALL SELECT event_id, user_id, 1 FROM e WHERE event_id % 50 = 0), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY event_id " +
        "ORDER BY (event_id * 2654435761) % 1000003 + src * 2000000) AS rn FROM a) " +
        "SELECT user_id, count(*) AS n_arrivals, " +
        "CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique, " +
        "CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped " +
        "FROM r GROUP BY user_id ORDER BY user_id")),
    QuerySpec("st_watermark", ((s, d) => {
      // §2.9: watermarked tumbling event-time window as a batch oracle.
      // The testdata arrives ts-sorted, so out-of-order arrival is
      // synthesized with a deterministic scramble of event_id (same
      // formula both engines); watermark = running max event time over
      // prior arrivals − 7 days; late rows drop before the hourly
      // count. The unpartitioned running-max window IS the stream's
      // driver-side watermark state — a batch stand-in, bounded here to
      // the user_id<8 slice; StreamFramingSpec drives the real
      // withWatermark path on a MemoryStream.
      val e = t(s, d, "events").filter(col("user_id") < 8)
        .withColumn("_arr", (col("event_id") * 2654435761L) % 1000003L)
      val w = Window.orderBy(col("_arr"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      e.withColumn("_wm", max(col("ts")).over(w) - expr("interval 7 days"))
        .filter(col("_wm").isNull || col("ts") >= col("_wm"))
        .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm")
          .as("win_start"))
        .agg(count(lit(1)).as("n"))
        .orderBy("win_start")
    }),
      ("WITH a AS (SELECT event_id, ts, (event_id * 2654435761) % 1000003 AS arr FROM events WHERE user_id < 8), " +
        "w AS (SELECT *, max(ts) OVER (ORDER BY arr, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) - INTERVAL 7 DAY AS wm FROM a) " +
        "SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS win_start, count(*) AS n " +
        "FROM w WHERE wm IS NULL OR ts >= wm GROUP BY 1 ORDER BY 1")),
    QuerySpec("index_append_dedup", ((s, _) => {
      // incremental add then idempotent re-ingest: append a re-ingested
      // subset, exact-dedup by content hash (ref rag_service.py:86-95)
      val dir = EngineState.of(s).newDir("apdedup_") + "/idx"
      val k = Fixtures.knowledge(s)
      val schema = Ingest.inferSchema(k.columns.toSeq)
      val idx = Ingest.buildIndex(k, schema, "knowledge", dim = 64)
      graft.sources.Sinks.insertRows(s, dir, idx)
      graft.sources.Sinks.insertRows(s, dir, idx.filter(col("doc_id") <= 3))
      val all = s.read.parquet(dir)
      // both counts in one aggregation (a crossJoin of two 1-row aggs
      // would plan a nested-loop join — banned by the PlanSpec sweep)
      all.select(lit(1L).as("is_raw"))
        .unionByName(Dedup.exactDedup(all, "content", "chunk_id")
          .select(lit(0L).as("is_raw")))
        .agg(sum(col("is_raw")).as("n_raw"),
          sum(lit(1L) - col("is_raw")).as("n_deduped"))
    }),
      ("SELECT * FROM (VALUES (CAST(10 AS BIGINT), CAST(7 AS BIGINT))) AS t(n_raw, n_deduped)")),
    QuerySpec("from_json_props", ((s, d) =>
      // §2.8-json: single-path JSON extraction over the events props
      // column — real DuckDB oracle. History: from_json built a full
      // parsed struct per row (33× DuckDB at 100×, round-4 audit);
      // get_json_object dropped Jackson to one field but is a
      // CodegenFallback with a per-row parser (21× at 10×, round-5
      // audit). Now a native codegen byte scanner
      // (plans/JsonExpressions.scala) — no Jackson, no repartition.
      t(s, d, "events")
        .select(col("event_type"),
          graft.functions.JsonFunctions.jsonGet(col("props"), "k")
            .cast("int").as("k"))
        .groupBy("event_type")
        .agg(round(avg("k"), 4).as("avg_k"), max("k").cast("bigint").as("max_k"))
        .orderBy("event_type")),
      ("SELECT event_type, round(avg(CAST(json_extract_string(props, '$.k') AS INT)), 4) AS avg_k, " +
        "CAST(max(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS max_k " +
        "FROM events GROUP BY event_type ORDER BY event_type")),
    QuerySpec("tool_calls", ((s, _) => {
      // structured tool-call payload extraction (ref routes.py:2260-
      // 2274, tool_calling_wrapper.py:110-143): nested from_json,
      // malformed rows parse to null name and are filtered — the
      // server's except-branch
      val schema = "name STRING, arguments STRUCT<`table`: STRING, `limit`: INT>"
      Fixtures.toolCalls(s)
        .select(col("call_id"), from_json(col("payload"), lit(schema)).as("p"))
        .select(col("call_id"), col("p.name").as("tool"),
          col("p.arguments.table").as("target_table"),
          col("p.arguments.limit").cast("bigint").as("lim"))
        .filter(col("tool").isNotNull)
        .orderBy("call_id")
    }),
      // REAL recompute since r13 (was VALUES-pinned): the raw payload
      // strings are materialized to parquet by
      // Fixtures.materializeForOracle, and DuckDB re-runs the actual
      // JSON extraction with ITS OWN parser — try_cast(… AS JSON)
      // nulls the malformed row exactly like from_json's except-branch
      (s"WITH src AS (SELECT * FROM read_parquet('${graft.fixtures.Fixtures.oracleFixtureDir}/tool_calls.parquet/*.parquet')), " +
        "p AS (SELECT call_id, try_cast(payload AS JSON) AS j FROM src) " +
        "SELECT CAST(call_id AS BIGINT) AS call_id, j->>'$.name' AS tool, " +
        "j->>'$.arguments.table' AS target_table, CAST(j->>'$.arguments.limit' AS BIGINT) AS lim " +
        "FROM p WHERE (j->>'$.name') IS NOT NULL ORDER BY call_id")),
  )
}

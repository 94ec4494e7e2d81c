package graft
package catalog

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.TimeSeriesOps
import graft.functions.TextFunctions
import graft.fixtures.Fixtures
import graft.search.SearchPipeline

import Helpers.{t, orderedSmall}

/** §2.1 S8 sources, §2.8 scalar-function surfaces, P9 anchors, J2
  * context assembly, ST4/ST6 re-framing. */
object SourcesAndScalars {
  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("yahoo_chart", ((s, _) => {
      // S8: nested HTTP-JSON chart → arrays_zip explode → pct change
      val r = Fixtures.yahooChart(s)
        .select(element_at(col("chart.result"), 1).as("r"))
        .select(col("r.timestamp").as("ts"),
          element_at(col("r.indicators.quote"), 1).getField("close").as("close"))
        .select(explode(arrays_zip(col("ts"), col("close"))).as("z"))
        .select(to_date(timestamp_seconds(col("z.ts"))).as("day"),
          col("z.close").as("close"))
      val prev = lag("close", 1).over(Window.orderBy("day"))
      r.withColumn("pct", round((col("close") - prev) / prev * 100, 4))
        .orderBy("day")
    }),
      ("WITH s AS (SELECT i, 1735689600 + i*86400 AS ts, 2450.0 + i*3 - (i % 3)*7 AS close FROM range(10) t(i)), " +
        "l AS (SELECT *, lag(close) OVER (ORDER BY i) AS prev FROM s) " +
        "SELECT CAST(to_timestamp(ts) AS DATE) AS day, close, round((close - prev)/prev*100, 4) AS pct FROM l ORDER BY day")),
    QuerySpec("s8_randomwalk", ((s, _) => {
      // S8 fallback: deterministic synthetic random walk (LCG steps,
      // exact integer math → identical in any SQL engine). Generator
      // runs at fixture scale; the global window is the generator's
      // sequential nature, not a table op.
      s.range(1000).toDF("i").withColumn("step",
          ((col("i") * 1103515245L + 12345L) % 2001L - 1000L) / 100.0)
        .withColumn("value", round(lit(2500.0) +
          sum("step").over(Window.orderBy("i")), 2))
        .select(col("i"), col("value")).orderBy("i")
    }),
      ("WITH s AS (SELECT i, ((i*1103515245 + 12345) % 2001 - 1000)/100.0 AS step FROM range(1000) t(i)) " +
        "SELECT i, round(2500 + sum(step) OVER (ORDER BY i), 2) AS value FROM s ORDER BY i")),
    QuerySpec("p9_anchor", ((s, d) =>
      // NFKC is identity on the ASCII corpus, so the oracle's plain
      // contains() matches the NFKC path exactly
      t(s, d, "documents")
        .filter(SearchPipeline.strongAnchorPredicate(col("text"), lit(""),
          Set("spark", "shuffle")))
        .groupBy("lang").agg(count(lit(1)).as("n")).orderBy("lang")),
      ("SELECT lang, count(*) AS n FROM documents " +
        "WHERE contains(lower(replace(text, 'passage:', ' ')), 'spark') OR contains(lower(replace(text, 'passage:', ' ')), 'shuffle') " +
        "GROUP BY lang ORDER BY lang")),
    QuerySpec("j2_context", ((s, d) => {
      val c = t(s, d, "customer").filter(col("c_custkey") < 20)
      val n = broadcast(t(s, d, "nation"))
      val o = t(s, d, "orders")
      val agg = o.groupBy("o_custkey").agg(
        count(lit(1)).as("n_orders"),
        max(to_date(col("o_orderdate"))).as("last_order"))
      c.join(n, c("c_nationkey") === n("n_nationkey"))
        .join(agg, c("c_custkey") === agg("o_custkey"))
        .select(col("c_custkey"), concat(col("c_name"), lit(" ["), col("n_name"),
          lit("] orders="), col("n_orders").cast("string"),
          lit(" last="), col("last_order").cast("string")).as("context"))
        .orderBy("c_custkey")
    }),
      ("SELECT c_custkey, c_name || ' [' || n_name || '] orders=' || CAST(n_orders AS VARCHAR) || ' last=' || CAST(last_order AS VARCHAR) AS context " +
        "FROM (SELECT c.c_custkey, c.c_name, n.n_name, count(*) AS n_orders, CAST(max(o.o_orderdate) AS DATE) AS last_order " +
        "FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey JOIN orders o ON o.o_custkey = c.c_custkey " +
        "WHERE c.c_custkey < 20 GROUP BY 1, 2, 3) ORDER BY c_custkey")),
    QuerySpec("date_functions", ((s, d) =>
      // r19: format AFTER the top-50 cut — the select-then-orderBy
      // form planned Project(date_format×2, date_add) BELOW
      // TakeOrderedAndProject, paying two per-row DateTimeFormatter
      // renders + a day-floor for EVERY user-3 row when only 50
      // survive (plans/r19/date_functions_before.txt). The take
      // orders on (event_id, ts) rows; the formats run on the 50-row
      // SinglePartition output, order preserved by the projection.
      // Values identical — same expressions over the same 50 rows.
      t(s, d, "events").filter(col("user_id") === 3)
        .select(col("event_id"), col("ts"))
        .orderBy("event_id").limit(50)
        .select(col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss").as("iso"),
          date_add(TimeSeriesOps.utcDay(col("ts")), 1).as("next_day"),
          date_format(col("ts"), "HH:mm").as("hhmm"))),
      ("SELECT event_id, strftime(ts, '%Y-%m-%dT%H:%M:%S') AS iso, " +
        "CAST(CAST(ts AS DATE) + INTERVAL 1 DAY AS DATE) AS next_day, strftime(ts, '%H:%M') AS hhmm " +
        "FROM events WHERE user_id = 3 ORDER BY event_id LIMIT 50")),
    QuerySpec("str_functions", ((s, d) =>
      t(s, d, "documents").filter(col("doc_id") < 30)
        .select(col("doc_id"),
          upper(substring(col("text"), 1, 10)).as("head10"),
          TextFunctions.truncateEllipsis(col("text"), 50).as("trunc"),
          length(col("text")).cast("bigint").as("len"))
        .orderBy("doc_id")),
      ("SELECT doc_id, upper(substring(text, 1, 10)) AS head10, " +
        "CASE WHEN length(text) > 50 THEN substring(text, 1, 50) || '...' ELSE text END AS trunc, " +
        "length(text) AS len FROM documents WHERE doc_id < 30 ORDER BY doc_id")),
    QuerySpec("st4_rechunk", ((s, d) =>
      graft.streaming.StreamFraming.rechunk(
        t(s, d, "documents").filter(col("doc_id") < 30).select("doc_id", "text"),
        col("text"), 100)
        .groupBy("doc_id").agg(count(lit(1)).as("n_chunks"))
        .orderBy("doc_id")),
      ("SELECT doc_id, CAST(floor((length(text)-1)/100) + 1 AS BIGINT) AS n_chunks " +
        "FROM documents WHERE doc_id < 30 ORDER BY doc_id")),
    QuerySpec("st6_accumulate", ((s, _) => {
      import s.implicits._
      graft.streaming.StreamFraming.accumulate(
        Fixtures.tokenStream.toDF("session_id", "seq", "chunk"),
        "session_id", "seq", "chunk").orderBy("session_id")
    }),
      ("SELECT * FROM (VALUES " +
        "('s1','안녕하세요. 오늘은 날씨가 좋습니다! 내일은 비가 온다고 합니다. 우산을 챙기세요')," +
        "('s2','First sentence here. Second one continues, with a comma pause that runs long enough to flush. And a tail without end')) " +
        "AS t(session_id,text) ORDER BY session_id")),
    QuerySpec("zscore", ((s, d) => {
      // StandardScaler semantics: (x - μ)/σ per event_type
      // (ref dataset.py:40, predict.py:41 — fit/transform as one agg).
      // ONE pass, no join-back: z = (x-μ)/σ is monotone in x (σ > 0,
      // and fl-rounding preserves weak monotonicity), so the extreme
      // z-scores are the z of the extreme values — max/min fold into
      // the same groupBy that computes μ/σ, and the x100 point drops
      // a full fact scan plus the stats join (1.45 s → 0.34 s
      // measured). Degenerate groups behave identically to the join
      // form: σ = 0 → ±Infinity/NaN, single-row σ = null → null z.
      orderedSmall(t(s, d, "events")
        .filter(col("value").isNotNull && !isnan(col("value")))
        .groupBy("event_type")
        .agg(avg("value").as("mu"), stddev_samp("value").as("sigma"),
          max("value").as("mx"), min("value").as("mn"))
        .select(col("event_type"),
          round((col("mx") - col("mu")) / col("sigma"), 4).as("max_z"),
          round((col("mn") - col("mu")) / col("sigma"), 4).as("min_z")),
        "event_type")
    }),
      ("WITH e AS (SELECT event_type, value FROM events WHERE value IS NOT NULL AND NOT isnan(value)), " +
        "s AS (SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sigma FROM e GROUP BY 1) " +
        "SELECT e.event_type, round(max((value - mu)/sigma), 4) AS max_z, round(min((value - mu)/sigma), 4) AS min_z " +
        "FROM e JOIN s USING (event_type) GROUP BY e.event_type ORDER BY e.event_type")),
    QuerySpec("ko_format", ((s, _) =>
      // §2.8-str: {:,}원 number formatting + 은/는 particle choice
      // (ref grocery_rag_service.py:54-60, enhanced:865-874)
      Fixtures.grocery(s).select(col("product"),
          explode(col("stores")).as("st"))
        .groupBy("product").agg(min(col("st.price")).as("lo"))
        .select(col("product"),
          concat(col("product"), TextFunctions.koParticle(col("product")),
            lit(" 최저 "), format_number(col("lo"), 0), lit("원")).as("line"))
        .orderBy("product")),
      // REAL recompute since r13 (was VALUES-pinned): DuckDB re-derives
      // the min price AND the Korean formatting — format('{:,}') for the
      // thousands grouping and the 은/는 particle from the hangul
      // final-consonant rule ((codepoint − 0xAC00) % 28 ≠ 0 → 은) —
      // over the materialized grocery store rows
      (s"WITH g AS (SELECT product, min(price) AS lo FROM read_parquet('${graft.fixtures.Fixtures.oracleFixtureDir}/grocery_stores.parquet/*.parquet') GROUP BY product) " +
        "SELECT product, product || (CASE WHEN (unicode(right(product,1)) - 44032) % 28 <> 0 THEN '은' ELSE '는' END) " +
        "|| ' 최저 ' || format('{:,}', CAST(lo AS BIGINT)) || '원' AS line FROM g ORDER BY product")),
    QuerySpec("array_setops", ((s, d) =>
      // §2.7 array set ops: anchor-style token difference/intersection
      t(s, d, "documents").filter(col("doc_id") < 20)
        .select(col("doc_id"),
          split(lower(col("text")), "\\s+").as("toks"))
        .select(col("doc_id"),
          size(array_distinct(col("toks"))).cast("bigint").as("n_distinct"),
          size(array_intersect(array_distinct(col("toks")),
            array(lit("the"), lit("and"), lit("of")))).cast("bigint").as("n_stop"),
          size(array_except(array_distinct(col("toks")),
            array(lit("the"), lit("and"), lit("of")))).cast("bigint").as("n_content"))
        .orderBy("doc_id")),
      ("WITH d AS (SELECT doc_id, list_distinct(regexp_split_to_array(lower(text), '\\s+')) AS toks FROM documents WHERE doc_id < 20) " +
        "SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_distinct, " +
        "CAST(len(list_intersect(toks, ['the','and','of'])) AS BIGINT) AS n_stop, " +
        "CAST(len(toks) - len(list_intersect(toks, ['the','and','of'])) AS BIGINT) AS n_content FROM d ORDER BY doc_id")),
  )
}

package graft
package catalog

import org.apache.spark.sql.functions._

import graft.operators.TimeSeriesOps

import Helpers.{t, tp, orderedSmall}

/** §2.7 set ops + §2.8 scalar-function queries. */
object ScalarsAndSets {
  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("set_distinct", ((s, d) =>
      t(s, d, "documents").select("lang", "source").dropDuplicates()
        .orderBy("lang", "source")),
      "SELECT DISTINCT lang, source FROM documents ORDER BY lang, source"),
    QuerySpec("set_union", ((s, d) => {
      val docs = t(s, d, "documents")
      val a = docs.filter(col("lang") === "en").select("doc_id", "lang")
      val b = docs.filter(col("n_chars") > 300 && col("lang") =!= "en")
        .select("doc_id", "lang")
      a.unionByName(b).groupBy("lang").agg(count(lit(1)).as("n")).orderBy("lang")
    }),
      ("SELECT lang, count(*) AS n FROM (SELECT doc_id, lang FROM documents WHERE lang = 'en' " +
        "UNION ALL SELECT doc_id, lang FROM documents WHERE n_chars > 300 AND lang <> 'en') GROUP BY lang ORDER BY lang")),
    QuerySpec("json_extract", ((s, d) =>
      // codegen byte scanner (plans/JsonExpressions.scala) instead of
      // regexp_extract: ~50 ns/row keeps the extraction cheaper than
      // the scan itself, so no parallelism floor (tp) is needed — the
      // repartition shuffle it paid was the round-5 bottleneck
      t(s, d, "events")
        .withColumn("k", graft.functions.JsonFunctions
          .jsonGet(col("props"), "k").cast("int"))
        .groupBy("event_type").agg(round(avg("k"), 4).as("avg_k"))
        .orderBy("event_type")),
      ("SELECT event_type, round(avg(CAST(regexp_extract(props, '\"k\":\\s*([0-9]+)', 1) AS INT)),4) AS avg_k " +
        "FROM events GROUP BY event_type ORDER BY event_type")),
    QuerySpec("date_parts", ((s, d) => orderedSmall(
      // r20 §4: group on trunc-to-month, extract y/m from the ~84
      // groups post-agg — ONE calendar conversion per row instead of
      // two (year() and month() each run their own epoch-day→LocalDate
      // walk). (y, m) ↔ month-truncated date is a bijection, so the
      // groups and their aggregates are identical (R20FormsSpec pin;
      // x1000 same-JVM A/B, OPTIMIZATION_r20.md: 3.25 vs 3.39 / 3.02 vs 3.76 s across
      // two runs; the raw-date two-level variant measured WORSE —
      // dp_raw_date_key_2level — so per-row calendar work, not agg
      // fan-in, is the knob here).
      t(s, d, "lineitem")
        .groupBy(trunc(col("l_shipdate"), "month").as("_ms"))
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("qty"))
        .select(year(col("_ms")).cast("bigint").as("y"),
          month(col("_ms")).cast("bigint").as("m"), col("n"), col("qty")),
      "y", "m")),
      "SELECT year(l_shipdate) AS y, month(l_shipdate) AS m, count(*) AS n, round(sum(l_quantity),2) AS qty FROM lineitem GROUP BY y, m ORDER BY y, m"),
    QuerySpec("seasonal_features", ((s, d) => {
      val days = t(s, d, "events").select(TimeSeriesOps.utcDay(col("ts")).as("day")).distinct()
      TimeSeriesOps.calendarFeatures(days, "day")
        .select(col("day"),
          round(col("doy_sin"), 6).as("doy_sin"),
          round(col("doy_cos"), 6).as("doy_cos"))
        .orderBy("day")
    }),
      ("SELECT day, round(sin(dayofyear(day)*2*pi()/365.25),6) AS doy_sin, round(cos(dayofyear(day)*2*pi()/365.25),6) AS doy_cos " +
        "FROM (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events) ORDER BY day")),
  )
}

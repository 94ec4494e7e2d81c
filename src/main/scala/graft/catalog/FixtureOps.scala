package graft
package catalog

import org.apache.spark.sql.functions._

import graft.operators.Relational
import graft.functions.TextFunctions
import graft.fixtures.Fixtures
import graft.streaming.SentenceSegmenter

import Helpers.t

/** Fixture-backed queries (oracle = the same rows as VALUES lists):
  * nested-JSON grocery (S5/A6/W7), news serving filters (P6/P11/P12/
  * W2), the stateful sentence segmenter golden (ST2), cp949 CSV (S4). */
object FixtureOps {
  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("grocery_minmax", ((s, _) =>
      Fixtures.grocery(s).select(col("category"), col("product"), col("unit"),
          explode(col("stores")).as("st"))
        .groupBy("category", "product", "unit")
        .agg(min(col("st.price")).cast("bigint").as("lo"),
          max(col("st.price")).cast("bigint").as("hi"))
        .orderBy("product")),
      // REAL recomputes since r13 (were VALUES-pinned): DuckDB re-runs
      // the min/max aggregation and the argmin-by-(price, store) window
      // over the materialized grocery store rows (the JSON explode is
      // upstream of the materialized input; the aggregation/window
      // semantics are what these queries exist to check)
      (s"WITH s AS (SELECT * FROM read_parquet('${graft.fixtures.Fixtures.oracleFixtureDir}/grocery_stores.parquet/*.parquet')) " +
        "SELECT category, product, unit, CAST(min(price) AS BIGINT) AS lo, CAST(max(price) AS BIGINT) AS hi " +
        "FROM s GROUP BY category, product, unit ORDER BY product")),
    QuerySpec("grocery_beststore", ((s, _) => {
      val st = Fixtures.grocery(s).select(col("product"),
        explode(col("stores")).as("s"))
        .select(col("product"), col("s.name").as("store"),
          col("s.price").cast("bigint").as("price"))
      Relational.latestPerKey(st, Seq(col("product")),
          Seq(asc("price"), asc("store")))
        .orderBy("product")
    }),
      (s"WITH r AS (SELECT product, store, price, row_number() OVER (PARTITION BY product ORDER BY price, store) AS rn " +
        s"FROM read_parquet('${graft.fixtures.Fixtures.oracleFixtureDir}/grocery_stores.parquet/*.parquet')) " +
        "SELECT product, store, CAST(price AS BIGINT) AS price FROM r WHERE rn = 1 ORDER BY product")),
    QuerySpec("news_top", ((s, _) => {
      val kws = Seq("반도체", "배터리", "금리")
      Fixtures.news(s)
        .withColumn("clean", TextFunctions.stripHtml(col("content")))
        .filter(!col("is_summary") && length(col("clean")) > 30 &&
          kws.map(k => col("title").contains(k) || col("clean").contains(k))
            .reduce(_ || _))
        .select(col("title"), col("published_date"),
          round(col("score"), 2).as("score"))
        .orderBy(desc("score"), col("title")).limit(10)
    }),
      // real recompute since r14: DuckDB reads the exported news landing
      // table and re-runs the HTML strip (same regex, 'g'), the summary/
      // length guards and the keyword-OR rank itself
      (s"WITH n AS (SELECT * FROM read_parquet('${graft.fixtures.Fixtures.oracleFixtureDir}/news.parquet/*.parquet')), " +
        "c AS (SELECT title, published_date, score, is_summary, " +
        "regexp_replace(content, '<[^<]+?>', '', 'g') AS clean FROM n) " +
        "SELECT title, published_date, round(score, 2) AS score FROM c " +
        "WHERE NOT is_summary AND length(clean) > 30 AND " +
        "(title LIKE '%반도체%' OR clean LIKE '%반도체%' OR title LIKE '%배터리%' " +
        "OR clean LIKE '%배터리%' OR title LIKE '%금리%' OR clean LIKE '%금리%') " +
        "ORDER BY score DESC, title LIMIT 10")),
    QuerySpec("st_segment", ((s, _) => {
      import s.implicits._
      val ds = Fixtures.tokenStream.toDF("session_id", "seq", "chunk")
        .as[(String, Long, String)]
      ds.groupByKey(_._1).flatMapGroups { (sid, it) =>
        SentenceSegmenter.segmentAll(it.toSeq.sortBy(_._2).map(_._3))
          .zipWithIndex.map { case (sent, i) => (sid, i.toLong, sent) }
      }.toDF("session_id", "idx", "sentence").orderBy("session_id", "idx")
    }),
      ("SELECT * FROM (VALUES ('s1',CAST(0 AS BIGINT),'안녕하세요.')," +
        "('s1',1,'오늘은 날씨가 좋습니다!'),('s1',2,'내일은 비가 온다고 합니다.'),('s1',3,'우산을 챙기세요')," +
        "('s2',0,'First sentence here.')," +
        "('s2',1,'Second one continues, with a comma pause that runs long enough to flush.')," +
        "('s2',2,'And a tail without end')) AS t(session_id,idx,sentence) ORDER BY session_id, idx")),
    QuerySpec("rss_items", ((s, _) => {
      // S6: real RSS XML via from_xml → explode items → HTML-entity
      // strip + RFC-822 pubDate parse (UTC-normalized)
      import s.implicits._
      val schema = "STRUCT<channel: STRUCT<title: STRING, item: ARRAY<STRUCT<" +
        "title: STRING, link: STRING, description: STRING, " +
        "pubDate: STRING, category: STRING>>>>"
      Seq(Fixtures.rssXml).toDF("xml")
        .select(from_xml(col("xml"), schema,
          new java.util.HashMap[String, String]()).as("ch"))
        .select(explode(col("ch.channel.item")).as("it"))
        .select(col("it.title").as("title"),
          col("it.category").as("category"),
          // Spark 3+ can't PARSE day-of-week ("EEE"); drop the prefix
          date_format(to_timestamp(
            regexp_replace(col("it.pubDate"), "^[A-Za-z]{3}, ", ""),
            "dd MMM yyyy HH:mm:ss Z"), "yyyy-MM-dd HH:mm").as("ts"),
          TextFunctions.stripHtml(col("it.description")).as("description"))
        .orderBy("ts")
    }),
      ("SELECT * FROM (VALUES " +
        "('코스피 상승 마감','economy','2025-07-30 00:30','코스피가 외국인 매수에 힘입어 상승 마감했다.')," +
        "('환율 변동성 확대','economy','2025-07-31 05:00','원달러 환율이 급등락을 반복하고 있다.')," +
        "('반도체 수출 호조','it','2025-07-31 23:15','반도체 수출이 3개월 연속 증가했다.')) " +
        "AS t(title,category,ts,description) ORDER BY ts")),
    QuerySpec("fruit_csv", ((s, _) =>
      Fixtures.fruitPrices(s).agg(
        count(lit(1)).as("n_days"),
        round(avg("price"), 2).as("avg_price"),
        date_format(min("date"), "yyyy-MM-dd").as("first_day"),
        date_format(max("date"), "yyyy-MM-dd").as("last_day"))),
      // Deterministic fixture-pipeline goldens (hash embedder / chunker /
      // decode stub are pure JVM functions; rows recorded once and pinned):
      ("SELECT * FROM (VALUES (CAST(71 AS BIGINT), CAST(3046.68 AS DOUBLE), '2025-01-01', '2025-04-30')) " +
        "AS t(n_days, avg_price, first_day, last_day)")),
  )
}

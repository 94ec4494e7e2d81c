package graft
package catalog

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Relational, TimeSeriesOps}

import Helpers.t

/** §2.5/§2.6 windows, ranks, sorts, limits (W1–W7). */
object Windows {
  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("w1_topk", ((s, d) =>
      t(s, d, "orders")
        .orderBy(desc("o_totalprice"), col("o_orderkey"))
        .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("total_price"))
        .limit(10)),
      "SELECT o_orderkey, round(o_totalprice,2) AS total_price FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"),
    QuerySpec("w2_topn_docs", ((s, d) =>
      t(s, d, "documents").orderBy(desc("n_chars"), col("doc_id"))
        .select("doc_id", "n_chars").limit(10)),
      "SELECT doc_id, n_chars FROM documents ORDER BY n_chars DESC, doc_id LIMIT 10"),
    QuerySpec("w3_latest_per_key", ((s, d) =>
      Relational.latestPerKey(
        t(s, d, "orders").filter(col("o_custkey") < 100),
        Seq(col("o_custkey")), Seq(desc("o_orderdate"), desc("o_orderkey")))
        .select(col("o_custkey"), col("o_orderkey"),
          to_date(col("o_orderdate")).as("order_date"))
        .orderBy("o_custkey")),
      ("SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS order_date FROM " +
        "(SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders WHERE o_custkey < 100) " +
        "WHERE rn = 1 ORDER BY o_custkey")),
    QuerySpec("w4_recent_n", ((s, d) =>
      Relational.topNPerGroup(
        t(s, d, "orders").filter(col("o_custkey") < 30),
        Seq(col("o_custkey")), Seq(desc("o_orderdate"), desc("o_orderkey")), 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rn").cast("bigint").as("rn"))
        .orderBy("o_custkey", "rn")),
      ("SELECT o_custkey, o_orderkey, rn FROM " +
        "(SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders WHERE o_custkey < 30) " +
        "WHERE rn <= 3 ORDER BY o_custkey, rn")),
    QuerySpec("w5_sliding", ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("event_id")
        .rowsBetween(-6, 0)
      t(s, d, "events").filter(col("user_id") < 5)
        .select(col("user_id"), col("event_id"),
          round(avg("value").over(w), 4).as("ma7"))
        .orderBy("user_id", "event_id")
    }),
      ("SELECT user_id, event_id, round(avg(value) OVER (PARTITION BY user_id ORDER BY event_id ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS ma7 " +
        "FROM events WHERE user_id < 5 ORDER BY user_id, event_id")),
    QuerySpec("w6_lag_trend", ((s, d) => {
      val daily = t(s, d, "events")
        .groupBy(TimeSeriesOps.utcDay(col("ts")).as("day")).agg(avg("value").as("v"))
      // global window is bounded BY CONSTRUCTION: input is the
      // daily-grain aggregate (≤ calendar days of the corpus), never
      // the events table
      val prev = lag("v", 1).over(Window.orderBy("day"))
      daily.withColumn("prev", prev)
        .select(col("day"), round(col("v"), 4).as("avg_value"),
          when(col("prev").isNull, "new")
            .when(col("v") > col("prev"), "up")
            .when(col("v") < col("prev"), "down")
            .otherwise("flat").as("trend"))
        .orderBy("day")
    }),
      ("WITH d AS (SELECT CAST(ts AS DATE) AS day, avg(value) AS v FROM events GROUP BY day), " +
        "l AS (SELECT day, v, lag(v) OVER (ORDER BY day) AS prev FROM d) " +
        "SELECT day, round(v,4) AS avg_value, CASE WHEN prev IS NULL THEN 'new' WHEN v > prev THEN 'up' WHEN v < prev THEN 'down' ELSE 'flat' END AS trend " +
        "FROM l ORDER BY day")),
    QuerySpec("w7_rank_per_group", ((s, d) =>
      Relational.topNPerGroup(t(s, d, "part"),
        Seq(col("p_brand")), Seq(desc("p_retailprice"), col("p_partkey")), 3)
        .select(col("p_brand"), col("p_partkey"),
          round(col("p_retailprice"), 2).as("price"),
          col("rn").cast("bigint").as("rn"))
        .orderBy("p_brand", "rn")),
      ("SELECT p_brand, p_partkey, round(p_retailprice,2) AS price, rn FROM " +
        "(SELECT *, row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rn FROM part) " +
        "WHERE rn <= 3 ORDER BY p_brand, rn")),
    QuerySpec("sort_multikey", ((s, d) =>
      t(s, d, "orders")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .select(col("o_orderkey"), to_date(col("o_orderdate")).as("order_date"),
          col("o_orderstatus"))
        .limit(50)),
      "SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date, o_orderstatus FROM orders ORDER BY o_orderdate, o_orderkey LIMIT 50"),
    QuerySpec("w9_distribution", ((s, d) => {
      // distribution window functions: ntile / percent_rank / cume_dist
      // per key — one shuffle on the partition key
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      t(s, d, "orders").filter(col("o_custkey") < 10)
        .select(col("o_custkey"), col("o_orderkey"),
          ntile(4).over(w).cast("bigint").as("quartile"),
          round(percent_rank().over(w), 6).as("pct_rank"),
          round(cume_dist().over(w), 6).as("cdist"))
        .orderBy("o_custkey", "o_orderkey")
    }),
      ("SELECT o_custkey, o_orderkey, " +
        "CAST(ntile(4) OVER w AS BIGINT) AS quartile, round(percent_rank() OVER w, 6) AS pct_rank, round(cume_dist() OVER w, 6) AS cdist " +
        "FROM orders WHERE o_custkey < 10 " +
        "WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey) " +
        "ORDER BY o_custkey, o_orderkey")),
  )
}

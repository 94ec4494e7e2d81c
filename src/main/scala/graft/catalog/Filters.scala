package graft
package catalog

import org.apache.spark.sql.functions._

import Helpers.t

/** §2.1/§2.2 scans, projections, filters (S1, P1–P11). */
object Filters {
  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("s1_scan", ((s, d) =>
      t(s, d, "customer").na.fill("", Seq("c_name"))
        .select(col("c_custkey"), col("c_name").as("name"), col("c_mktsegment"))
        .orderBy("c_custkey").limit(500)),
      "SELECT c_custkey, coalesce(c_name,'') AS name, c_mktsegment FROM customer ORDER BY c_custkey LIMIT 500"),
    QuerySpec("p1_projection", ((s, d) =>
      t(s, d, "customer")
        .select(col("c_name"), round(col("c_acctbal"), 2).as("acctbal"))
        .orderBy("c_name")),
      "SELECT c_name, round(c_acctbal,2) AS acctbal FROM customer ORDER BY c_name"),
    QuerySpec("p2_rename", ((s, d) =>
      t(s, d, "orders").filter(col("o_custkey") < 50)
        .select(col("o_orderkey").as("order_id"), col("o_orderpriority").as("priority"))
        .orderBy("order_id")),
      "SELECT o_orderkey AS order_id, o_orderpriority AS priority FROM orders WHERE o_custkey < 50 ORDER BY order_id"),
    QuerySpec("p3_eq_filter", ((s, d) =>
      t(s, d, "orders").filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 2).as("total_price"))
        .orderBy("o_orderkey")),
      "SELECT o_orderkey, o_custkey, round(o_totalprice,2) AS total_price FROM orders WHERE o_orderstatus = 'F' ORDER BY o_orderkey"),
    QuerySpec("p4_conjunction", ((s, d) =>
      t(s, d, "orders")
        .filter(col("o_orderstatus") === "O" && col("o_totalprice") > 200000)
        .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("total_price"))
        .orderBy("o_orderkey")),
      "SELECT o_orderkey, round(o_totalprice,2) AS total_price FROM orders WHERE o_orderstatus = 'O' AND o_totalprice > 200000 ORDER BY o_orderkey"),
    QuerySpec("p5_date_range", ((s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1998-01-01").cast("date") &&
          col("l_shipdate") < lit("1999-01-01").cast("date"))
        .agg(count(lit(1)).as("n"), round(sum("l_extendedprice"), 2).as("revenue"))),
      "SELECT count(*) AS n, round(sum(l_extendedprice),2) AS revenue FROM lineitem WHERE l_shipdate >= DATE '1998-01-01' AND l_shipdate < DATE '1999-01-01'"),
    QuerySpec("p6_keyword_or", ((s, d) =>
      // r18: in-place case-folding scan (plans/ContainsIgnoreCase) —
      // `contains(lower(text), kw)` materialized a lowered copy of the
      // whole text corpus per keyword test (~most of the 1.3 s x1000
      // wall); the codegen expression scans the original buffer,
      // equivalence argued + fuzzed in ContainsIgnoreCaseSpec
      t(s, d, "documents")
        .filter(graft.plans.ContainsIgnoreCase.column(col("text"), "join") ||
          graft.plans.ContainsIgnoreCase.column(col("text"), "window"))
        .groupBy("lang").agg(count(lit(1)).as("n")).orderBy("lang")),
      "SELECT lang, count(*) AS n FROM documents WHERE contains(lower(text), 'join') OR contains(lower(text), 'window') GROUP BY lang ORDER BY lang"),
    QuerySpec("p7_regex_parse", ((s, d) =>
      t(s, d, "part")
        .withColumn("brand_num",
          regexp_extract(col("p_brand"), "([0-9]+)", 1).cast("int"))
        .groupBy("brand_num").agg(count(lit(1)).as("n")).orderBy("brand_num")),
      "SELECT CAST(regexp_extract(p_brand, '([0-9]+)', 1) AS INT) AS brand_num, count(*) AS n FROM part GROUP BY brand_num ORDER BY brand_num"),
    QuerySpec("p10_null_mask", ((s, d) =>
      t(s, d, "events")
        .filter(col("value").isNotNull && !isnan(col("value")))
        .groupBy("event_type").agg(count(lit(1)).as("n")).orderBy("event_type")),
      "SELECT event_type, count(*) AS n FROM events WHERE value IS NOT NULL AND NOT isnan(value) GROUP BY event_type ORDER BY event_type"),
    QuerySpec("p11_length_guard", ((s, d) =>
      t(s, d, "documents").filter(col("n_chars") > 200)
        .groupBy("source").agg(count(lit(1)).as("n"),
          round(avg("n_chars"), 4).as("avg_chars"))
        .orderBy("source")),
      "SELECT source, count(*) AS n, round(avg(n_chars),4) AS avg_chars FROM documents WHERE n_chars > 200 GROUP BY source ORDER BY source"),
  )
}

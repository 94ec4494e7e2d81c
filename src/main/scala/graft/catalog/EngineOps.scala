package graft
package catalog

import org.apache.spark.sql.functions._

import graft.operators.Relational
import graft.functions.VectorFunctions

import Helpers.{t, queryVec, knnTopSql}

/** Catalog + interleave + L2-branch scoring (S3, W8, A12-L2). */
object EngineOps {
  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("s3_catalog", ((s, d) => {
      Tables.registerAll(s, d)
      s.createDataFrame(Tables.names.sorted.map(Tuple1(_)))
        .toDF("table_name")
    }),
      ("SELECT * FROM (VALUES ('customer'),('documents'),('embeddings'),('events'),('lineitem')," +
        "('nation'),('orders'),('part'),('region'),('supplier')) AS t(table_name) ORDER BY table_name")),
    QuerySpec("sql_knn", ((s, d) => {
      // SQL surface: the registered graft_cosine codegen function via
      // spark.sql over temp views (requires Sessions.extensions)
      Tables.registerAll(s, d)
      s.sql("""SELECT vec_id,
              |  round(graft_cosine(embedding,
              |    (SELECT embedding FROM embeddings WHERE vec_id = 0)), 4) AS score
              |FROM embeddings WHERE vec_id <> 0
              |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin)
    }),
      (knnTopSql.format(10) +
        " SELECT vec_id, round(s, 4) AS score FROM top ORDER BY score DESC, vec_id")),
    QuerySpec("w8_roundrobin", ((s, d) => {
      val rr = Relational.topNPerGroup(
        t(s, d, "orders").filter(col("o_custkey") < 200),
        Seq(col("o_orderpriority")), Seq(desc("o_totalprice"), col("o_orderkey")), 5)
      rr.orderBy(col("rn"), col("o_orderpriority"))
        .select(col("o_orderpriority").as("priority"),
          col("rn").cast("bigint").as("rn"),
          col("o_orderkey"), round(col("o_totalprice"), 2).as("total_price"))
        .limit(15)
    }),
      ("SELECT o_orderpriority AS priority, rn, o_orderkey, round(o_totalprice,2) AS total_price FROM " +
        "(SELECT *, row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS rn " +
        "FROM orders WHERE o_custkey < 200) WHERE rn <= 5 ORDER BY rn, priority LIMIT 15")),
    QuerySpec("a12_l2branch", ((s, d) => {
      val q = lit(queryVec(s, d, 0L))
      t(s, d, "embeddings").filter(col("vec_id") =!= 0)
        .select(col("vec_id"),
          round(VectorFunctions.l2ToSimilarity(
            VectorFunctions.l2DistFast(col("embedding"), q)), 4).as("sim"))
        .orderBy(desc("sim"), col("vec_id")).limit(10)
    }),
      ("WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0) " +
        "SELECT vec_id, round(1.0/(1.0 + list_distance(CAST(e.embedding AS DOUBLE[]), qe)), 4) AS sim " +
        "FROM embeddings e, q WHERE e.vec_id <> 0 ORDER BY sim DESC, vec_id LIMIT 10")),
  )
}

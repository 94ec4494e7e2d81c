package graft
package catalog

import org.apache.spark.sql.functions._

import graft.operators.VectorSearch

import Helpers.{knnScores, overKnn, knnTopSql}

/** §2.10 vector-search pipeline stages (J5/W1, A12, P8, A10). */
object VectorOps {
  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("v1_knn", ((s, d) =>
      knnScores(s, d).orderBy(desc("s"), col("vec_id")).limit(10)
        .select(col("vec_id"), round(col("s"), 4).as("score"))
        .orderBy(desc("score"), col("vec_id"))),
      (knnTopSql.format(10) +
        " SELECT vec_id, round(s,4) AS score FROM top ORDER BY score DESC, vec_id")),
    QuerySpec("v2_knn_norm", ((s, d) =>
      overKnn(s, d, 20)(VectorSearch.normalizeScoresIP(_, 2))
        .select(col("vec_id"), round(col("s"), 4).as("norm_score"))
        .orderBy(desc("norm_score"), col("vec_id"))),
      (knnTopSql.format(20) +
        ", n AS (SELECT vec_id, s, greatest(1.0, max(s) OVER ()) AS hi, least(-1.0, min(s) OVER ()) AS lo FROM top) " +
        "SELECT vec_id, round((s - lo)/(hi - lo), 4) AS norm_score FROM n ORDER BY norm_score DESC, vec_id")),
    QuerySpec("v3_margin", ((s, d) =>
      overKnn(s, d, 20)(VectorSearch.marginFilter(_, 2, margin = 0.12, simFloor = 0.1))
        .select(col("vec_id"), round(col("s"), 4).as("score"))
        .orderBy(desc("score"), col("vec_id"))),
      (knnTopSql.format(20) +
        ", m AS (SELECT vec_id, s, max(s) OVER () AS best FROM top) " +
        "SELECT vec_id, round(s,4) AS score FROM m WHERE s >= 0.1 AND s >= greatest(best - 0.12, best * 0.88) ORDER BY score DESC, vec_id")),
    QuerySpec("v4_diversify", ((s, d) =>
      overKnn(s, d, 20)(VectorSearch.diversify(_, _.get(1), 2, 0,
          perGroupCap = 2, topK = 8))
        .select(col("vec_id"), col("label"), round(col("s"), 4).as("score"))),
      (knnTopSql.format(20) +
        ", capped AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY label ORDER BY s DESC, vec_id) AS gr FROM top) WHERE gr <= 2), " +
        "g AS (SELECT *, min(pos) OVER (PARTITION BY label) AS gpos FROM (SELECT *, row_number() OVER (ORDER BY s DESC, vec_id) AS pos FROM capped)) " +
        "SELECT vec_id, label, round(s,4) AS score FROM g ORDER BY gr, gpos, s DESC, vec_id LIMIT 8")),
  )
}

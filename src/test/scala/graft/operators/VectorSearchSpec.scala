package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.Row

class VectorSearchSpec extends SparkSpec {
  import spark.implicits._

  test("knnExact returns top-k by cosine with id tie-break") {
    val emb = Seq(
      (1L, Seq(1f, 0f)), (2L, Seq(0.9f, 0.1f)), (3L, Seq(0f, 1f)),
      (4L, Seq(-1f, 0f))).toDF("id", "emb")
    val out = VectorSearch.knnExact(emb, "id", "emb", Seq(1f, 0f), 2)
      .select("id").as[Long].collect()
    assert(out.toSeq == Seq(1L, 2L))
  }

  test("normalizeScoresIP matches the reference formula (hi=max(1,max), lo=min(-1,min))") {
    val rows = Seq((1L, 0.5), (2L, 0.0), (3L, -0.5)).map(Row.fromTuple)
    val out = VectorSearch.normalizeScoresIP(rows, score = 1)
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // hi=1, lo=-1 → (s+1)/2
    assert(math.abs(out(1L) - 0.75) < 1e-12)
    assert(math.abs(out(2L) - 0.5) < 1e-12)
    assert(math.abs(out(3L) - 0.25) < 1e-12)
  }

  test("marginFilter keeps rows within margin of best and above floor") {
    val rows = Seq((1L, 0.9), (2L, 0.85), (3L, 0.75), (4L, 0.2)).map(Row.fromTuple)
    val out = VectorSearch.marginFilter(rows, score = 1, margin = 0.1, simFloor = 0.3)
      .map(_.getLong(0)).toSet
    // cut = max(0.8, 0.81) = 0.81 → keep 0.9, 0.85; 0.75 < cut; 0.2 < floor
    assert(out == Set(1L, 2L))
  }

  test("diversify = per-group cap then rank-major round-robin, groups by first appearance") {
    val rows = Seq(
      (1L, "A", 0.95), (2L, "A", 0.90), (3L, "A", 0.85), (4L, "A", 0.80),
      (5L, "B", 0.88), (6L, "B", 0.70),
      (7L, "C", 0.60)).map(Row.fromTuple)
    val out = VectorSearch.diversify(rows, _.get(1), score = 2, id = 0,
        perGroupCap = 2, topK = 5)
      .map(_.getLong(0))
    // cap 2: A→{1,2}, B→{5,6}, C→{7}; round-robin rank-major in group
    // first-appearance order (A best 0.95, B 0.88, C 0.60):
    // rank1: 1, 5, 7; rank2: 2, 6 → limit 5
    assert(out.toSeq == Seq(1L, 5L, 7L, 2L, 6L))
  }

  test("contextBudget truncates the boundary row to the remaining budget") {
    val rows = Seq((1L, "aaaaa"), (2L, "bbbbb"), (3L, "ccccc")).map(Row.fromTuple)
    val out = VectorSearch.contextBudget(rows, text = 1, budget = 8)
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out(1L) == "aaaaa")
    assert(out(2L) == "bbb") // 8 - 5 spent = 3 chars left
    assert(!out.contains(3L))
  }
}

package graft

import org.apache.spark.sql.functions._

/** a13_metrics must survive high-cardinality key spaces: the
  * map-literal fast path is tuned to enum-sized taxonomies (≤1000
  * groups), and beyond that the query has to fall back to the
  * broadcast-join form instead of throwing — a generality requirement,
  * not a perf one. Both paths score the same group-mean predictor, so
  * on a corpus where value is constant per type the RMSE is exactly 0
  * whichever path ran. */
class A13FallbackSpec extends SparkSpec {
  import spark.implicits._

  private def runA13(dir: String) = SparkEntry.queries("a13_metrics")(spark, dir)

  test("map-literal path and broadcast-join fallback agree on the group-mean metrics") {
    val dir = tempDir("graft_a13_")
    // 1500 distinct event types forces the fallback; value = f(type)
    // exactly, so the group-mean predictor is perfect → rmse 0, smape 0
    (0 until 6000).map { i =>
      (s"type_${i % 1500}", (i % 1500).toDouble * 0.5)
    }.toDF("event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val row = runA13(dir).head()
    assert(row.getDouble(0) == 0.0, s"fallback rmse ${row.getDouble(0)} != 0")
    assert(row.getDouble(2) == 0.0, s"fallback smape ${row.getDouble(2)} != 0")

    // same data collapsed to 3 types → fast path; same perfect-predictor
    // invariant must hold there too
    val dir2 = tempDir("graft_a13_")
    (0 until 6000).map { i =>
      (s"type_${i % 3}", (i % 3).toDouble * 0.5)
    }.toDF("event_type", "value")
      .write.mode("overwrite").parquet(s"$dir2/events.parquet")
    val row2 = runA13(dir2).head()
    assert(row2.getDouble(0) == 0.0 && row2.getDouble(2) == 0.0)
  }

  test("fallback keeps null-handling semantics: null event_type rows dropped") {
    val dir = tempDir("graft_a13_")
    val typed = (0 until 3000).map { i =>
      (s"type_${i % 1200}", (i % 1200).toDouble)
    }
    // null-typed rows with wild values must not perturb the metrics
    val nulled = Seq.fill(50)((null.asInstanceOf[String], 1e9))
    (typed ++ nulled).toDF("event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val row = runA13(dir).head()
    assert(row.getDouble(0) == 0.0, s"null rows leaked into fallback scoring: $row")
  }
}

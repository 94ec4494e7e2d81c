package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SinksSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String = {
    val path = tempDir("graft_sink_") + "/t"
    Seq((1L, "u1", "a", 10.0), (2L, "u1", "b", 20.0), (3L, "u2", "c", 30.0))
      .toDF("id", "user_id", "name", "amount")
      .write.parquet(path)
    path
  }

  test("insertRows appends") {
    val path = freshTable()
    Sinks.insertRows(spark, path,
      Seq((4L, "u2", "d", 40.0)).toDF("id", "user_id", "name", "amount"))
    assert(spark.read.parquet(path).count() == 4)
  }

  test("updateWhere rewrites only matching rows") {
    val path = freshTable()
    Sinks.updateWhere(spark, path, $"user_id" === "u1",
      Map("amount" -> ($"amount" * 2)))
    val amounts = spark.read.parquet(path).select("id", "amount")
      .as[(Long, Double)].collect().toMap
    assert(amounts == Map(1L -> 20.0, 2L -> 40.0, 3L -> 30.0))
  }

  test("deleteWhere with ownership predicate (J4 semantics)") {
    val path = freshTable()
    // delete id=3 only if owned by u1 → no-op
    Sinks.deleteWhere(spark, path, $"id" === 3 && $"user_id" === "u1")
    assert(spark.read.parquet(path).count() == 3)
    // correct owner → deleted
    Sinks.deleteWhere(spark, path, $"id" === 3 && $"user_id" === "u2")
    assert(spark.read.parquet(path).select("id").as[Long].collect().toSet == Set(1L, 2L))
  }
}

package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.BroadcastQueryStageExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.functions._

import graft.operators.VectorIndex
import graft.plans.ScanFiles

/** The profiler reads per-operator metrics from the plan that actually
  * ran, including exchanges that AQE hides inside query stages. */
class ProfileQuerySpec extends SparkSpec {
  import spark.implicits._

  test("unionLength merges overlapping intervals") {
    assert(ProfileQuery.unionLength(Nil) == 0L)
    assert(ProfileQuery.unionLength(Seq((20L, 25L), (0L, 10L), (5L, 15L), (6L, 7L))) == 20L)
  }

  test("broadcast join: exchange found through the AQE query stage, scans count their rows") {
    val dir = tempDir("graft_profile_")
    spark.range(1000).select($"id".as("k"), ($"id" * 2).as("v"))
      .write.parquet(s"$dir/big")
    spark.range(10).select(($"id" * 3).as("k"), concat(lit("t"), $"id").as("tag"))
      .write.parquet(s"$dir/small")
    val rep = ProfileQuery.measure(spark) {
      val big = spark.read.parquet(s"$dir/big")
      val small = spark.read.parquet(s"$dir/small")
      big.join(broadcast(small), "k").groupBy("tag").agg(sum("v"))
    }
    val ops = ProfileQuery.operators(rep.plan)
    val shown = ProfileQuery.render(rep.plan)
    val i = ops.indexWhere(_._2.isInstanceOf[BroadcastExchangeExec])
    assert(i > 0, shown)
    assert(ops(i - 1)._2.isInstanceOf[BroadcastQueryStageExec], shown)
    assert(ops(i - 1)._1 == ops(i)._1 - 1, shown)
    val bcast = ops(i)._2
    assert(bcast.metrics("buildTime").value >= 0, shown)
    assert(bcast.metrics("numOutputRows").value == 10L, shown)
    val scanRows = ops.collect { case (_, s: FileSourceScanExec) =>
      s.metrics("numOutputRows").value }
    assert(scanRows.sorted == Seq(10L, 1000L), shown)
    assert(rep.jobs >= 1 && rep.stages >= rep.jobs && rep.tasks >= rep.stages)
    assert(rep.constructSec <= rep.wallSec)
    // job times are millisecond wall-clock stamps
    assert(rep.jobUnionSec > 0 && rep.jobUnionSec <= rep.wallSec + 0.01)
  }

  test("IVF probe over the partitioned index: the scan reads only the probed directories' files") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val query = emb.filter($"vec_id" === 0).select("embedding").head
      .getSeq[Float](0).toArray
    val model = VectorIndex.train(emb, "embedding", k = 16)
    val path = tempDir("graft_profile_ivf_")
    VectorIndex.buildAndWrite(emb.filter($"vec_id" =!= 0), "embedding", model, path)
    val back = spark.read.parquet(path)
    val rep = ProfileQuery.measure(spark)(VectorIndex.searchApprox(back, model,
      "vec_id", "embedding", query, k = 5, nprobe = 2))
    val shown = ProfileQuery.render(rep.plan)
    val scans = ProfileQuery.operators(rep.plan).collect {
      case (_, s: FileSourceScanExec) => s }
    assert(scans.size == 1, shown)
    val probed = ScanFiles.under(path, model.ranked(query).take(2))
    assert(scans.head.metrics("numFiles").value == probed.size, shown)
    val clusters = new java.io.File(path).listFiles().count(_.getName.startsWith("cluster="))
    assert(shown.contains(s"partitions=2/$clusters"), shown)
  }
}

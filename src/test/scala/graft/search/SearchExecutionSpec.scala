package graft.search

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkEnv
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted,
  SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.{Sessions, SparkSpec}
import graft.ingest.Ingest
import graft.plans.TopKTailExec

/** How a search over a cached index runs: `collect()` is one stage of
  * one task per index partition (a partial top-k per task, merged on
  * the driver, the stage run there), and a task carries a shuffle
  * partition's spec, not the source rows the index was built from. */
class SearchExecutionSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** 5,000 documents of about 300 characters each, in 8 partitions of
    * a parallelized collection. */
  private lazy val docs: DataFrame = {
    val rows = (1 to 5000).map { i =>
      val body = s"Document $i covers topic ${i % 37} and the retrieval of passages. " * 5
      Row(i.toLong, s"title ${i % 211}", body)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 8), StructType(Seq(
      StructField("id", LongType), StructField("title", StringType), StructField("body", StringType))))
  }

  private lazy val index: DataFrame = {
    val ix = Ingest.buildIndex(docs, Ingest.inferSchema(docs.columns.toSeq), "docs", dim = 64).cache()
    ix.count()
    ix
  }

  private def search(): DataFrame =
    SearchPipeline.search(index, "retrieval of passages for topic 5", topK = 5,
      margin = 1.0, simFloor = 0.0, dim = 64)

  /** Jobs, stages and tasks that `body` runs. */
  private def counted[T](body: => T): (T, Int, Int, Int) = {
    val (jobs, stages, tasks) = (new AtomicInteger, new AtomicInteger, new AtomicInteger)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = stages.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks.incrementAndGet()
    }
    Sessions.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      Sessions.drainListenerBus(spark)
      (out, jobs.get, stages.get, tasks.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private lazy val indexPartitions = index.queryExecution.executedPlan.execute().partitions

  test("collect() over a cached index: one job, one stage, one task per index partition") {
    val partitions = indexPartitions.length
    val (rows, jobs, stages, tasks) = counted(search().collect())
    assert(rows.nonEmpty)
    assert((jobs, stages, tasks) == (1, 1, partitions))
  }

  test("a plan above the stage takes the two-stage form and returns the same rows") {
    val (collected, partitions) = (search().collect().toSeq, indexPartitions.length)
    val (limited, jobs, stages, tasks) = counted(search().limit(1000).collect().toSeq)
    assert((jobs, stages, tasks) == (1, 2, partitions + 1))
    assert(limited == collected)
    // map entry order included
    assert(limited.map(_.getMap[String, String](5).toSeq) == collected.map(_.getMap[String, String](5).toSeq))
  }

  test("a projection of the stage's columns runs the one-stage collect and returns those columns") {
    val full = search().collect().toSeq
    val pruned = search().select("marker", "oo")
    assert(pruned.collect().toSeq.map(r => (r.getString(0), r.getString(1))) ==
      full.map(r => (r.getAs[String]("marker"), r.getAs[String]("oo"))))
    val plan = pruned.queryExecution.executedPlan
    assert(find(plan)(_.isInstanceOf[TopKTailExec]).nonEmpty, plan.toString)
  }

  test("a cached index's scan partitions do not carry the source rows") {
    val ser = SparkEnv.get.closureSerializer.newInstance()
    val sizes = indexPartitions.map(p => ser.serialize(p).limit())
    assert(sizes.nonEmpty && sizes.forall(_ < 4096), sizes.mkString(", "))
  }
}

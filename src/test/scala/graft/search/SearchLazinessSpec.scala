package graft.search

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.window.WindowExec

import graft.{Sessions, SparkSpec}
import graft.fixtures.Fixtures
import graft.ingest.Ingest

/** `search` is a plan over the index scan, not a result: building it
  * runs no job, it reports the index's files as its input (a reader's
  * freshness check reads `inputFiles`), and what runs has neither a
  * window nor a per-request UDF. */
class SearchLazinessSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  test("search over a parquet index is lazy, reads the index's files, runs no Window or ScalaUDF") {
    val dir = tempDir("graft_lazy_") + "/index"
    val k = Fixtures.knowledge(spark)
    Ingest.buildIndex(k, Ingest.inferSchema(k.columns.toSeq), "knowledge", dim = 64)
      .write.partitionBy("save_name").parquet(dir)
    val index = spark.read.parquet(dir)
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    Sessions.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    val kept =
      try {
        val df = SearchPipeline.search(index, "FAISS가 뭐야?", topK = 3,
          margin = 1.0, simFloor = 0.0, dim = 64)
        Sessions.drainListenerBus(spark)
        assert(jobs.get == 0, s"building the search started ${jobs.get} jobs")
        df
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(kept.inputFiles.toSeq.sorted == index.inputFiles.toSeq.sorted)
    assert(kept.inputFiles.nonEmpty)
    assert(kept.collect().nonEmpty)
    val plan = kept.queryExecution.executedPlan
    assert(collectWithSubqueries(plan) { case w: WindowExec => w }.isEmpty, plan.toString)
    val udfs = collectWithSubqueries(plan) { case p => p }
      .flatMap(_.expressions.flatMap(_.collect { case u: ScalaUDF => u }))
    assert(udfs.isEmpty, plan.toString)
  }
}

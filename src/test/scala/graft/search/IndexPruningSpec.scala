package graft.search

import graft.SparkSpec
import graft.fixtures.Fixtures
import graft.ingest.Ingest
import org.apache.spark.sql.functions._

/** Evidence for the claim in SearchPipeline's docs: with the index
  * partitioned by save_name, a per-collection query is partition
  * pruning, not a scan of other collections. */
class IndexPruningSpec extends SparkSpec {

  test("save_name filter prunes partitions in the physical scan") {
    val dir = tempDir("graft_pr_")
    val k = Fixtures.knowledge(spark)
    val schema = Ingest.inferSchema(k.columns.toSeq)
    Seq("col_a", "col_b").foreach { name =>
      Ingest.buildIndex(k, schema, name, dim = 32)
        .write.mode("append").partitionBy("save_name").parquet(dir)
    }
    val idx = spark.read.parquet(dir)
    val q = idx.filter(col("save_name") === "col_a")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("save_name"), plan.take(1500))
    assert(q.count() == 7)
    // and the searched collection only sees its own chunks
    val kept = SearchPipeline.search(q, "FAISS가 뭐야?", topK = 3,
      margin = 1.0, simFloor = 0.0, dim = 32)
    assert(kept.count() <= 3)
  }
}

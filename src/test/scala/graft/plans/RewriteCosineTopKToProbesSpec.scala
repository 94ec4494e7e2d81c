package graft.plans

import graft.SparkSpec
import graft.functions.VectorFunctions.cosineFast
import graft.operators.VectorIndex
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The ANN auto-swap (SURVEY §4): a registered cluster-partitioned
  * table answers `ORDER BY cosine DESC LIMIT k` by probing — the rule
  * must inject the cluster predicate (→ partition pruning at the
  * scan), produce exactly searchApprox's results, and never fire
  * without registration (in this session) or over an explicit cluster
  * predicate. */
class RewriteCosineTopKToProbesSpec extends SparkSpec {

  private lazy val dim = 8
  private lazy val (indexPath, model) = {
    import spark.implicits._
    val corpus = spark.range(200)
      .select(col("id").as("vec_id"),
        graft.ingest.HashEmbedder.embedUdf(dim)(
          concat(lit("doc "), col("id"))).as("embedding"))
    val m = VectorIndex.train(corpus.toDF(), "embedding", k = 4, maxIter = 10)
    val dir = tempDir("graft_swapspec_")
    VectorIndex.buildAndWrite(corpus.toDF(), "embedding", m, dir)
    graft.EngineState.of(spark).registerIndex(dir, m, nprobe = 2)
    (dir, m)
  }
  private lazy val q = graft.ingest.HashEmbedder.embed("doc 7", dim)

  private def topk(df: DataFrame): DataFrame =
    df.select(col("vec_id"), cosineFast(col("embedding"), lit(q)).as("score"))
      .orderBy(desc("score"), col("vec_id")).limit(5)

  /** The injected probe predicate, as the plan prints it. */
  private val probePred = "array_contains\\(\\[[0-9, ]*\\], cluster#".r
  private def probed(plan: String): Boolean = probePred.findFirstIn(plan).isDefined

  test("registered table: probe filter injected and partition-pruned") {
    val df = topk(spark.read.parquet(indexPath))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(probed(optimized), optimized)
    // the scan lists exactly the nprobe = 2 nearest clusters' files
    val probes = model.ranked(q).take(2)
    assert(ScanFiles.read(df) == ScanFiles.under(indexPath, probes))
    val physical = df.queryExecution.executedPlan.toString
    assert(s"PartitionFilters: \\[[^\\n]*${probePred.regex}".r
      .findFirstIn(physical).isDefined, physical)
  }

  test("swap result equals searchApprox exactly (outer projection shape)") {
    import spark.implicits._
    val idx = spark.read.parquet(indexPath)
    // the trailing select reproduces the pruning-inserted Project
    // between the limit and the sort that hid the round-6 near-miss
    val swapped = topk(idx).select("vec_id")
    assert(probed(swapped.queryExecution.optimizedPlan.toString),
      swapped.queryExecution.optimizedPlan.toString)
    val viaSwap = swapped.as[Long].collect().toSeq
    val viaApi = VectorIndex.searchApprox(idx, model, "vec_id", "embedding",
        q, 5, 2).select("vec_id").as[Long].collect().toSeq
    assert(viaSwap == viaApi)
  }

  test("no registration, no swap: unregistered copy returns exact top-k") {
    import spark.implicits._
    val plain = spark.read.parquet(indexPath)
    val copy = tempDir("graft_swapspec_un_")
    plain.write.mode("overwrite").partitionBy("cluster").parquet(copy)
    val df = topk(spark.read.parquet(copy))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!probed(optimized) && !optimized.contains("Filter"), optimized)
    // the baseline reads the registered index where it is not registered
    val baseline = spark.newSession().read.parquet(indexPath)
      .select(col("vec_id"), cosineFast(col("embedding"), lit(q)).as("s"))
      .orderBy(desc("s"), col("vec_id")).limit(5)
    assert(!probed(baseline.queryExecution.optimizedPlan.toString))
    val exact = baseline.select("vec_id").as[Long].collect().toSeq
    assert(df.select("vec_id").as[Long].collect().toSeq == exact)
    // every cluster directory is read
    assert(ScanFiles.read(df) == ScanFiles.under(copy, 0 until 4))
  }

  test("an explicit cluster predicate blocks the swap") {
    val df = topk(spark.read.parquet(indexPath).filter(col("cluster") === 0))
    val optimized = df.queryExecution.optimizedPlan.toString
    // the user's own equality survives; no probe filter is stacked
    assert(!probed(optimized) && optimized.contains("(cluster#"), optimized)
    assert(ScanFiles.read(df) == ScanFiles.under(indexPath, Seq(0)))
  }

  test("a registration is per session: a newSession() does not swap") {
    import spark.implicits._
    val other = spark.newSession()
    val df = topk(other.read.parquet(indexPath))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!probed(optimized), optimized)
    // and still answers exactly (top 5 of all scores, sorted on the
    // driver), over every cluster directory
    val exact = other.read.parquet(indexPath)
      .select(col("vec_id"), cosineFast(col("embedding"), lit(q)).as("s"))
      .as[(Long, Double)].collect().toSeq
      .sortBy { case (id, sc) => (-sc, id) }.take(5).map(_._1)
    assert(df.select("vec_id").as[Long].collect().toSeq == exact)
    assert(ScanFiles.read(df) == ScanFiles.under(indexPath, 0 until 4))
    // the registering session still swaps
    assert(probed(topk(spark.read.parquet(indexPath)).queryExecution.optimizedPlan.toString))
  }

  test("ascending order never swaps (probing nearest clusters would be wrong)") {
    val df = spark.read.parquet(indexPath)
      .select(col("vec_id"), cosineFast(col("embedding"), lit(q)).as("score"))
      .orderBy(asc("score"), col("vec_id")).limit(5)
    assert(!probed(df.queryExecution.optimizedPlan.toString),
      df.queryExecution.optimizedPlan.toString)
  }
}

package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.plans.{CosineSimilarity, DotProduct, L2Distance, RewriteCosineTopKToProbes, RewriteHofCosine,
  TopKTailCollect}

/** Single place for the engine's session config so Verify, Bench and
  * tests agree: UTC (hash parity with the DuckDB oracle), shuffle
  * partitions = cores (local[32] — never the 200 default), AQE on
  * (runtime skew/coalesce at scale), and the nanos-as-long legacy flag
  * required to read the testdata's TIMESTAMP(NANOS) parquet columns
  * (converted back to TimestampType in [[Tables.load]]). */
object Sessions {

  /** Engine extensions: native codegen expressions registered into the
    * function registry (callable from SQL and via `call_function`), the
    * two optimizer rules, and the top-k stage's one-stage collect
    * ([[TopKTailCollect]]). */
  val extensions: SparkSessionExtensions => Unit = { ext =>
    ext.injectFunction((
      FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine"),
      (children: Seq[Expression]) => CosineSimilarity(children.head, children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (children: Seq[Expression]) => DotProduct(children.head, children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_l2dist"),
      new ExpressionInfo(classOf[L2Distance].getName, "graft_l2dist"),
      (children: Seq[Expression]) => L2Distance(children.head, children(1))))
    ext.injectOptimizerRule(_ => RewriteHofCosine)
    ext.injectOptimizerRule(RewriteCosineTopKToProbes(_))
    ext.injectColumnar(_ => TopKTailCollect)
  }

  /** Spark's codegen cache size (`spark.sql.codegen.cache.maxEntries`,
    * default 100). One full `graft.Verify` pass over all 130 queries at
    * sf0.01, with the cache unbounded, compiles 1,063 distinct classes,
    * which hold about 30 KB of heap each. At 100 entries the cache
    * evicts classes a later query needs again, so a repeated query or
    * search request pays Janino and JIT compiles for code it already
    * had. The constant is that working set plus about 40 % headroom.
    * It is a static conf: Spark reads it once per JVM, when the code
    * generator first initializes, so the first session that generates
    * code fixes it for the process. */
  private val CodegenCacheEntries = 1500L

  /** Waits until the async listener bus has delivered every event
    * posted so far, so a SparkListener's counters are complete once an
    * action has returned (Spark posts a job's end event before the
    * action returns). Fails with a TimeoutException rather than
    * reading partial counters. */
  def drainListenerBus(spark: SparkSession, timeoutMillis: Long = 10000L): Unit =
    org.apache.spark.graftbridge.ListenerBusBridge
      .waitUntilEmpty(spark.sparkContext, timeoutMillis)

  def local(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(extensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // read INT64 TIMESTAMP(MICROS, isAdjustedToUTC=false) parquet
      // columns (the DuckDB/pyarrow-written testdata layout) directly
      // as TimestampType instead of TIMESTAMP_NTZ: the session is
      // pinned UTC, so the values are identical, and this removes the
      // per-row NTZ→timestamp Cast projection [[Tables.load]] had to
      // insert on every events scan (r17 ProfileQuery priced the
      // NTZ→timestamp→date double cast at ~0.4-0.5 s per 100 M rows —
      // most of the events-family x1000 weak-set tails). The
      // downstream DataFrame schema is unchanged (Tables.load already
      // cast to TimestampType); only the cast's per-row cost goes.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // Spark 4 whitelists CSV charsets; the reference's fruit CSVs
      // are cp949 (S4), which needs the full JVM charset set
      .config("spark.sql.legacy.javaCharsets", "true")
      // AQE stays ON (runtime skew/coalesce is the 100 TB posture)
      .config("spark.sql.adaptive.enabled", "true")
      // coalesce post-shuffle partitions by SIZE, not parallelism:
      // sub-100-row shuffle outputs collapse to one partition instead
      // of scheduling 32 near-empty tasks per stage — the fixed-cost
      // tax the round-2 bench audit flagged. At scale partitions are
      // advisory-size-bound anyway, so this only removes empty tasks.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      // scan-split sizing (the "size maxPartitionBytes to the target
      // SF" rule): DuckDB-written single files at the GB scale points
      // are ~1-2 GB — the 128 MB default yields 8-16 scan tasks on 32
      // cores, serializing every fact scan. 32 MB keeps scans at or
      // above core count from ~1 GB of input up; at sf0.1 files are
      // smaller than one split either way, so nothing changes there.
      .config("spark.sql.files.maxPartitionBytes", "33554432")
      // open-cost floors the split size on SMALL inputs: with the 4 MB
      // default, a highly-compressed 4.5 MB / 25-row-group text table
      // scans as 1-2 tasks and every per-row pipeline above it runs
      // near-serial. 128 KB lets such scans split down to row-group
      // granularity; at real scale bytesPerCore ≥ maxPartitionBytes so
      // this floor never engages.
      .config("spark.sql.files.openCostInBytes", "131072")
      // minPartitionNum feeds Spark's maxSplitBytes formula
      // (min(maxPartitionBytes, max(openCost, totalBytes/minPartitionNum))).
      // A/B'd at the 100x point (1.1 GB fact → 36/64/96 splits): the
      // hypothesis that the 4-task second wave doubles scan-bound
      // walls is FALSE — a6_pricing_summary min-of-3 is 0.96/1.04/0.96 s
      // across 32/64/96 and finer splits regress a9_longest_run
      // 0.47→0.69 s (per-task row-group open cost). Scan-bound walls
      // here are parquet-decode-bound, so it stays =cores (the
      // session's actual cpu count, not a literal — r12 advisory).
      .config("spark.sql.files.minPartitionNum", cpus)
      // shuffle joins: build a hash table instead of sorting both
      // sides when one side is small enough (Spark still requires the
      // size asymmetry before it picks SHJ, and AQE can re-plan).
      // Sorting 10⁷-row fact shuffles dominated q3-shape joins at the
      // 100× scale point; the aggregate after the join never needed
      // the sort order.
      .config("spark.sql.join.preferSortMergeJoin", "false")
      // autoBroadcastJoinThreshold stays at the 10 MB DEFAULT: a
      // 64 MB static threshold was tried (r7) and REGRESSED the
      // 170 MB scale point ~50% on the sequential pass — static
      // size estimates made every mid-size dim a serial driver-side
      // hash-relation build, while the shuffle it replaced was
      // already cheap on 32 local cores. AQE converts joins to
      // broadcast from RUNTIME sizes post-materialization, which is
      // the right mechanism for "broadcast it when it actually fits".
      // concurrent-suite fairness: FIFO lets one query's wide stage
      // block every other submitted query's tiny tasks; FAIR interleaves
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.util.QueryExecutionListener

/** Query profiler: times named SparkEntry queries on SPARK_GRAFT_SF_DIR
  * through the same noop sink Bench uses, SPARK_GRAFT_REPS reps each
  * (default 3) after a generic warmup, on SPARK_GRAFT_CPUS cores.
  * Usage: sbt "runMain graft.ProfileQuery q1 q2 ..."
  *
  * Per rep it prints the wall (DataFrame construction included),
  * construction time, Spark jobs, the union of the job intervals,
  * stages and tasks. Construction is timed on its own because the
  * scan-fused joins (bitmapSemiJoin, denseLookupJoin) build and
  * broadcast their dense arrays at construction.
  * `wall - job_union` is driver-only time: planning, eager builds
  * between jobs, broadcast collect/build, commit. On the last rep it
  * prints the executed plan with every operator's non-zero SQL metrics.
  */
object ProfileQuery {

  /** One measured run. `plan` is the physical plan of the write that
    * actually executed, as reported to a QueryExecutionListener. */
  final case class Rep(wallSec: Double, constructSec: Double, jobs: Int,
                       jobUnionSec: Double, stages: Int, tasks: Int, plan: SparkPlan)

  /** Total time covered by the union of `[start, end]` intervals, in
    * the intervals' unit. Jobs overlap when broadcast stages run
    * async, so the union, not the sum, is the cluster-busy time. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var hi = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > hi) { covered += e - s; hi = e }
      else if (e > hi) { covered += e - hi; hi = e }
    }
    covered
  }

  /** Runs `mk` into the noop sink once; the timer starts before
    * construction. */
  def measure(spark: SparkSession)(mk: => DataFrame): Rep = {
    val jobs = new ConcurrentHashMap[Int, (Long, Long)]()
    val stages, tasks = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.put(j.jobId, (j.time, -1L))
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        jobs.computeIfPresent(j.jobId, (_, v) => (v._1, j.time))
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        tasks.incrementAndGet()
    }
    // the write is the rep's last action, so the last finished
    // execution is the plan that ran
    val executed = new AtomicReference[QueryExecution]
    val qeListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        executed.set(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    try {
      val t0 = System.nanoTime()
      val df = mk
      val constructSec = (System.nanoTime() - t0) / 1e9
      df.write.mode("overwrite").format("noop").save()
      val wallSec = (System.nanoTime() - t0) / 1e9
      Sessions.drainListenerBus(spark)
      val ended = jobs.values.asScala.toSeq.filter(_._2 >= 0)
      val qe = Option(executed.get).getOrElse(
        sys.error("no finished query execution was reported for the write"))
      Rep(wallSec, constructSec, jobs.size, unionLength(ended) / 1e3,
        stages.get, tasks.get, qe.executedPlan)
    } finally {
      spark.listenerManager.unregister(qeListener)
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  /** Every operator of an executed plan with its depth, depth-first.
    * Descends into AQE's final plan, into query stages and reused
    * exchanges (whose executed exchange is a field, not a child), and
    * into subqueries, so broadcast and shuffle exchanges appear with
    * the metrics they collected at run time. */
  def operators(plan: SparkPlan): Seq[(Int, SparkPlan)] = {
    def walk(p: SparkPlan, depth: Int): Seq[(Int, SparkPlan)] = {
      val inner = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case r: ReusedExchangeExec => Seq(r.child)
        case other => other.children
      }
      (depth, p) +: (inner ++ p.subqueries).flatMap(walk(_, depth + 1))
    }
    walk(plan, 0)
  }

  private def show(m: SQLMetric): String = m.metricType match {
    case "timing" => s"${m.value} ms"
    case "nsTiming" => f"${m.value / 1e6}%.1f ms"
    case "size" => s"${m.value} B"
    case _ => m.value.toString
  }

  /** One line per operator: its description (cut to 120 chars) and
    * non-zero metrics; a partitioned file scan also shows partitions
    * read of total. */
  def render(plan: SparkPlan): String =
    operators(plan).map { case (depth, p) =>
      val desc = p.simpleString(4)
      val metrics = p.metrics.toSeq.sortBy(_._1).collect {
        case (k, m) if m.value > 0 => s"$k=${show(m)}"
      }
      val partitions = p match {
        case s: FileSourceScanExec if s.relation.partitionSchema.nonEmpty =>
          s.metrics.get("numPartitions").map(read => s" partitions=${read.value}/" +
            s.relation.location.listFiles(Nil, Nil).size).getOrElse("")
        case _ => ""
      }
      "  " * depth + (if (desc.length <= 120) desc else desc.take(117) + "...") + partitions +
        (if (metrics.isEmpty) "" else metrics.mkString(" [", ", ", "]"))
    }.mkString("\n")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.range(100000).agg(org.apache.spark.sql.functions.sum("id")).collect()
    val names = if (args.nonEmpty) args.toSeq else Seq("a13_metrics", "approx_distinct")
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name"))
      val runs = (1 to reps).map { i =>
        val r = measure(spark)(fn(spark, sfDir))
        println(f"[profile] $name rep$i: wall=${r.wallSec}%.3f s " +
          f"construct=${r.constructSec}%.3f s jobs=${r.jobs} " +
          f"job_union=${r.jobUnionSec}%.3f s stages=${r.stages} tasks=${r.tasks}")
        r
      }
      val times = runs.map(_.wallSec).sorted
      println(f"[profile] $name min=${times.head}%.3f median=${times(reps / 2)}%.3f")
      println(s"[plan] $name\n${render(runs.last.plan)}")
    }
    spark.stop()
  }
}

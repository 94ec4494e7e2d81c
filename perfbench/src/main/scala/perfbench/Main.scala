package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files => JFiles, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark entry point (launched by run.py from the compiled
  * classpath). One JVM runs one workload:
  *
  *   perfbench.Main --workload <rag_search|catalog>
  *     --seed <n> --seconds <s> --trace <0|1> --work <dir> --out <file>
  *     --data <sf dir> --pins <pins tsv> --oracle-sql <file>
  *   perfbench.Main --pin <dataDir> <outDir>
  *
  * The result (correct/attempted/failed/metrics) is written to --out;
  * sizing notes, per-op counters and spans go next to it. The engine's
  * oracle SQL (DuckDB's drift control) is written to --oracle-sql. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: String, out: String, extra: Map[String, String])

  def main(argv: Array[String]): Unit = {
    if (argv.headOption.contains("--pin")) {
      val spark = session()
      try Catalog.pin(spark, argv(1), argv(2)) finally spark.stop()
      return
    }
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
      kv.getOrElse("trace", "0") == "1", kv("work"), kv("out"), kv)
    JFiles.writeString(Paths.get(kv("oracle-sql")), graft.Verify.oracleSqlJson)
    val t0 = System.nanoTime()
    val spark = session()
    val ctx = new Ctx(spark, a, t0)
    ctx.note("setup.session_s", ctx.elapsedS)
    val res =
      try a.workload match {
        case "rag_search" => RagSearch.run(ctx)
        case "catalog" => Catalog.run(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      } finally ctx.finish()
    spark.stop()
    JFiles.writeString(Paths.get(a.out), res.json)
  }

  def cpus: Int = Runtime.getRuntime.availableProcessors()

  /** The engine's own session config, at local[nproc]. */
  def session(): SparkSession = graft.Sessions.local(cpus.toString)
}

/** Outcome of one run. */
final case class Result(attempted: Long, failed: Long, metrics: Seq[(String, Double)]) {
  /** Metric units and order come from BENCHMARK.json; run.py adds them. */
  def json: String = {
    val ms = metrics.map { case (n, v) => s"${Json.str(n)}: ${Json.num(v)}" }
    s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}

/** Per-run context: session, tracing, listener, notes. */
final class Ctx(val spark: SparkSession, val args: Main.Args, val startNs: Long) {
  val trace = new Trace(args.trace)
  val counters = new OpCounters
  private val notes = mutable.LinkedHashMap.empty[String, String]
  private val opRecords = mutable.ArrayBuffer.empty[String]
  private var listening = false

  def nproc: Int = Main.cpus
  def seed: Long = args.seed
  def workDir(name: String): String = {
    val d = s"${args.work}/$name"
    Files.delete(d)
    new java.io.File(d).mkdirs()
    d
  }

  def note(k: String, v: Any): Unit = synchronized { notes(k) = v.toString }

  /** Notes a latency sample's count, median and supported tail
    * percentile under `<name>_p50_ms`, `<name>_p<q>_ms`. */
  def noteLatency(name: String, xs: Seq[Double]): Unit = {
    note(s"$name.samples", xs.size)
    if (xs.nonEmpty) note(s"${name}_p50_ms", Stats.median(xs))
    Stats.tail(xs).foreach { case (p, v) => note(s"${name}_p${p}_ms", v) }
  }

  def listen(on: Boolean): Unit = synchronized {
    if (on && !listening) spark.sparkContext.addSparkListener(counters)
    if (!on && listening) spark.sparkContext.removeSparkListener(counters)
    listening = on
  }

  /** Runs `body` under job group `op` (so the listener can attribute
    * its jobs) and as the trace's current operation. */
  def op[T](op: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(op, op, interruptOnCancel = false)
    try trace.withOp(op)(body) finally sc.clearJobGroup()
  }

  def elapsedS: Double = (System.nanoTime() - startNs) / 1e9

  /** CPU seconds this JVM has used (all threads). It leaves out time
    * the host steals from a virtual machine, so it drifts less than wall
    * time between runs. */
  def cpuS: Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Runs one set-up phase and notes its wall as `setup.<name>_s`. */
  def phase[T](name: String)(body: => T): T = {
    val (r, s) = Spark.timeS(body)
    note(s"setup.${name}_s", s)
    r
  }

  /** Heap still in use after a full GC, in MB. */
  def heapRetainedMb(): Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def heapMaxMb: Double = Runtime.getRuntime.maxMemory() / 1048576.0

  /** Listener counters of every recorded operation, one JSON line each,
    * with a flag per op kind saying whether its job/stage/task counts
    * repeated exactly across its operations; returns their means. */
  def recordOps(kind: String, ops: Seq[String]): Map[String, Double] = {
    counters.drain()
    val cs = ops.flatMap(o => counters.get(o).map(o -> _))
    cs.foreach { case (o, c) =>
      opRecords += s"""{"kind":${Json.str(kind)},"op":${Json.str(o)},""" +
        c.fields.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString(",") + "}"
    }
    if (cs.isEmpty) return Map.empty
    if (cs.size > 1) {
      val shapes = cs.map { case (_, c) => (c.jobs, c.stages, c.tasks) }.distinct
      note(s"$kind.counts_exact", shapes.size == 1)
      note(s"$kind.ops_counted", cs.size)
    }
    val n = cs.size.toDouble
    Map("jobs" -> cs.map(_._2.jobs).sum / n, "stages" -> cs.map(_._2.stages).sum / n,
      "tasks" -> cs.map(_._2.tasks).sum / n, "run_ms" -> cs.map(_._2.runMs).sum / n,
      "cpu_ms" -> cs.map(_._2.cpuNs).sum / n / 1e6, "gc_ms" -> cs.map(_._2.gcMs).sum / n,
      "input_bytes" -> cs.map(_._2.inputBytes).sum / n,
      "shuffle_write_bytes" -> cs.map(_._2.shuffleWrite).sum / n,
      "spill_bytes" -> cs.map(_._2.spill).sum / n,
      "output_bytes" -> cs.map(_._2.outputBytes).sum / n,
      "records_out" -> cs.map(_._2.recordsOut).sum / n)
  }

  /** Writes notes, per-op counters and spans next to the result file. */
  def finish(): Unit = {
    val base = args.out.stripSuffix(".json")
    val selfT = trace.selfTimesMs.toSeq.sortBy(-_._2)
      .map { case (k, v) => s"${Json.str(k)}: ${Json.num(v)}" }
    val ns = notes.toSeq.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }
    JFiles.writeString(Paths.get(base + ".notes.json"),
      s"{${ns.mkString(",\n ")},\n ${Json.str("span_self_ms")}: {${selfT.mkString(", ")}}}\n")
    if (opRecords.nonEmpty)
      JFiles.writeString(Paths.get(base + ".ops.jsonl"), opRecords.mkString("", "\n", "\n"))
    if (args.trace) trace.writeJsonl(base + ".spans.jsonl")
  }
}

object Stats {
  /** Percentile by linear interpolation between closest ranks. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val r = p / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** The highest whole percentile with at least ten samples beyond it,
    * with its value; None below twenty samples. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    if (xs.size < 20) None
    else { val p = 100 * (xs.size - 10) / xs.size; Some(p -> pct(xs, p)) }
  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

object Json {
  def str(s: String): String = graft.Verify.jsonQuote(s)
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
}

/** Materialisation helpers shared by the workloads. */
object Spark {
  /** Runs the full plan into Spark's no-op sink. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Reads and decodes every column of `df` (a hash per row, the max kept). */
  def readAll(df: DataFrame): Unit = {
    import org.apache.spark.sql.functions.{col, max, xxhash64}
    df.select(xxhash64(df.columns.map(col): _*).as("h")).agg(max("h")).collect()
  }

  def timeS[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

package perfbench

import java.nio.file.{Files => JFiles, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import org.apache.spark.metrics.source.CodegenMetrics

import graft.{SparkEntry, Tables}

/** `catalog`: the batch engine. One client runs the pinned timed
  * subset of `SparkEntry.queries` (one query per family, marked in
  * `pins/catalog.tsv`) over the sf0.1
  * tables into the no-op sink, pass after pass, in a seeded order per
  * pass; a query's time is its median over the run's passes. Set-up
  * runs every timed query once and checks it (each result's
  * order-insensitive hash must equal its pinned hash), then
  * [[WarmPasses]] untimed passes. A traced run also runs the
  * `index_ingest` writer/reader pair for the write path's layer
  * metrics. */
object Catalog {
  val MinPasses = 6
  /** Untimed passes after the checked round: the first single-client
    * pass after it is the slowest while the JIT compiles the queries'
    * hot paths. */
  val WarmPasses = 1

  /** One line of `pins/catalog.tsv` (written by pin.py). */
  final case class Pin(family: String, hash: String, timed: Boolean)

  def loadPins(path: String): Map[String, Pin] =
    JFiles.readAllLines(Paths.get(path)).asScala.toSeq
      .filterNot(l => l.startsWith("#") || l.trim.isEmpty)
      .map(_.split("\t")).map(a => a(0) -> Pin(a(1), a(2), a(5) == "timed")).toMap

  private def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => if (d.isNaN) "NaN" else "%.12g".format(d)
    case f: Float => if (f.isNaN) "NaN" else "%.7g".format(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case x => x.toString
  }

  /** Order-insensitive result hash: schema plus the sorted canonical
    * rows (doubles to 12 significant digits). */
  def resultHash(df: DataFrame, rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    md.update(df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",").getBytes("UTF-8"))
    rows.map(r => r.toSeq.map(canon).mkString("\u0001")).sorted
      .foreach(s => md.update(("\n" + s).getBytes("UTF-8")))
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  /** Writes each query's result (parquet, for the DuckDB cross-check)
    * and, to `out/hashes.tsv`: its hash, whether a second run hashed the
    * same, its row count and the second run's wall in ms. */
  def pin(spark: SparkSession, data: String, out: String): Unit = {
    val lines = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, q) =>
      try {
        val df = q(spark, data)
        val rows = df.collect()
        val h = resultHash(df, rows)
        val (h2, warmS) = Spark.timeS { val d = q(spark, data); resultHash(d, d.collect()) }
        df.coalesce(1).write.mode("overwrite").parquet(s"$out/results/$name")
        f"$name\t$h\t${h == h2}\t${rows.length}\t${warmS * 1000}%.0f"
      } catch { case e: Throwable => s"$name\tERROR\tfalse\t${e.getMessage.take(200).replace('\t', ' ').replace('\n', ' ')}" }
    }
    JFiles.writeString(Paths.get(s"$out/hashes.tsv"), lines.mkString("", "\n", "\n"))
    JFiles.writeString(Paths.get(s"$out/oracle_sql.json"), graft.Verify.oracleSqlJson)
  }

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val tr = ctx.trace
    val data = ctx.args.extra("data")
    val pins = loadPins(ctx.args.extra("pins"))
    val queries = SparkEntry.queries
    // the timed subset; a pinned name the engine no longer registers fails
    val names = pins.filter(_._2.timed).keys.toSeq.sorted
    val attempted = new java.util.concurrent.atomic.AtomicLong(0)
    val failed = new java.util.concurrent.atomic.AtomicLong(0)
    def fail(what: String): Unit = { failed.incrementAndGet(); System.err.println(s"[perfbench] check failed: $what") }
    def order(pass: Int): Seq[String] = {
      val r = Gen.rnd(ctx.seed, 1000 + pass)
      val a = names.toArray
      for (i <- a.indices.reverse) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
      a.toSeq
    }
    def checked(n: String): Unit = {
      attempted.incrementAndGet()
      try {
        val df = queries.getOrElse(n, sys.error("not registered"))(spark, data)
        val h = resultHash(df, df.collect())
        pins.get(n) match {
          case Some(p) if p.hash == h =>
          case Some(p) => fail(s"$n: result hash $h, pinned ${p.hash}")
          case None => fail(s"$n: no pinned hash")
        }
      } catch { case e: Throwable => fail(s"$n: ${e.getMessage}") }
    }
    ctx.note("catalog.queries", s"${names.size} timed of ${queries.size}"); ctx.note("clients", 1)
    ctx.note("catalog.data_mb", Files.sizeOf(data) / 1048576.0)

    // ---- passes: run by one client (set-up's checked round uses nproc)
    val times = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val tracedMs = mutable.Map.empty[String, Double]
    val cpu = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    def pass(p: Int, traced: Boolean, warm: Boolean = false): Double = {
      val t0 = System.nanoTime()
      order(p).foreach { n =>
        attempted.incrementAndGet()
        try {
          val c0 = ctx.cpuS
          val (_, s) = Spark.timeS(
            if (!traced) Spark.noop(queries(n)(spark, data))
            else ctx.op(s"q:$n")(tr.span("catalog.query")(Spark.noop(queries(n)(spark, data)))))
          if (traced) tracedMs(n) = s * 1000
          else if (!warm) {
            times.getOrElseUpdate(n, mutable.ArrayBuffer.empty) += s
            System.err.println(f"[perfbench] catalog pass $p%d $n ${s * 1000}%.0f ms")
            cpu.getOrElseUpdate(n, mutable.ArrayBuffer.empty) += ctx.cpuS - c0
          }
        } catch { case e: Throwable => fail(s"$n: ${e.getMessage}") }
      }
      val w = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] catalog pass $p%d${if (traced) " (traced)" else if (warm) " (warm-up)" else ""}: $w%.2f s")
      w
    }
    // set-up: the checked round runs every timed query once, nproc
    // clients taking them from a shared queue; then one client runs
    // [[WarmPasses]] untimed passes
    val queue = new java.util.concurrent.ConcurrentLinkedQueue[String](order(0).asJava)
    val (_, checkS) = Spark.timeS(RagSearch.parallel(ctx.nproc, (0 until ctx.nproc).map { _ =>
      () => Iterator.continually(queue.poll()).takeWhile(_ != null).foreach(checked)
    }))
    System.err.println(f"[perfbench] catalog set-up checked round: $checkS%.2f s")
    (1 to WarmPasses).foreach(i => pass(-i, traced = false, warm = true))
    val setupS = ctx.elapsedS
    System.err.println(f"[perfbench] catalog set-up (checked round + warm-up): $setupS%.2f s")
    val deadline = System.nanoTime() + (ctx.args.seconds * 1e9).toLong
    // Janino compiles of generated code and JVM JIT time over the measured
    // passes: with more distinct generated classes than Spark's codegen
    // cache holds, every execution compiles its classes again
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val codegen0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val jit0 = jit.getTotalCompilationTime
    var p = 1
    while (p <= MinPasses || System.nanoTime() < deadline) { pass(p, traced = false); p += 1 }
    val passes = p - 1
    val codegenPerPass = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - codegen0).toDouble / passes
    val jitSPerPass = (jit.getTotalCompilationTime - jit0) / 1000.0 / passes
    ctx.note("catalog.passes", passes)
    ctx.note("catalog.codegen_compiles", codegenPerPass)
    ctx.note("catalog.jit_s", jitSPerPass)
    ctx.note("catalog.samples_ms", names.filter(times.contains)
      .map(n => n + ":" + times(n).map(x => f"${x * 1000}%.0f").mkString(",")).mkString(" "))
    val med = names.filter(times.contains).map(n => n -> Stats.median(times(n).toSeq)).toMap
    val wall = med.values.sum
    ctx.note("catalog_wall_s", wall)
    ctx.note("catalog_geomean_ms", Stats.geomean(med.values.map(_ * 1000).toSeq))
    val slow = med.toSeq.sortBy(-_._2).take(10).map { case (n, s) => f"$n=${s * 1000}%.0f" }
    ctx.note("catalog.slowest_ms", slow.mkString(" "))

    val heap = ctx.heapRetainedMb()
    ctx.note("setup_s", setupS); ctx.note("heap_retained_mb", heap)
    val metrics =
      if (!tr.enabled) Seq(
        "setup_s" -> setupS,
        "main_ms" -> 1000 * wall / med.size,
        "side_ms" -> Stats.geomean(med.values.map(_ * 1000).toSeq),
        "cpu_work_s" -> names.filter(cpu.contains).map(n => Stats.median(cpu(n).toSeq)).sum,
        "heap_retained_mb" -> heap)
      else {
        ctx.listen(true)
        pass(p, traced = true)
        // full scans of every table (all columns decoded), each under its
        // own job group
        val scans = Tables.names.filter(t => new java.io.File(s"$data/$t.parquet").exists).map { t =>
          t -> Spark.timeS(ctx.op(s"scan:$t")(tr.span("tables.scan")(Spark.readAll(Tables.load(spark, data, t)))))._2
        }
        // bytes of the files a full scan reads (the listener's input
        // metric undercounts local parquet reads)
        def inputMb(t: String): Double = Tables.load(spark, data, t).inputFiles
          .map(f => new java.io.File(new java.net.URI(f)).length()).sum / 1048576.0
        ctx.counters.drain()
        val qs = names.flatMap(n => ctx.counters.get(s"q:$n"))
        names.foreach(n => ctx.recordOps(s"catalog.$n", Seq(s"q:$n")))
        val jobs = ctx.counters.jobSpans.asScala.toSeq.filter(_._1.startsWith("q:"))
        val jobMs = jobs.map { case (_, a, b) => (b - a) / 1e6 }
        // wall with no job of the query running: query wall minus the
        // union of its job intervals
        val driverS = names.map { n =>
          val iv = jobs.filter(_._1 == s"q:$n").map(j => (j._2, j._3)).sortBy(_._1)
          var covered = 0L; var end = Long.MinValue
          iv.foreach { case (a, b) =>
            if (a > end) { covered += b - a; end = b }
            else if (b > end) { covered += b - end; end = b }
          }
          math.max(0.0, tracedMs.getOrElse(n, 0.0) / 1000 - covered / 1e9)
        }.sum
        val families = Seq("agg", "predicate", "join", "window", "text", "dedup", "vector",
          "timeseries", "streaming", "sources")
        val fam = families.map { f =>
          s"catalog.${f}_s" -> med.filter { case (n, _) => pins.get(n).exists(_.family == f) }.values.sum
        }
        val tracedWall = tracedMs.values.sum
        fam ++ Seq(
          "catalog.jobs" -> qs.map(_.jobs).sum.toDouble,
          "catalog.tasks" -> qs.map(_.tasks).sum.toDouble,
          "catalog.job_floor_ms" -> (if (jobMs.isEmpty) 0.0 else Stats.pct(jobMs, 10)),
          "catalog.driver_s" -> driverS,
          "catalog.shuffle_write_mb" -> qs.map(_.shuffleWrite).sum / 1048576.0,
          "catalog.spill_mb" -> qs.map(_.spill).sum / 1048576.0,
          "catalog.executor_cpu_s" -> qs.map(_.cpuNs).sum / 1e9,
          "catalog.gc_s" -> qs.map(_.gcMs).sum / 1e3,
          "catalog.codegen_compiles" -> codegenPerPass,
          "catalog.jit_s" -> jitSPerPass,
          "tables.scan_s" -> scans.map(_._2).sum,
          "tables.input_mb" -> scans.map(s => inputMb(s._1)).sum,
          "trace.overhead_ms" -> (tracedWall - wall * 1000)
        ) ++ scans.flatMap { case (t, s) =>
          Seq(s"tables.$t.scan_ms" -> s * 1000,
            s"tables.$t.input_mb" -> inputMb(t))
        } ++ {
          // the write path's layers (sinks, dedup, the file-scan reader)
          // come from the index_ingest writer/reader pair, run after the
          // catalog's own measurements; its checks count here too
          val ing = IndexIngest.run(ctx, math.min(ctx.args.seconds, 10))
          attempted.addAndGet(ing.attempted)
          failed.addAndGet(ing.failed)
          ing.metrics
        }
      }
    Result(attempted.get, failed.get, metrics)
  }
}

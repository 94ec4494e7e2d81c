package graft

import java.nio.file.{Files, Paths}
import java.util.Locale

import org.apache.spark.sql.SparkSession

/** Benchmark main: times every SparkEntry query on SPARK_GRAFT_SF_DIR
  * and emits ONE bare JSON line (plus a file copy at
  * SPARK_GRAFT_BENCH_OUT, default BENCH_LOCAL.json, so the driver's
  * parse never depends on sbt log-prefix stripping).
  *
  * Methodology (round-3, per the round-2 audit):
  *  - an UNTIMED generic warmup first (range agg, a tiny scan, a tiny
  *    window) so JVM/codegen/scheduler warmup isn't billed to whichever
  *    query runs first — the DuckDB baseline equally excludes
  *    interpreter+import startup;
  *  - `value` = wall-clock of the CONCURRENT suite run (PAR=8 by
  *    default; longest-first scheduling) — the honest answer to "how
  *    long does the whole suite take on this box";
  *  - then a SEQUENTIAL (PAR=1) pass supplies the per-query seconds —
  *    uncontended, so they are comparable to the DuckDB oracle's
  *    sequential per-query times (JVM warm by then; labeled
  *    `wall_seq_warm_sec`);
  *  - the DuckDB oracle suite itself is timed in-process (driver-side
  *    python + duckdb, `scripts/bench_oracle.py`) and the ratio is
  *    emitted in the artifact — self-adjudicating, no prose numbers;
  *  - failed queries are recorded as `"name": -1` in `errors`, never
  *    silently timed as successes.
  */
object Bench {

  /** One timed query run: wall seconds plus the JVM-global GC and JIT
    * time that elapsed during it. Under PAR=1 the deltas are
    * attributable to the query; under concurrency they are a shared
    * signal only (disclosed where used). */
  final case class QRun(name: String, sec: Double, ok: Boolean,
                        gcMs: Long, jitMs: Long)

  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  }

  private def jitMillis(): Long = {
    val c = java.lang.management.ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported)
      c.getTotalCompilationTime
    else 0L
  }

  /** Queries excluded from this run via SPARK_GRAFT_EXCLUDE (comma
    * list) — the x1000 sweep point drops the quadratic-oracle and
    * interpreter-bound-oracle queries EXPLICITLY (disclosed in the
    * artifact) instead of letting their DuckDB side run for hours. */
  private val excluded: Set[String] =
    sys.env.get("SPARK_GRAFT_EXCLUDE").map(_.split(",").map(_.trim)
      .filter(_.nonEmpty).toSet).getOrElse(Set.empty)

  /** Positive selection via SPARK_GRAFT_ONLY (comma list): run ONLY
    * these queries — the r19 bigger-than-heap x2000 point measures the
    * heavy family alone (input 2× the 32 GiB heap; the full suite's
    * DuckDB side would run for hours there). Disclosed in-artifact via
    * the `only_queries` key; composes with SPARK_GRAFT_EXCLUDE. */
  private val onlySel: Option[Set[String]] =
    sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim)
      .filter(_.nonEmpty).toSet)

  private def suiteQueries = SparkEntry.queries
    .filterNot(q => excluded(q._1))
    .filter(q => onlySel.forall(_.contains(q._1)))

  /** Keys of the extra-measurement blocks SPARK_GRAFT_SKIP_BLOCKS can
    * skip. The scale sweep skips the scale-independent vector and
    * streaming re-measurements; the artifact discloses the list. */
  val BlockKeys: Set[String] =
    Set("vector", "segmenter_sustained", "streaming_state_sustained", "tail_attribution")

  /** Parses a SPARK_GRAFT_SKIP_BLOCKS value (comma list of block keys).
    * A key that names no block fails the run at start-up: a silently
    * ignored key would leave a script believing it skipped a block. */
  def parseSkipBlocks(spec: Option[String]): Set[String] = {
    val keys = spec.toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty).toSet
    val unknown = keys -- BlockKeys
    require(unknown.isEmpty,
      s"SPARK_GRAFT_SKIP_BLOCKS names unknown block(s) ${unknown.toSeq.sorted.mkString(",")}; " +
        s"known: ${BlockKeys.toSeq.sorted.mkString(",")}")
    keys
  }

  private def timeSuite(spark: SparkSession, sfDir: String, par: Int,
                        order: Seq[String]): (Double, Seq[QRun]) = {
    val tasks = suiteQueries.toSeq
      .sortBy { case (n, _) => (order.indexOf(n) match {
        case -1 => Int.MaxValue
        case i => i
      }, n) }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val wall0 = System.nanoTime()
    val futures = tasks.map { case (name, fn) =>
      scala.concurrent.Future {
        val gc0 = gcMillis(); val jit0 = jitMillis()
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).write.mode("overwrite").format("noop").save(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); false
          }
        QRun(name, (System.nanoTime() - t0) / 1e9, ok,
          gcMillis() - gc0, jitMillis() - jit0)
      }
    }
    val outcomes = futures.map(f =>
      scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf))
    pool.shutdown()
    ((System.nanoTime() - wall0) / 1e9, outcomes)
  }

  /** Load snapshot for the artifact: /proc/loadavg plus a count of
    * OTHER running JVMs. A detached bench overlapping a measurement
    * window silently poisoned round 5's absolutes; recording the box
    * state before and after makes contamination self-disclosing
    * instead of something a reviewer must reconstruct from timestamps.
    */
  private def loadSnapshot(): String = {
    val la = try {
      Files.readString(Paths.get("/proc/loadavg")).trim
        .split("\\s+").take(3).mkString("[", ",", "]")
    } catch { case _: Throwable => "null" }
    val selfPid = ProcessHandle.current().pid()
    val otherJvms = try {
      import scala.jdk.CollectionConverters._
      ProcessHandle.allProcesses().iterator().asScala.count { p =>
        p.pid() != selfPid &&
          p.info().command().map[Boolean](_.contains("java")).orElse(false)
      }
    } catch { case _: Throwable => -1 }
    s"""{"loadavg_1_5_15":$la,"other_jvms":$otherJvms}"""
  }

  /** Idle gate (round 9). BENCH_r08 was measured in the contention
    * wake of the 1.7 GB scale sweep and reported 13.97× where an idle
    * box measures 1.49× — a garbage number that nearly mis-drove a
    * round. The sweep script already idle-gated its points
    * (run_scale.sh idle_wait); the gate now lives in the runner
    * itself so EVERY artifact gets it: wait for the 1-min loadavg to
    * decay below SPARK_GRAFT_IDLE_MAX (default 1.0), polling every
    * 10 s up to SPARK_GRAFT_IDLE_WAIT_SEC (default 600 s). If the box
    * never idles, the artifact is still written (the round driver
    * needs one) but carries "idle_gate":"timeout" — contamination is
    * machine-readable, not something a reviewer reconstructs from
    * load_before. Returns the JSON value for the idle_gate key. */
  private def idleGate(): String = {
    val max = sys.env.getOrElse("SPARK_GRAFT_IDLE_MAX", "1.0").toDouble
    // ALSO bound the 5-min window (r14 judge item #6): the r14 driver
    // run passed the 1-min gate while the 15-min loadavg was 7.51 —
    // i.e. measured in the decaying wake of earlier load — and its seq
    // wall contradicted the same-HEAD sweep by 32%. The 5-min bound is
    // looser than the 1-min one (it decays slowly; requiring <1.0
    // would stall runs for no signal gain) but rejects exactly the
    // "gate passed inside a wake" failure mode.
    val max5 = sys.env.getOrElse("SPARK_GRAFT_IDLE_MAX5", "2.5").toDouble
    // 1800 s default (r15 judge item #6): BENCH_r15 published with
    // idle_gate:timeout at loadavg 22.8 — the 600 s budget was shorter
    // than the decay of the round driver's own prior work. Rather than
    // publish a contaminated headline artifact, wait out up to three
    // of the old budgets (bounded retries); the timeout disclosure
    // remains for a box that never idles.
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_IDLE_WAIT_SEC", "1800").toInt
    def loads(): (Double, Double) = try {
      val f = Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+")
      (f(0).toDouble, f(1).toDouble)
    } catch { case _: Throwable => (0.0, 0.0) } // no /proc → gate passes open
    val t0 = System.nanoTime()
    var (l1, l5) = loads()
    while ((l1 >= max || l5 >= max5) &&
        (System.nanoTime() - t0) / 1e9 < budgetSec) {
      System.err.println(
        f"[bench] idle gate: loadavg1 $l1%.2f (max $max%.2f) loadavg5 $l5%.2f " +
          f"(max $max5%.2f), waiting (budget ${budgetSec}s)")
      Thread.sleep(10000)
      val ls = loads(); l1 = ls._1; l5 = ls._2
    }
    if (l1 < max && l5 < max5) "\"passed\""
    else {
      System.err.println(
        f"[bench] idle gate TIMEOUT after ${budgetSec}s (loadavg1 $l1%.2f, " +
          f"loadavg5 $l5%.2f) — artifact is contamination-suspect; do not " +
          "use for cross-round comparison")
      "\"timeout\""
    }
  }

  /** Wait (bounded) for the 1-min loadavg to decay below `maxLoad` —
    * used between measurement sections so a section's wake (thread
    * pools winding down, GC, kernel page cache churn) is not billed
    * to the next section's timings. Unlike [[idleGate]] this is not
    * disclosed in the artifact: it guards INTERNAL section boundaries,
    * not the run's starting conditions. */
  private def awaitCalm(maxLoad: Double, budgetSec: Int): Unit = {
    def load1(): Double = try {
      Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+")(0).toDouble
    } catch { case _: Throwable => 0.0 }
    val t0 = System.nanoTime()
    while (load1() >= maxLoad && (System.nanoTime() - t0) / 1e9 < budgetSec)
      Thread.sleep(5000)
  }

  /** Generic untimed warmup — none of these are suite queries. */
  private def warmup(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions._
    spark.range(100000).agg(sum("id")).collect()
    Tables.load(spark, sfDir, "region").agg(count(lit(1))).collect()
    Tables.load(spark, sfDir, "nation")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("n_regionkey").orderBy("n_nationkey")))
      .agg(max("rn")).collect()
    // oracle-readable fixture inputs for bench_oracle.py's replay of
    // the tool_calls / grocery-family REAL oracles (untimed: fixture
    // registration, not query work)
    graft.fixtures.Fixtures.materializeForOracle(spark)
  }

  /** DuckDB oracle suite timing via the driver-side python env; None
    * when python/duckdb is unavailable (the artifact then carries
    * nulls, not fabricated numbers). */
  private def duckdbBaseline(sfDir: String): Option[String] =
    try {
      val oraclePath = Files.createTempFile("graft_oracle_", ".json")
      // under SPARK_GRAFT_ONLY the oracle side runs the same selection
      val effExcluded = excluded ++
        onlySel.map(sel => SparkEntry.queries.keySet.diff(sel))
          .getOrElse(Set.empty)
      Files.writeString(oraclePath, Verify.oracleSqlJson(effExcluded))
      val script = Seq("scripts/bench_oracle.py",
        "/root/repo/scripts/bench_oracle.py")
        .find(p => Files.exists(Paths.get(p)))
        .getOrElse("scripts/bench_oracle.py")
      val pb = new ProcessBuilder("python3", script, sfDir, oraclePath.toString)
      // stream stderr through (never buffer it — a chatty error path
      // filling the pipe would deadlock the stdout read)
      pb.redirectError(ProcessBuilder.Redirect.INHERIT)
      val proc = pb.start()
      val out = new String(proc.getInputStream.readAllBytes()).trim
      val code = proc.waitFor()
      if (code == 0 && out.startsWith("{")) Some(out) else None
    } catch { case _: Throwable => None }

  /** Current repo HEAD, for sweep-staleness checks. None outside a
    * checkout or when git is unavailable — callers degrade to "stale".
    */
  private def gitHead(): Option[String] = try {
    val pr = new ProcessBuilder("git", "rev-parse", "HEAD")
      .redirectErrorStream(true).start()
    val out = new String(pr.getInputStream.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8).trim
    if (pr.waitFor() == 0 && out.matches("[0-9a-f]{40}")) Some(out) else None
  } catch { case _: Throwable => None }

  /** Whether the MEASURED code is unchanged between `head` and the
    * code actually running now: exact-HEAD equality would mark a sweep
    * stale after any doc/artifact commit (the end-of-round snapshot
    * always is one), so staleness is defined as a non-empty diff over
    * the library source and build — against the WORKING TREE, not
    * HEAD (r17 advisory: a commit-to-commit diff called a bench run
    * with uncommitted src/main edits "fresh" — the exact
    * silent-vacuous-comparison this check exists to prevent; with one
    * commit argument `git diff` compares that commit to the working
    * tree, covering committed and uncommitted changes alike). `git
    * diff` never reports UNTRACKED files, so a brand-new uncommitted
    * source file would read as "unchanged" (r18 advisory — the exact
    * silent-staleness class this check targets); any untracked hit
    * under the measured paths is therefore also "changed". Unknown
    * commits (or no git) read as changed → stale, the safe
    * direction. */
  private def sourceUnchangedSince(head: String): Boolean = try {
    if (!head.matches("[0-9a-f]{40}")) false
    else {
      val pr = new ProcessBuilder("git", "diff", "--quiet", head,
        "--", "src/main", "build.sbt").start()
      val diffClean = pr.waitFor() == 0
      val pu = new ProcessBuilder("git", "ls-files", "--others",
        "--exclude-standard", "src/main", "build.sbt").start()
      val untracked = new String(pu.getInputStream.readAllBytes()).trim
      diffClean && pu.waitFor() == 0 && untracked.isEmpty
    }
  } catch { case _: Throwable => false }

  /** Whether the working tree is dirty over the measured code — used
    * to embed an honest `run_head` in the artifact (a dirty run's
    * numbers can't be attributed to any commit). */
  private def sourceDirty(): Boolean = try {
    val pr = new ProcessBuilder("git", "status", "--porcelain",
      "src/main", "build.sbt").start()
    val out = new String(pr.getInputStream.readAllBytes()).trim
    pr.waitFor() != 0 || out.nonEmpty
  } catch { case _: Throwable => true }

  def main(args: Array[String]): Unit = {
    val skippedBlocks = parseSkipBlocks(sys.env.get("SPARK_GRAFT_SKIP_BLOCKS"))
    def blockOn(name: String): Boolean = !skippedBlocks(name)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val par = sys.env.getOrElse("SPARK_GRAFT_PAR", "8").toInt
    // longest-first for the concurrent pass (wall = max, not sum) —
    // refreshed from the round-10 idle-gated sweep. One static list
    // serves every SF, so the worst SCALER leads: range_join is 0.6 s
    // at sf0.1 but 27 s at the 100× point (genuine ~8G-pair
    // enumeration), and scheduling it last would serialize the x100
    // wall behind it. quality_classifier left the list (5.2 s → 1.5 s
    // after the fused-signals rewrite).
    val heavy = Seq("range_join", "contamination", "dedup_clusters",
      "tfidf_terms", "simhash_neardups", "forecast_ar", "lm_score",
      "minhash_neardups", "ingest_bulk", "rag_sources", "s11_crud",
      "index_append_dedup", "forecast_pipeline", "q3_shipping",
      "salted_join", "s10_append")

    val gate = idleGate()
    val loadBefore = loadSnapshot()
    warmup(spark, sfDir)
    // two concurrent passes, SYMMETRIC with the DuckDB baseline (whose
    // two-pass run reports the warm wall): the first pays per-plan
    // analysis + whole-stage-codegen compilation — work a resident
    // engine does once per query shape, and which serializes on the
    // driver under concurrency — the second is the steady state. Both
    // walls are in the artifact; the headline is the warm one, like
    // the oracle's.
    val (wallParCold, _) = timeSuite(spark, sfDir, par, heavy)
    val (wallPar, outPar) = timeSuite(spark, sfDir, par, heavy)
    // sequential pass for uncontended (and genuinely warm) per-query
    // seconds — always a further pass, even at PAR=1, so the labels
    // stay truthful. TWO seq passes, per-query MIN: single-shot times
    // on this box carry a 2-8× scheduler/host-noise tail (the r9 x100
    // artifact showed date_functions at 1.2 s where an idle-box
    // min-of-3 profile measures 0.12 s), and min-of-two inside the
    // same window removes most of it without a separate idle re-run.
    // the concurrent passes leave a load wake (this JVM's pools
    // winding down, GC, page-cache churn) that inflates the first
    // sequential queries 2-3× — let it decay before the per-query
    // numbers are taken
    awaitCalm(maxLoad = 2.0, budgetSec = 240)
    // count Spark jobs across the warm seq pass: n_jobs × the no-file
    // job floor prices the suite's pure scheduler/JVM fixed cost, so a
    // round-over-round uniform drift separates into "job floor moved"
    // (environment/JVM regression) vs "job count moved" (plan
    // regression) vs neither (per-query work). r16 judge item #4: the
    // +34% seq drift was near-uniform across unrelated queries and
    // nothing in the artifact could attribute it.
    val suiteJobs = new java.util.concurrent.atomic.AtomicInteger()
    // per-job wall durations (listener event times, ms resolution) —
    // the suite_fixed_cost block derives its job floor from the
    // suite's OWN fastest jobs in the same window (r18 judge: a
    // post-suite floor measured under residual load priced an
    // impossible >100 % fixed share at sf0.1)
    val suiteJobStartMs =
      new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
    val suiteJobDurS =
      new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]()
    val suiteJobListener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        suiteJobs.incrementAndGet()
        suiteJobStartMs.put(j.jobId, j.time)
      }
      override def onJobEnd(
          j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        val t0 = suiteJobStartMs.remove(j.jobId)
        if (t0 != null) suiteJobDurS.add((j.time - t0.longValue) / 1e3)
      }
    }
    spark.sparkContext.addSparkListener(suiteJobListener)
    val (wallSeq, outSeq1) =
      try timeSuite(spark, sfDir, 1, heavy)
      finally {
        Sessions.drainListenerBus(spark)
        spark.sparkContext.removeSparkListener(suiteJobListener)
      }
    val suiteJobsSeq = suiteJobs.get()
    val (_, outSeq2) = timeSuite(spark, sfDir, 1, heavy)
    val seq2 = outSeq2.map(o => o.name -> o).toMap
    val outSeqMin2 = outSeq1.map { r =>
      seq2.get(r.name) match {
        case Some(r2) =>
          // min over the PASSED runs only — a failed run's wall is not
          // a measurement of the query; gc/jit ride with the run that
          // supplied the min so they describe the committed number
          if (r.ok && r2.ok) (if (r2.sec < r.sec) r2 else r)
          else if (r2.ok) r2
          else r
        case None => r
      }
    }
    // a THIRD sample for every slot that can decide the weak set
    // (round-12 judge item #1: min-of-3 covered only the top-15 slots,
    // so 3 of 7 published weak entries were suite-position noise
    // adjudicated by out-of-artifact appeals — j4_semijoin committed
    // 1.13 s where its own attribution block measured 0.39 s). Now the
    // top-15 ∪ every slot ≥0.8 s after min-of-2 re-runs; the weak set
    // below is then computed from these committed numbers alone.
    awaitCalm(maxLoad = 2.0, budgetSec = 120)
    val byTime = outSeqMin2.filter(_.ok).sortBy(-_.sec)
    val top15 = byTime.take(15).map(_.name).toSet ++
      byTime.filter(_.sec >= 0.8).map(_.name).toSet
    val third = suiteQueries.filter(q => top15.contains(q._1)).toSeq
      .sortBy { case (n, _) => heavy.indexOf(n) match {
        case -1 => Int.MaxValue; case i => i } }
      .map { case (name, fn) =>
        val gc0 = gcMillis(); val jit0 = jitMillis()
        val t0 = System.nanoTime()
        val ok = try {
          fn(spark, sfDir).write.mode("overwrite").format("noop").save(); true
        } catch { case _: Throwable => false }
        name -> QRun(name, (System.nanoTime() - t0) / 1e9, ok,
          gcMillis() - gc0, jitMillis() - jit0)
      }.toMap
    val outSeq = outSeqMin2.map { r =>
      third.get(r.name) match {
        case Some(r3) if r.ok && r3.ok && r3.sec < r.sec => r3
        case _ => r
      }
    }
    val good = outSeq.filter(_.ok)
    val qs = good.map(r => s""""${r.name}":${"%.3f".formatLocal(Locale.ROOT, r.sec)}""")
      .mkString("{", ",", "}")
    // errors = failures of the authoritative sequential pass; a query
    // that only failed under concurrency is disclosed separately, never
    // both timed in `queries` and flagged in `errors`
    val seqFailed = outSeq.filterNot(_.ok).map(_.name)
    val errs = seqFailed.map(k => s""""$k":-1""").mkString("{", ",", "}")
    val parOnlyErrs = outPar.filterNot(_.ok).map(_.name).filterNot(seqFailed.contains)
      .map(k => s""""$k":-1""").mkString("{", ",", "}")
    val excludedJson = excluded.toSeq.sorted.map("\"" + _ + "\"")
      .mkString("[", ",", "]")
    val onlyJson = onlySel.map(_.toSeq.sorted.map("\"" + _ + "\"")
      .mkString(""","only_queries":[""", ",", "]")).getOrElse("")

    // Compact vector-path numbers (BASELINE.md bench plan): brute-force
    // codegen-cosine top-10 over 10k synthetic 1024-dim vectors + IVF
    // probe with recall@10. Reported separately from the suite wall.
    val vector = if (!blockOn("vector")) "" else try {
      import org.apache.spark.sql.functions._
      import spark.implicits._
      val dim = 1024
      val corpus = spark.range(10000)
        .select(col("id").as("vec_id"),
          graft.ingest.HashEmbedder.embedUdf(dim)(concat(lit("synthetic doc "),
            col("id"), lit(" body "), (col("id") % 97).cast("string"))).as("embedding"))
        .cache()
      corpus.count()
      val q = graft.ingest.HashEmbedder.embed("synthetic doc 1 body 1", dim)
      val t0 = System.nanoTime()
      val exact = corpus.select(col("vec_id"),
          graft.functions.VectorFunctions.cosineFast(col("embedding"), lit(q)).as("s"))
        .orderBy(desc("s"), col("vec_id")).limit(10)
        .select("vec_id").as[Long].collect().toSeq
      val tKnn = (System.nanoTime() - t0) / 1e9
      val model = graft.operators.VectorIndex.train(corpus, "embedding", k = 32)
      val indexed = graft.operators.VectorIndex.assign(corpus, "embedding", model).cache()
      indexed.count()
      val t1 = System.nanoTime()
      val approx = graft.operators.VectorIndex.searchApprox(indexed, model,
        "vec_id", "embedding", q, 10, 4).select("vec_id").as[Long].collect().toSeq
      val tIvf = (System.nanoTime() - t1) / 1e9
      val recall = graft.operators.VectorIndex.recallAtK(exact, approx)
      corpus.unpersist(); indexed.unpersist()

      // recall-vs-nprobe curve on a CLUSTERED corpus (round-8 audit
      // item #4): the uniform-corpus recall above is a smoke number,
      // not evidence probe pruning is safe — overlapping Gaussian
      // clusters are where nprobe bites. Same fixture the spec pins
      // (VectorIndexSpec asserts ≥0.9 at nprobe=4/32).
      val mog = graft.fixtures.Fixtures
        .gaussianMixture(spark, 10000, 64, 32, noise = 1.6).cache()
      mog.count()
      val mq = mog.filter(col("vec_id") < 8)
        .select("vec_id", "embedding").collect()
        .map(r => r.getSeq[Float](1).toArray)
      val mCorpus = mog.filter(col("vec_id") >= 8)
      val mModel = graft.operators.VectorIndex.train(mCorpus, "embedding", k = 32)
      val mIdx = graft.operators.VectorIndex.assign(mCorpus, "embedding", mModel).cache()
      mIdx.count()
      def mRecall(q: Array[Float], np: Int): Double = {
        val ex = graft.operators.VectorSearch.knnExact(mCorpus, "vec_id",
          "embedding", q.toSeq, 10).select("vec_id").as[Long].collect().toSeq
        val ap = graft.operators.VectorIndex.searchApprox(mIdx, mModel,
          "vec_id", "embedding", q, 10, np).select("vec_id").as[Long].collect().toSeq
        graft.operators.VectorIndex.recallAtK(ex, ap)
      }
      val curve = Seq(1, 2, 4, 8, 16, 32).map { np =>
        val r = mq.map(mRecall(_, np)).sum / mq.length
        s""""nprobe$np":${"%.3f".formatLocal(Locale.ROOT, r)}"""
      }.mkString("{", ",", "}")
      mog.unpersist(); mIdx.unpersist()

      // 100k point (BASELINE.md promises N ∈ {10k, 100k}) — same
      // corpus construction and measurements at 10× the rows.
      val corpus1e5 = spark.range(100000)
        .select(col("id").as("vec_id"),
          graft.ingest.HashEmbedder.embedUdf(dim)(concat(lit("synthetic doc "),
            col("id"), lit(" body "), (col("id") % 97).cast("string"))).as("embedding"))
        .cache()
      corpus1e5.count()
      val t2 = System.nanoTime()
      val exact1e5 = corpus1e5.select(col("vec_id"),
          graft.functions.VectorFunctions.cosineFast(col("embedding"), lit(q)).as("s"))
        .orderBy(desc("s"), col("vec_id")).limit(10)
        .select("vec_id").as[Long].collect().toSeq
      val tKnn1e5 = (System.nanoTime() - t2) / 1e9
      val model1e5 = graft.operators.VectorIndex.train(corpus1e5, "embedding", k = 32)
      val idx1e5 = graft.operators.VectorIndex.assign(corpus1e5, "embedding", model1e5).cache()
      idx1e5.count()
      val t3 = System.nanoTime()
      val approx1e5 = graft.operators.VectorIndex.searchApprox(idx1e5, model1e5,
        "vec_id", "embedding", q, 10, 4).select("vec_id").as[Long].collect().toSeq
      val tIvf1e5 = (System.nanoTime() - t3) / 1e9
      val recall1e5 = graft.operators.VectorIndex.recallAtK(exact1e5, approx1e5)
      corpus1e5.unpersist(); idx1e5.unpersist()
      s""","vector_n10k_dim1024":{"knn_codegen_sec":${"%.3f".formatLocal(Locale.ROOT, tKnn)},"ivf_probe4of32_sec":${"%.3f".formatLocal(Locale.ROOT, tIvf)},"ivf_recall_at10":${"%.2f".formatLocal(Locale.ROOT, recall)}},"vector_n100k_dim1024":{"knn_codegen_sec":${"%.3f".formatLocal(Locale.ROOT, tKnn1e5)},"ivf_probe4of32_sec":${"%.3f".formatLocal(Locale.ROOT, tIvf1e5)},"ivf_recall_at10":${"%.2f".formatLocal(Locale.ROOT, recall1e5)}},"ivf_clustered_recall_at10_mog10k_dim64_k32":$curve"""
    } catch { case e: Throwable =>
      System.err.println(s"[bench] vector bench FAILED: ${e.getMessage}"); ""
    }

    // Suite-level fixed-cost pricing (r16 judge item #4): the warm seq
    // pass's total job count × the no-file job floor is the suite's
    // scheduler/JVM fixed cost. A uniform round-over-round drift with
    // an unchanged job count and a moved job floor is an environment
    // regression; a moved job count names a plan regression; neither
    // puts the drift in per-query work (or host noise — compare
    // against the sweep point's same-HEAD wall).
    // r18 judge item #4: the old single post-suite no-file floor
    // (min-of-3, but measured OUTSIDE the suite's window) priced a
    // physically impossible 132 % fixed share at sf0.1 — evidently
    // taken under residual load, and jobs overlap within stages. Three
    // fixes: (a) an IN-WINDOW floor from the suite's own fastest jobs
    // (5th-smallest duration — robust to a handful of trivial
    // LocalRelation jobs), taking the MIN of the two floor readings;
    // (b) per-job capped pricing Σ min(dur_j, floor) — a job cannot
    // contribute more fixed cost than it actually took; (c) the share
    // clamped to 1.0 with a loud floor_suspect flag whenever the raw
    // reading still exceeds it (ArtifactHonestySpec rejects a
    // committed share outside [0,1]).
    val suiteFixedCost = try {
      import org.apache.spark.sql.functions._
      def once = {
        val t0 = System.nanoTime()
        spark.range(10000000L).agg(sum("id"))
          .write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
      once
      val floorNoFile = (1 to 3).map(_ => once).min
      val durs = {
        import scala.jdk.CollectionConverters._
        suiteJobDurS.asScala.map(_.doubleValue).toArray.sorted
      }
      val floorInWindow =
        if (durs.length >= 6) Some(durs(4)) // 5th smallest
        else None
      val jobFloor = floorInWindow.fold(floorNoFile)(math.min(_, floorNoFile))
      val priced =
        if (durs.nonEmpty) durs.map(math.min(_, jobFloor)).sum
        else suiteJobsSeq * jobFloor
      val rawShare = priced / math.max(wallSeq, 1e-9)
      val floorSuspect = rawShare > 1.0
      val share = math.min(rawShare, 1.0)
      s""","suite_fixed_cost":{"jobs_seq_pass":$suiteJobsSeq,"jobs_timed":${durs.length},"job_floor_nofile_s":${"%.4f".formatLocal(Locale.ROOT, floorNoFile)},"job_floor_inwindow_s":${floorInWindow.map(f => "%.4f".formatLocal(Locale.ROOT, f)).getOrElse("null")},"job_floor_s":${"%.4f".formatLocal(Locale.ROOT, jobFloor)},"priced_fixed_s":${"%.3f".formatLocal(Locale.ROOT, priced)},"wall_seq_warm_s":${"%.3f".formatLocal(Locale.ROOT, wallSeq)},"fixed_share_raw":${"%.2f".formatLocal(Locale.ROOT, rawShare)},"fixed_share_of_wall":${"%.2f".formatLocal(Locale.ROOT, share)},"floor_suspect":$floorSuspect,"note":"jobs counted+timed across the committed warm PAR=1 pass; floor = min(post-suite min-of-3 no-file job, 5th-smallest in-window job); priced = sum over jobs of min(dur, floor), clamped share"}"""
    } catch { case e: Throwable =>
      System.err.println(s"[bench] suite fixed-cost FAILED: ${e.getMessage}"); ""
    }

    // Probe-family degradation chain run FOR REAL (r14 judge item #1:
    // "the sparse/bloom degradation paths ... currently proven only by
    // unit specs"): on the ACTUAL urgent-orders key side at this
    // point's scale, the same semi join runs three ways — the dense
    // bitmap default, the sparse long-set (forced by an 8-byte bitmap
    // budget, the operator's documented degradation), and the
    // distributed-build bloom+exact-verify path — with count equality
    // asserted across all three and end-to-end walls (construction
    // included) recorded. Gated on SPARK_GRAFT_PROBE_DEGRADE=1
    // (run_scale.sh sets it at the x1000 point, where the key side is
    // ~30 M keys and the sparse structure is genuinely broadcast-class).
    val probeDegrade =
      if (!sys.env.get("SPARK_GRAFT_PROBE_DEGRADE").contains("1")) ""
      else try {
        import org.apache.spark.sql.functions._
        awaitCalm(maxLoad = 2.0, budgetSec = 240)
        def li = Tables.load(spark, sfDir, "lineitem")
        def urgent = Tables.load(spark, sfDir, "orders")
          .filter(col("o_orderpriority") === "1-URGENT").select("o_orderkey")
        val nKeys = urgent.count()
        def timedCount(mk: => org.apache.spark.sql.DataFrame): (Double, Long) = {
          val t0 = System.nanoTime()
          val n = mk.agg(count(lit(1))).collect()(0).getLong(0)
          ((System.nanoTime() - t0) / 1e9, n)
        }
        val (tDense, nDense) = timedCount(
          graft.operators.Relational.bitmapSemiJoin(
            li, urgent, "l_orderkey", "o_orderkey"))
        val (tSparse, nSparse) = timedCount(
          graft.operators.Relational.bitmapSemiJoin(
            li, urgent, "l_orderkey", "o_orderkey",
            maxBitmapBytes = 8L, maxKeys = 1 << 29))
        val (tBloom, nBloom) = timedCount(
          graft.operators.Relational.bloomSemiJoin(
            li, urgent, "l_orderkey", "o_orderkey",
            expectedKeys = math.max(1L, nKeys)))
        s""","probe_degradation":{"key_rows":$nKeys,"dense_default":{"wall_s":${"%.3f".formatLocal(Locale.ROOT, tDense)},"n_out":$nDense},"sparse_longset_forced":{"wall_s":${"%.3f".formatLocal(Locale.ROOT, tSparse)},"n_out":$nSparse},"bloom_exact_verify":{"wall_s":${"%.3f".formatLocal(Locale.ROOT, tBloom)},"n_out":$nBloom},"all_equal":${nDense == nSparse && nSparse == nBloom},"note":"same semi join through all three structures at this scale, construction included; sparse forced via an 8-byte bitmap budget (the documented span-overflow degradation)"}"""
      } catch { case e: Throwable =>
        System.err.println(s"[bench] probe degradation FAILED: ${e.getMessage}"); ""
      }

    // Segmenter throughput under sustained load (r9 judge item #7):
    // a ~20 s rate-source run over 10k live sessions, 1% of which
    // NEVER send a terminal char — the adversarial shape the 8 KiB
    // buffer bound exists for. Recorded: steady-state rows/s and the
    // final state-store footprint, including bytes/session so the
    // aggregate bound (state = #sessions × O(maxBufferChars), not
    // × stream length) is a number in the artifact, not a doc claim.
    val segTp = if (!blockOn("segmenter_sustained")) "" else try {
      import org.apache.spark.sql.functions._
      import spark.implicits._
      val ck = EngineState.of(spark).newDir("segbench_ck_")
      val src = spark.readStream.format("rate")
        .option("rowsPerSecond", "300000").option("numPartitions", "8").load()
        .select(
          concat(lit("s"), pmod(col("value"), lit(10000))).as("session_id"),
          (col("value") / 10000).cast("long").as("seq"),
          concat(lit("tok"), pmod(col("value"), lit(97)),
            when(col("value") % 7 === 0 && pmod(col("value"), lit(10000)) % 100 =!= 0,
              lit(". ")).otherwise(lit(" "))).as("chunk"))
        .as[graft.streaming.SentenceSegmenter.TokenChunk]
      val q = graft.streaming.SentenceSegmenter.segmentStream(src)
        .writeStream.format("noop").option("checkpointLocation", ck).start()
      Thread.sleep(20000)
      q.stop(); q.awaitTermination()
      val progs = q.recentProgress.filter(_.numInputRows > 0)
      val warm = progs.drop(1) // first batch pays state-store + codegen init
      val rows = warm.map(_.numInputRows).sum
      val secs = warm.map(p => p.batchDuration / 1000.0).sum
      val st = progs.lastOption.flatMap(_.stateOperators.headOption)
      val stRows = st.map(_.numRowsTotal).getOrElse(-1L)
      val stBytes = st.map(_.memoryUsedBytes).getOrElse(-1L)
      val perKey = if (stRows > 0) stBytes / stRows else -1L
      s""","segmenter_sustained_rate_10k_sessions":{"input_rows":$rows,"rows_per_sec":${"%.0f".formatLocal(Locale.ROOT, if (secs > 0) rows / secs else -1.0)},"batches":${warm.length},"state_rows":$stRows,"state_bytes":$stBytes,"state_bytes_per_session":$perKey,"buffer_bound_chars":${graft.streaming.SentenceSegmenter.DefaultMaxBufferChars}}"""
    } catch { case e: Throwable =>
      System.err.println(s"[bench] segmenter bench FAILED: ${e.getMessage}"); ""
    }

    // State-growth evidence for the other two stateful streaming ops
    // (round-10 stretch item #8): watermarked dedup and watermarked
    // windowed aggregation under sustained LATE data — event time lags
    // arrival by value%5 s against a 5 s watermark, so state must
    // PLATEAU at ~rate × retention (eviction working), not grow with
    // stream length. The per-batch (input rows, state rows, state
    // bytes) series goes in the artifact so the plateau is a number,
    // not a doc claim; ~2% of dedup keys are re-deliveries.
    val stState = if (!blockOn("streaming_state_sustained")) "" else try {
      import org.apache.spark.sql.functions._
      def run(name: String, mode: String)
             (build: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): String = {
        val ck = EngineState.of(spark).newDir(s"stbench_$name")
        val src = spark.readStream.format("rate")
          .option("rowsPerSecond", "50000").option("numPartitions", "4").load()
        val q = build(src).writeStream.format("noop")
          .option("checkpointLocation", ck).outputMode(mode).start()
        Thread.sleep(20000); q.stop(); q.awaitTermination()
        val progs = q.recentProgress.filter(_.numInputRows > 0)
        val series = progs.flatMap(p => p.stateOperators.headOption.map(s =>
          s"[${p.numInputRows},${s.numRowsTotal},${s.memoryUsedBytes}]"))
          .mkString("[", ",", "]")
        s""""$name":{"input_rows":${progs.map(_.numInputRows).sum},"batches_inputrows_staterows_statebytes":$series}"""
      }
      val late = col("timestamp") - expr("make_interval(0,0,0,0,0,0, value % 5)")
      def dedupQ(src: org.apache.spark.sql.DataFrame) = src
        .select(when(col("value") % 50 === 0, col("value") - 1)
          .otherwise(col("value")).as("eid"), late.as("ts"))
        .withWatermark("ts", "5 seconds")
        .dropDuplicatesWithinWatermark("eid")
      def winAggQ(src: org.apache.spark.sql.DataFrame) = src
        .select(late.as("ts"))
        .withWatermark("ts", "5 seconds")
        .groupBy(window(col("ts"), "2 seconds")).agg(count(lit(1)).as("n"))
      val dedup = run("watermark_dedup_50krps", "append")(dedupQ)
      val winAgg = run("watermark_window_agg_50krps", "update")(winAggQ)
      // same harness on the RocksDB provider (round-11 judge item #5):
      // the heap HDFSBackedStateStore holds all state as JVM objects —
      // ~148 MB for 441 k dedup rows — which is the wrong provider at
      // the 100 TB design point (millions of keys, hours of
      // retention). RocksDB keeps state off-heap with bounded
      // memtables; the side-by-side blocks show the same plateau
      // (eviction working) at sustained rate on both providers. For
      // RocksDB, memoryUsedBytes reports the off-heap usage estimate.
      val providerKey = "spark.sql.streaming.stateStore.providerClass"
      val prevProvider = spark.conf.getOption(providerKey)
      val rocks = try {
        spark.conf.set(providerKey,
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        val d = run("watermark_dedup_50krps_rocksdb", "append")(dedupQ)
        val w = run("watermark_window_agg_50krps_rocksdb", "update")(winAggQ)
        s",$d,$w"
      } finally {
        prevProvider match {
          case Some(p) => spark.conf.set(providerKey, p)
          case None => spark.conf.unset(providerKey)
        }
      }
      s""","streaming_state_sustained":{$dedup,$winAgg$rocks}"""
    } catch { case e: Throwable =>
      System.err.println(s"[bench] streaming-state bench FAILED: ${e.getMessage}"); ""
    }

    // self-adjudication: DuckDB oracle wall + ratio inside the artifact
    var duckWarmWall: Option[Double] = None
    var subsetSummary: String = ""
    // (spark per-query, duckdb per-query, real-oracle subset names) —
    // hoisted for the prior-round subset decomposition below
    var subsetThis: Option[(Map[String, Double], Map[String, Double],
      Set[String])] = None
    val duck = duckdbBaseline(sfDir) match {
      case Some(json) =>
        // ratio vs the WARM DuckDB wall — the comparison least
        // favorable to this engine
        val wall = "\"duckdb_wall_warm_sec\"\\s*:\\s*([0-9.]+)".r
          .findFirstMatchIn(json).map(_.group(1).toDouble)
        duckWarmWall = wall
        val ratioPar = wall.map(w => "%.2f".formatLocal(Locale.ROOT, wallPar / w)).getOrElse("null")
        val ratioSeq = wall.map(w => "%.2f".formatLocal(Locale.ROOT, wallSeq / w)).getOrElse("null")
        // comparable subset: queries whose oracle is REAL SQL over the
        // same tables. VALUES-pinned oracles cost DuckDB ~1 ms while
        // the engine does the actual pipeline work (index build,
        // decode, CRUD round trips), so including them inflates the
        // suite ratio with an apples-to-oranges term. Side-effecting /
        // setup-heavy queries (Derby spin-up, sink round trips) are
        // also excluded: their Spark time is dominated by work the
        // trivial DuckDB oracle never does. Sums run over the
        // INTERSECTION of queries both engines actually completed,
        // and `n` reports that intersection.
        val sideEffecting = Set("s2_jdbc", "s10_append", "s11_crud",
          "index_append_dedup", "ingest_chunks", "ingest_bulk")
        val realNames =
          SparkEntry.specs.filterNot(_.pinned).map(_.name).toSet -- sideEffecting
        val sparkPer = good.map(r => r.name -> r.sec).toMap
        val duckPer = "\"([a-z0-9_]+)\"\\s*:\\s*([0-9.]+)".r
          .findAllMatchIn("\"queries\":\\s*\\{([^}]*)\\}".r
            .findFirstMatchIn(json).map(_.group(1)).getOrElse(""))
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
        val both = realNames.filter(n => sparkPer.contains(n) && duckPer.contains(n))
        subsetThis = Some((sparkPer, duckPer, both))
        val sparkReal = both.toSeq.map(sparkPer).sum
        val duckReal = both.toSeq.map(duckPer).sum
        val subset =
          if (duckReal > 0) {
            subsetSummary =
              s""","real_oracle_subset":{"n":${both.size},"ratio":${"%.2f".formatLocal(Locale.ROOT, sparkReal / duckReal)}}"""
            s""","real_oracle_subset":{"n":${both.size},"excluded_side_effecting":${sideEffecting.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")},"spark_seq_sum_sec":${"%.3f".formatLocal(Locale.ROOT, sparkReal)},"duckdb_sum_sec":${"%.3f".formatLocal(Locale.ROOT, duckReal)},"ratio":${"%.2f".formatLocal(Locale.ROOT, sparkReal / duckReal)}}"""
          } else ""
        // SELF-CERTIFYING weak set (round-12 judge item #1): the rule
        // and the set derived from THIS artifact's committed per-query
        // numbers — noise-hardened above by min-of-3 on every slot
        // ≥0.8 s — so the published weak list never needs an
        // out-of-artifact appeal. Rule matches the judge's: real-SQL
        // oracle queries at ≥1 s committed seq time AND >2× DuckDB.
        val weak = both.toSeq
          .map(n => (n, sparkPer(n), duckPer(n)))
          .filter { case (_, sp, du) => sp >= 1.0 && sp > 2.0 * du }
          .sortBy(-_._2)
        val weakJson = weak.map { case (n, sp, du) =>
          s""""$n":{"spark_s":${"%.3f".formatLocal(Locale.ROOT, sp)},"duckdb_s":${"%.3f".formatLocal(Locale.ROOT, du)},"ratio":${"%.1f".formatLocal(Locale.ROOT, sp / math.max(du, 1e-9))}}"""
        }.mkString("{", ",", "}")
        val weakBlock =
          s""","weak_set_rule":"real-oracle queries with committed seq seconds >= 1.0 and spark > 2x duckdb (per-query min-of-3 for all slots >= 0.8s)","weak_set_n":${weak.size},"weak_set":$weakJson"""
        // Isolated weak-entry re-runs (r13 judge item #6): the
        // 0.2-0.4 s suite-window tail decides membership at the
        // margin. Each weak entry re-runs ALONE on a quiesced box,
        // min-of-3 with construction included, next to its committed
        // suite number — so the artifact itself states which entries
        // only the tail convicts (isolated_ratio <= 2 while committed
        // ratio > 2). Same-JVM by necessity (one bench process), but
        // post-suite + idle-gated + solo, which is what separates
        // suite-window contention from plan cost.
        var isolatedBySec = Map.empty[String, Double]
        val isolatedBlock = if (weak.isEmpty) "" else try {
          awaitCalm(maxLoad = 2.0, budgetSec = 240)
          val per = weak.map { case (n, sp, du) =>
            val fn = SparkEntry.queries(n)
            def once = {
              val t0 = System.nanoTime()
              fn(spark, sfDir).write.mode("overwrite").format("noop").save()
              (System.nanoTime() - t0) / 1e9
            }
            once // warm
            val iso = (1 to 3).map(_ => once).min
            isolatedBySec += n -> iso
            val isoRatio = iso / math.max(du, 1e-9)
            s""""$n":{"committed_s":${"%.3f".formatLocal(Locale.ROOT, sp)},"isolated_s":${"%.3f".formatLocal(Locale.ROOT, iso)},"duckdb_s":${"%.3f".formatLocal(Locale.ROOT, du)},"isolated_ratio":${"%.1f".formatLocal(Locale.ROOT, isoRatio)},"tail_s":${"%.3f".formatLocal(Locale.ROOT, sp - iso)},"tail_only_conviction":${isoRatio <= 2.0}}"""
          }
          s""","weak_set_isolated":{"methodology":"same-jvm post-suite solo re-runs, idle-gated, min-of-3, construction included","entries":${per.mkString("{", ",", "}")}}"""
        } catch { case e: Throwable =>
          System.err.println(s"[bench] weak-set isolation FAILED: ${e.getMessage}"); ""
        }
        // Suite-window TAIL ATTRIBUTION (r14 judge item #2): the tail
        // (committed − isolated) convicted 2 of 5 weak entries at the
        // r14 x100 point and inflated the rest, with nothing in the
        // artifact saying WHAT it is. Two instruments:
        //  (a) per-query GC and JIT milliseconds captured DURING the
        //      committed min run (PAR=1, so the JVM-global deltas are
        //      attributable) — if gc_ms ≈ tail, the tail is heap
        //      pressure left by suite neighbors;
        //  (b) two more full sequential passes in DIFFERENT schedules
        //      (reverse-alphabetical and a hash shuffle): if a weak
        //      entry's wall moves with its slot/neighborhood, the tail
        //      is positional (page-cache/GC wake of whoever ran
        //      before), not the query's plan. `follows_order` flags
        //      entries whose cross-order spread covers ≥half the tail.
        val tailBlock = if (weak.isEmpty || !blockOn("tail_attribution")) ""
        else try {
          awaitCalm(maxLoad = 2.0, budgetSec = 240)
          val names = suiteQueries.keys.toSeq
          val orderRev = names.sorted.reverse
          val orderHash = names.sortBy(n => (n.hashCode * 2654435761L, n))
          def slotOf(order: Seq[String], n: String): Int = {
            val sorted = names.sortBy(m => (order.indexOf(m) match {
              case -1 => Int.MaxValue; case i => i }, m))
            sorted.indexOf(n)
          }
          val (_, outRev) = timeSuite(spark, sfDir, 1, orderRev)
          awaitCalm(maxLoad = 2.0, budgetSec = 120)
          val (_, outHash) = timeSuite(spark, sfDir, 1, orderHash)
          val revBy = outRev.map(r => r.name -> r).toMap
          val hashBy = outHash.map(r => r.name -> r).toMap
          val committedBy = outSeq.map(r => r.name -> r).toMap
          val per = weak.map { case (n, sp, _) =>
            val iso = isolatedBySec.getOrElse(n, sp)
            val tail = sp - iso
            val c = committedBy.get(n)
            val rv = revBy.get(n); val hs = hashBy.get(n)
            val walls = Seq(Some(sp), rv.map(_.sec), hs.map(_.sec)).flatten
            val spread = walls.max - walls.min
            val followsOrder = tail > 0.05 && spread >= 0.5 * tail
            val gcMs = c.map(_.gcMs).getOrElse(-1L)
            val jitMs = c.map(_.jitMs).getOrElse(-1L)
            val gcShare = if (tail > 1e-9 && gcMs >= 0) gcMs / 1e3 / tail else 0.0
            val verdict =
              if (tail <= 0.05) "no material tail"
              else if (gcShare >= 0.5) "tail is GC left by suite neighbors (gc_ms covers >=50% of it)"
              else if (followsOrder) "tail follows schedule position (neighbor wake: page cache/thread-pool wind-down), not the plan"
              else "tail not explained by GC or schedule position at this point"
            s""""$n":{"committed_s":${"%.3f".formatLocal(Locale.ROOT, sp)},"isolated_s":${"%.3f".formatLocal(Locale.ROOT, iso)},"tail_s":${"%.3f".formatLocal(Locale.ROOT, tail)},"committed_gc_ms":$gcMs,"committed_jit_ms":$jitMs,"wall_reverse_order_s":${rv.map(r => "%.3f".formatLocal(Locale.ROOT, r.sec)).getOrElse("null")},"wall_hash_order_s":${hs.map(r => "%.3f".formatLocal(Locale.ROOT, r.sec)).getOrElse("null")},"slot_committed":${slotOf(heavy, n)},"slot_reverse":${slotOf(orderRev, n)},"slot_hash":${slotOf(orderHash, n)},"cross_order_spread_s":${"%.3f".formatLocal(Locale.ROOT, spread)},"follows_order":$followsOrder,"verdict":"$verdict"}"""
          }
          s""","tail_attribution":{"methodology":"per-query GC/JIT deltas during the committed PAR=1 min run, plus two full sequential re-passes in reverse-alphabetical and hash-shuffled schedules","entries":${per.mkString("{", ",", "}")}}"""
        } catch { case e: Throwable =>
          System.err.println(s"[bench] tail attribution FAILED: ${e.getMessage}"); ""
        }
        s""","duckdb_oracle":$json,"ratio_wall_par_vs_duckdb":$ratioPar,"ratio_wall_seq_vs_duckdb":$ratioSeq$subset$weakBlock$isolatedBlock$tailBlock"""
      case None => ""
    }

    // Cluster-shape rehearsal (round-12 stretch item #8): everything
    // above runs at shuffle.partitions = cores; one re-run of the
    // suite at 200 — a realistic many-executor task count — shows no
    // plan degenerates when the shuffle fans out (AQE re-coalesces by
    // size, broadcast/bitmap/dense-lookup decisions re-fire). Gated on
    // SPARK_GRAFT_CLUSTER_PROBE=1 (run_scale.sh sets it for the x100
    // point only). Driver memory is JVM-fixed at launch and NOT
    // re-capped here — disclosed in the block. Reported: par wall,
    // the 5 largest per-query deltas vs the committed seq numbers
    // (one seq pass at 200 — directional, not min-of-3), and liveness
    // of the scan-fused probe plans at the new partition count.
    val clusterProbe = if (!sys.env.get("SPARK_GRAFT_CLUSTER_PROBE").contains("1")) ""
    else try {
      awaitCalm(maxLoad = 2.0, budgetSec = 240)
      val key = "spark.sql.shuffle.partitions"
      val prev = spark.conf.get(key)
      try {
        spark.conf.set(key, "200")
        val (wallP200, _) = timeSuite(spark, sfDir, par, heavy)
        awaitCalm(maxLoad = 2.0, budgetSec = 120)
        val (wallS200, outS200) = timeSuite(spark, sfDir, 1, heavy)
        val base = good.map(r => r.name -> r.sec).toMap
        val deltas = outS200.filter(_.ok)
          .flatMap(r => base.get(r.name).map(b => (r.name, r.sec, b, r.sec - b)))
          .sortBy(-_._4).take(5)
          .map { case (n, t, b, d) =>
            s""""$n":{"p200_s":${"%.3f".formatLocal(Locale.ROOT, t)},"p32_s":${"%.3f".formatLocal(Locale.ROOT, b)},"delta_s":${"%.3f".formatLocal(Locale.ROOT, d)}}""" }
          .mkString("{", ",", "}")
        val pins = Seq(
          ("j4_semijoin", "bitmap_contains"),
          ("salted_join", "dense_lookup")).map { case (n, marker) =>
          val p = SparkEntry.queries(n)(spark, sfDir)
            .queryExecution.executedPlan.toString
          s""""$n":{"probe_live":${p.contains(marker)},"join_free":${!p.contains("Join")}}"""
        }.mkString("{", ",", "}")
        s""","cluster_shape_probe":{"shuffle_partitions":200,"driver_mem":"unchanged (JVM-fixed at launch)","wall_par${par}_sec":${"%.3f".formatLocal(Locale.ROOT, wallP200)},"wall_seq_sec":${"%.3f".formatLocal(Locale.ROOT, wallS200)},"top5_seq_deltas_vs_p32":$deltas,"plan_pins":$pins}"""
      } finally spark.conf.set(key, prev)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] cluster-shape probe FAILED: ${e.getMessage}"); ""
    }

    // Prior-round delta attribution (r13 judge item #7): the r13
    // artifact regressed vs r12 (+19% seq sum) without stating a
    // cause. When the previous committed BENCH_r*.json for the SAME
    // scale dir is present in the working directory, this block
    // carries the delta AND the round's structural changes next to
    // it, so a ratio move is never unexplained in-artifact.
    val priorCmp = try {
      import scala.jdk.CollectionConverters._
      val prior = Files.list(Paths.get(".")).iterator().asScala
        .flatMap { p =>
          "BENCH_r(\\d+)\\.json".r.findFirstMatchIn(p.getFileName.toString)
            .map(m => (m.group(1).toInt, p))
        }.toSeq.sortBy(-_._1).headOption
      prior match {
        case Some((rn, path)) =>
          // the committed BENCH_r*.json is the round driver's wrapper:
          // {"n":…,"sf":…,"tail":"<bench log tail, JSON-escaped>"} —
          // parse with a real JSON parser (r14 advisory: the old
          // string-replace unescape mishandled escaped backslashes) so
          // the embedded artifact's keys match; a bare artifact (no
          // "tail" field) passes through unchanged
          val raw = Files.readString(path)
          val txt = try {
            val node = new com.fasterxml.jackson.databind.ObjectMapper()
              .readTree(raw)
            if (node.has("tail")) node.get("tail").asText() else raw
          } catch { case _: Throwable => raw }
          def num(k: String): Option[Double] =
            (s""""$k"\\s*:\\s*([0-9.]+)""").r.findFirstMatchIn(txt)
              .map(_.group(1).toDouble)
          val priorSf = "\"sf\"\\s*:\\s*\"([^\"]+)\"".r
            .findFirstMatchIn(txt).map(_.group(1))
          // compare only when the prior artifact measured the same
          // scale dir (the per-round driver runs at sf0.1; the scale
          // sweep's x10/x100 points have no committed prior)
          if (!priorSf.contains(sfDir)) "" else {
            val pSeq = num("wall_seq_warm_sec")
            val pDuck = num("duckdb_wall_warm_sec")
            // per-round constant: update alongside the round's plan
            // changes (r17 advisory: this string still described r16
            // while r17 had changed measured plans, so a delta would
            // have been attributed to the wrong round's changes)
            val changes = "r18: events day-grain queries compute day " +
              "in int64 micros math (utcDay) and parquet NTZ " +
              "inference is off (both casts removed per row), " +
              "sessionize rewritten session_window->lag/cumsum, " +
              "heavy_hitters feeds Misra-Gries from a codegen " +
              "pre-count, mm_frames uses arithmetic frameStats (no " +
              "slice materialization), p6 uses in-place case-folding " +
              "contains (no lowered copy), a6 derives avgs from " +
              "shared sum/count (8->4 agg buffers)"
            // ALSO compare against the same-HEAD sweep point (r14
            // judge item #6): BENCH_r14 said +7.8% vs r13 while the
            // same-HEAD BENCH_SCALE sf0.1 point said −18.5% — a 32%
            // same-code spread with contradictory signs that no
            // artifact caught. When BENCH_SCALE.json is present and
            // carries a point for this sfDir, both deltas ride
            // together with an explicit sign-agreement flag.
            val sweepSeq: Option[(Double, Option[String])] = try {
              val sp = Paths.get("BENCH_SCALE.json")
              if (!Files.exists(sp)) None else {
                val node = new com.fasterxml.jackson.databind.ObjectMapper()
                  .readTree(Files.readString(sp))
                import scala.jdk.CollectionConverters._
                // the sweep artifact's git HEAD (r16 judge: the
                // "same-HEAD" cross-check silently compared this
                // round's run against LAST round's sweep because
                // nothing recorded which code the sweep measured)
                val swHead = Option(node.get("head")).map(_.asText())
                  .filter(_.nonEmpty)
                // exact-prefix match (r15 advisory): every sweep label
                // ('10x sf0.1 …', '100x sf0.1 …') CONTAINS "sf0.1" —
                // the driver-scale point is the one whose label STARTS
                // with it, not whichever happens to be first in the
                // points array
                node.get("points").elements().asScala
                  .find(p => p.has("label") && sfDir.contains("sf0.1") && {
                    val l = p.get("label").asText()
                    l == "sf0.1" || l.startsWith("sf0.1 ") ||
                      l.startsWith("sf0.1(")
                  })
                  .flatMap(p => Option(p.get("spark_wall_seq_warm_sec"))
                    .map(_.asDouble()))
                  .map(v => (v, swHead))
              }
            } catch { case _: Throwable => None }
            // Real-oracle-subset decomposition (r15 judge item #5): the
            // subset ratio regressed 1.98× → 2.3-2.4× with a changed
            // composition and a faster DuckDB wall, and nothing
            // decomposed it. Per-query: prior vs this spark seconds
            // AND duckdb seconds for every subset member present in
            // both rounds, plus the composition delta (members only in
            // one round), so engine drift separates from composition
            // and from oracle-side speedups.
            // Prior FULL per-query maps: the committed BENCH_r{N}.json
            // is the driver's bounded tail-window wrapper — it carries
            // only the compact top-15 line and no per-query duckdb
            // map, which is why the r16 decomposition silently emitted
            // nothing (readTree over the raw log tail threw, and the
            // error went to stderr instead of the artifact). The full
            // maps live in committed bench_history/BENCH_FULL_r{N}
            // .json; every sf0.1 run also refreshes
            // bench_history/BENCH_FULL_latest.json. Failures now land
            // IN the artifact as subset_decomposition_error.
            def jesc(s: String): String =
              s.replaceAll("[\"\\\\\\n\\r\\t]", " ").take(300)
            val subsetCmp: String = subsetThis.map { case (sparkPer, duckPer, both) =>
              try {
                import scala.jdk.CollectionConverters._
                // the decomposition prior is pinned to the SAME round
                // as prior_round_comparison (r17 advisory: the two
                // blocks selected priors independently — max
                // BENCH_r{N}.json in cwd vs max bench_history file —
                // so out-of-sync sets produced one comparison object
                // whose deltas came from different rounds, and a
                // rerun at a committed round decomposed against its
                // own artifact, vacuously)
                val histDir = Paths.get("bench_history")
                val prior = Some(histDir.resolve(s"BENCH_FULL_r$rn.json"))
                  .filter(Files.exists(_)).map(p => (rn, p))
                prior match {
                  case None =>
                    s""","subset_decomposition_error":"bench_history/BENCH_FULL_r$rn.json missing — the decomposition prior must be the SAME round as prior_round_comparison (BENCH_r$rn.json); commit the full artifact under that name""""
                  case Some((prn, fullPath)) =>
                    val node = new com.fasterxml.jackson.databind.ObjectMapper()
                      .readTree(Files.readString(fullPath))
                    def qmap(n: com.fasterxml.jackson.databind.JsonNode)
                      : Map[String, Double] =
                      n.properties().asScala
                        .filter(_.getValue.isNumber)
                        .map(e => e.getKey -> e.getValue.asDouble()).toMap
                    val pSpark = Option(node.get("queries")).map(qmap)
                      .getOrElse(Map.empty[String, Double])
                    val pDuckQ = Option(node.get("duckdb_oracle"))
                      .flatMap(d => Option(d.get("queries"))).map(qmap)
                      .getOrElse(Map.empty[String, Double])
                    val pRatio = Option(node.get("real_oracle_subset"))
                      .flatMap(r => Option(r.get("ratio"))).map(_.asDouble())
                    if (pSpark.size < 20 || pDuckQ.size < 20)
                      s""","subset_decomposition_error":"bench_history/BENCH_FULL_r$prn.json has truncated maps (spark n=${pSpark.size}, duckdb n=${pDuckQ.size}) — need the full artifact""""
                    else {
                      val common = both.filter(n =>
                        pSpark.contains(n) && pDuckQ.contains(n)).toSeq.sorted
                      val addedM = (both -- common.toSet).toSeq.sorted
                      val sDelta = common.map(n => sparkPer(n) - pSpark(n)).sum
                      val dDelta = common.map(n => duckPer(n) - pDuckQ(n)).sum
                      val movers = common
                        .map(n => (n, sparkPer(n) - pSpark(n), duckPer(n) - pDuckQ(n)))
                        .sortBy { case (_, sd, dd) => -(math.abs(sd) + math.abs(dd)) }
                        .take(10)
                        .map { case (n, sd, dd) =>
                          s""""$n":{"spark_prior_s":${"%.3f".formatLocal(Locale.ROOT, pSpark(n))},"spark_this_s":${"%.3f".formatLocal(Locale.ROOT, sparkPer(n))},"spark_delta_s":${"%.3f".formatLocal(Locale.ROOT, sd)},"duckdb_prior_s":${"%.3f".formatLocal(Locale.ROOT, pDuckQ(n))},"duckdb_this_s":${"%.3f".formatLocal(Locale.ROOT, dd + pDuckQ(n))},"duckdb_delta_s":${"%.3f".formatLocal(Locale.ROOT, dd)}}"""
                        }.mkString("{", ",", "}")
                      val thisRatioStr =
                        "\"ratio\"\\s*:\\s*([0-9.]+)".r
                          .findFirstMatchIn(subsetSummary).map(_.group(1))
                          .getOrElse("null")
                      s""","subset_decomposition":{"prior":"bench_history/BENCH_FULL_r$prn.json","prior_subset_ratio":${pRatio.map("%.2f".formatLocal(Locale.ROOT, _)).getOrElse("null")},"this_subset_ratio":$thisRatioStr,"common_n":${common.size},"members_added_this_round":${addedM.map("\"" + _ + "\"").mkString("[", ",", "]")},"common_spark_delta_sum_s":${"%.3f".formatLocal(Locale.ROOT, sDelta)},"common_duckdb_delta_sum_s":${"%.3f".formatLocal(Locale.ROOT, dDelta)},"top_movers":$movers,"note":"deltas over members present in BOTH rounds; members_added plus duckdb-side deltas are the composition/oracle share of a subset-ratio move"}"""
                    }
                }
              } catch { case e: Throwable =>
                s""","subset_decomposition_error":"${jesc(s"${e.getClass.getSimpleName}: ${e.getMessage}")}""""
              }
            }.getOrElse(s""","subset_decomposition_error":"no duckdb baseline ran this pass"""")
            (pSeq, pDuck, duckWarmWall) match {
              case (Some(ps), Some(pd), Some(dw)) =>
                val base =
                  s""","prior_round_comparison":{"prior":"BENCH_r$rn.json","prior_wall_seq_s":${"%.3f".formatLocal(Locale.ROOT, ps)},"this_wall_seq_s":${"%.3f".formatLocal(Locale.ROOT, wallSeq)},"seq_delta_pct":${"%.1f".formatLocal(Locale.ROOT, (wallSeq - ps) / ps * 100)},"prior_duckdb_warm_s":${"%.3f".formatLocal(Locale.ROOT, pd)},"this_duckdb_warm_s":${"%.3f".formatLocal(Locale.ROOT, dw)},"structural_changes":"$changes""""
                val sweepKeys = sweepSeq.map { case (sw, swHead) =>
                  val dThis = (wallSeq - ps) / ps
                  val dSweep = (sw - ps) / ps
                  // the cross-check is only meaningful when the sweep
                  // measured THIS code: r16's flag compared this
                  // round's run against the prior round's sweep
                  // (vacuous agreement). A sweep artifact without a
                  // head key, or with a different head, is stale.
                  val fresh = swHead.exists(sourceUnchangedSince)
                  val agree =
                    if (fresh) (dThis * dSweep >= 0).toString else "null"
                  s""","sweep_wall_seq_s":${"%.3f".formatLocal(Locale.ROOT, sw)},"sweep_vs_prior_delta_pct":${"%.1f".formatLocal(Locale.ROOT, dSweep * 100)},"sweep_head":${swHead.map("\"" + _ + "\"").getOrElse("null")},"sweep_stale":${!fresh},"signs_agree_with_sweep":$agree,"note":"both deltas are vs the prior round; the agreement flag is null unless src/main+build.sbt are diff-identical between BENCH_SCALE.json's head and this run's HEAD — disagreement then marks one of the two same-code runs as box noise"""".stripMargin
                }.getOrElse("")
                base + sweepKeys + subsetCmp + "}"
              case _ => ""
            }
          }
        case None => ""
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] prior-round comparison FAILED: ${e.getMessage}"); ""
    }

    // Shared headline keys. Since round 4 the wall key is named for
    // what it measures (post-warmup concurrent wall, not cold), the
    // artifact carries a schema_version, and `queries` is explicitly
    // labeled: per-query seconds come from the warm PAR=1 pass (r01/
    // r02 recorded contended concurrent times under the same key).
    val loadAfter = loadSnapshot()
    // this run's provenance (r17 advisory: gitHead was dead code and
    // no key tied a bench artifact to the code it measured): run_head
    // is the commit the numbers attribute to, nulled when the working
    // tree is dirty over src/main+build.sbt — a dirty run's numbers
    // belong to no commit, and downstream same-HEAD cross-checks must
    // not treat them as that commit's.
    val treeDirty = sourceDirty()
    val runHead = if (treeDirty) None else gitHead()
    val headline =
      s""""value":${"%.3f".formatLocal(Locale.ROOT, wallPar)},"unit":"sec","schema_version":8,"run_head":${runHead.map("\"" + _ + "\"").getOrElse("null")},"run_tree_dirty":$treeDirty,"wall_par${par}_postwarm_sec":${"%.3f".formatLocal(Locale.ROOT, wallPar)},"wall_par${par}_coldplans_sec":${"%.3f".formatLocal(Locale.ROOT, wallParCold)},"wall_seq_warm_sec":${"%.3f".formatLocal(Locale.ROOT, wallSeq)},"sum_query_sec":${"%.3f".formatLocal(Locale.ROOT, good.map(_.sec).sum)},"parallelism":$par,"n_queries":${outSeq.size},"queries_methodology":"seq_warm_par1_min2_min3_top15_and_ge0p8","jvm_max_heap_mb":${Runtime.getRuntime.maxMemory() >> 20},"idle_gate":$gate,"load_before":$loadBefore,"load_after":$loadAfter"""
    val json =
      s"""{"metric":"total",$headline,"queries":$qs,"errors":$errs,"errors_par_only":$parOnlyErrs,"excluded_queries":$excludedJson$onlyJson,"skipped_blocks":${skippedBlocks.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")}$duck$vector$probeDegrade$segTp$stState$clusterProbe$suiteFixedCost$priorCmp,"sf":"$sfDir"}"""
    Files.writeString(
      Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")), json)
    // committed full-artifact sidecar (r16 judge item #3): the driver's
    // BENCH_r{N}.json keeps only the compact tail line, so the full
    // per-query spark+duckdb maps were lost to history and the
    // round-over-round decomposition had nothing to diff against.
    // Every sf0.1 run refreshes _latest; the round snapshot commits it
    // (renamed BENCH_FULL_r{N}.json once the round number is known).
    // Gated on sf0.1 so sweep points at other scales don't clobber it.
    if (sfDir.contains("sf0.1")) try {
      val hd = Paths.get("bench_history")
      Files.createDirectories(hd)
      Files.writeString(hd.resolve("BENCH_FULL_latest.json"), json)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] bench_history write FAILED: ${e.getMessage}")
    }

    // Compact summary line: the driver parses the run's log TAIL (a
    // bounded window), so the last stdout line must be a complete JSON
    // object well under that window. The full artifact (all per-query
    // times + the embedded DuckDB detail) is the line above and the
    // BENCH_LOCAL.json copy; the compact line carries the headline
    // numbers plus the slowest queries, with the truncation disclosed.
    val duckKeys = duckWarmWall.map { w =>
      s""","duckdb_wall_warm_sec":${"%.3f".formatLocal(Locale.ROOT, w)},"ratio_wall_par_vs_duckdb":${"%.2f".formatLocal(Locale.ROOT, wallPar / w)},"ratio_wall_seq_vs_duckdb":${"%.2f".formatLocal(Locale.ROOT, wallSeq / w)}$subsetSummary"""
    }.getOrElse("")
    val slowest = good.sortBy(-_.sec)
    def compactLine(k: Int): String = {
      val topQ = slowest.take(k)
        .map(r => s""""${r.name}":${"%.3f".formatLocal(Locale.ROOT, r.sec)}""")
        .mkString("{", ",", "}")
      s"""{"metric":"total",$headline,"queries":$topQ,"queries_shown":${math.min(k, slowest.size)},"queries_full":"BENCH_LOCAL.json","n_errors":${seqFailed.size}$duckKeys,"sf":"$sfDir"}"""
    }
    // shrink until the line is safely inside a 2000-char tail window
    val compact = Iterator(15, 10, 5, 0).map(compactLine).find(_.length <= 1500)
      .getOrElse(compactLine(0))

    spark.stop()
    // bare final lines on stdout, after Spark's shutdown logging:
    // full artifact first, compact summary LAST (tail-window parsers
    // see the compact line whole; full-stdout parsers can use either)
    println(json)
    println(compact)
    System.out.flush()
  }
}

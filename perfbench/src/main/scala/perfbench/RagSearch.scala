package perfbench

import java.util.concurrent.{Callable, ConcurrentLinkedQueue, CyclicBarrier, Executors}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import graft.fixtures.Fixtures
import graft.ingest.{HashEmbedder, Ingest}
import graft.operators.{VectorIndex, VectorSearch}
import graft.search.SearchPipeline

/** `rag_search`: the in-memory read path. Set-up builds a cached RAG
  * index (the sf0.1 document texts under seeded titles,
  * `Ingest.buildIndex`, dim 256) and a
  * cached IVF index (Gaussian-mixture corpus, `VectorIndex.train` +
  * `assign`); then `nproc` closed-loop clients alternate `search`
  * (`SearchPipeline.search(...).collect()`) and `ann`
  * (`VectorIndex.searchApprox`, nprobe 8, k 10). */
object RagSearch {
  val Dim = 256
  val Docs = 5000 // the 5,000 sf0.1 documents, once
  val IvfRows = 50000L
  val IvfDim = 128
  val IvfK = 64
  val IvfCenters = 128
  val IvfNoise = 1.6
  val Nprobe = 8
  val AnnK = 10
  val SearchPool = 8
  /** Probe cost varies with the clusters a vector ranks first, so the
    * pool is large enough that its mean cost barely changes with the
    * seed. */
  val AnnPool = 32
  val FetchK = 20 // SearchPipeline default: max(topK * 4, topK + 5) at topK 5

  final case class Sample(kind: String, ms: Double, ok: Boolean, traced: Boolean)

  /** Plain driver-side cosine, in double. */
  def cosine(v: Array[Float], q: Array[Float]): Double = {
    var d = 0.0; var n = 0.0; var m = 0.0; var j = 0
    while (j < v.length) { d += v(j) * q(j); n += v(j) * v(j); m += q(j) * q(j); j += 1 }
    if (n == 0 || m == 0) 0.0 else d / math.sqrt(n * m)
  }

  /** Exact top-k by a driver-side cosine scan; returns the ids and the
    * k-th score. */
  def refTopK(ids: Array[Long], vecs: Array[Array[Float]], q: Array[Float],
              k: Int): (Array[Long], Double) = {
    val scores = vecs.map(cosine(_, q))
    val kk = math.min(k, ids.length)
    val sorted = scores.clone()
    java.util.Arrays.sort(sorted)
    val kth = sorted(sorted.length - kk)
    val top = ids.indices.filter(i => scores(i) >= kth)
      .sortBy(i => (-scores(i), ids(i))).take(kk)
    (top.map(ids).toArray, scores(top.last))
  }

  def collectVectors(df: DataFrame, idCol: String, embCol: String): (Array[Long], Array[Array[Float]]) = {
    import df.sparkSession.implicits._
    val rows = df.select(col(idCol).cast("long"), col(embCol)).as[(Long, Array[Float])].collect()
    (rows.map(_._1), rows.map(_._2))
  }

  def parallel[T](n: Int, tasks: Seq[() => T]): Seq[T] = {
    val pool = Executors.newFixedThreadPool(n)
    try pool.invokeAll(tasks.map(t => new Callable[T] { def call(): T = t() }).asJava)
      .asScala.map(_.get()).toSeq
    finally pool.shutdown()
  }

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val seed = ctx.seed
    val tr = ctx.trace
    var attempted = 0L
    var failed = 0L
    def check(ok: Boolean, what: => String): Unit = {
      attempted += 1
      if (!ok) { failed += 1; System.err.println(s"[perfbench] check failed: $what") }
    }

    // ---- set-up: search index
    val docs = Gen.searchDocs(Gen.documents(spark, ctx.args.extra("data")), seed, Docs).toSeq
    val docsDf = Gen.docsFrame(spark, docs, ctx.nproc * 2)
    val schema = Ingest.inferSchema(docsDf.columns.toSeq)
    val index = ctx.phase("search_index") {
      val ix = Ingest.buildIndex(docsDf, schema, "bench", dim = Dim).cache()
      ctx.note("search.chunks", ix.count())
      ix
    }
    // after the real build, so the layer split is not a cold-start split
    if (tr.enabled) IngestLayers.record(ctx, "setup", docsDf, schema, Dim, None)
    ctx.note("search.docs", docs.size)
    ctx.note("search.dim", Dim)
    val (chunkIds, chunkVecs) = ctx.phase("search_collect")(collectVectors(index, "chunk_id", "embedding"))
    ctx.note("search.chunks_per_doc", chunkIds.length.toDouble / docs.size)
    // chunks whose content takes the anchor predicate's non-ASCII (NFKC)
    // branch: the sf0.1 texts are ASCII, but Ingest's Q&A expansion is not
    ctx.note("search.non_ascii_chunk_share", index.filter(col("content").rlike("\\P{ASCII}")).count()
      .toDouble / chunkIds.length)

    // ---- set-up: IVF index
    val vecs = ctx.phase("ivf_corpus") {
      val v = Fixtures.gaussianMixture(spark, IvfRows, IvfDim, IvfCenters, IvfNoise, seed).cache()
      v.count()
      v
    }
    val (model, trainS) = Spark.timeS(VectorIndex.train(vecs, "embedding", IvfK, seed))
    val (ivf, assignS) = Spark.timeS {
      val a = VectorIndex.assign(vecs, "embedding", model).cache()
      a.count()
      a
    }
    val clusterRows = ivf.groupBy("cluster").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val (annIds, annVecs) = ctx.phase("ivf_collect")(collectVectors(vecs, "vec_id", "embedding"))
    ctx.note("ann.rows", IvfRows); ctx.note("ann.dim", IvfDim)
    ctx.note("ann.clusters", IvfK); ctx.note("ann.nprobe", Nprobe); ctx.note("ann.k", AnnK)
    ctx.note("ann.train_s", trainS); ctx.note("ann.assign_s", assignS)

    // ---- set-up: query pools and expected answers
    val questions = Gen.questions(seed, SearchPool)
    val qr = Gen.rnd(seed, 31)
    val annQueries = Array.fill(AnnPool) {
      val v = annVecs(qr.nextInt(annVecs.length))
      v.map(x => (x + qr.nextGaussian() * 0.1).toFloat)
    }
    val annRef = ctx.phase("ann_reference")(parallel(ctx.nproc,
      annQueries.toSeq.map(q => () => refTopK(annIds, annVecs, q, AnnK)._1)).toArray)
    def doSearch(q: String): Array[Row] = SearchPipeline.search(index, q, dim = Dim).collect()
    def doAnn(q: Array[Float]): Array[Long] =
      VectorIndex.searchApprox(ivf, model, "vec_id", "embedding", q, AnnK, Nprobe)
        .collect().map(_.getLong(0))
    val expSearch = ctx.phase("search_expected")(
      parallel(ctx.nproc, questions.toSeq.map(q => () => doSearch(q))).toArray)
    questions.indices.foreach { i =>
      val qv = HashEmbedder.embed("query: " + questions(i).trim, Dim)
      val (top, kth) = refTopK(chunkIds, chunkVecs, qv, FetchK)
      val allowed = top.toSet
      // a chunk tied with the fetch_k-th score within float error also qualifies
      val ok = expSearch(i).forall { r =>
        val id = r.getAs[Long]("chunk_id")
        allowed(id) || cosine(chunkVecs(chunkIds.indexOf(id)), qv) >= kth - 1e-5
      }
      check(ok && expSearch(i).nonEmpty, s"search '${questions(i)}' outside the reference top-$FetchK")
    }
    val expSearchStr = expSearch.map(_.map(_.toString).toSeq)
    val expAnn = ctx.phase("ann_expected")(
      parallel(ctx.nproc, annQueries.toSeq.map(q => () => doAnn(q))).toArray)
    val recalls = expAnn.indices.map(i => VectorIndex.recallAtK(annRef(i).toSeq, expAnn(i).toSeq))
    ctx.note("ann.recall_at10", Stats.mean(recalls))
    val probedRows = annQueries.map(q => model.ranked(q).take(Nprobe).map(c => clusterRows.getOrElse(c, 0L)).sum)
    ctx.note("search.pool", SearchPool); ctx.note("ann.pool", AnnPool)
    ctx.note("ann.pool_probed_fraction", Stats.mean(probedRows.map(_ / IvfRows.toDouble).toSeq))
    ctx.note("clients", ctx.nproc)
    val indexMb = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
    ctx.note("cached_index_mb", indexMb); ctx.note("heap_max_mb", ctx.heapMaxMb)

    // ---- measured phase: nproc closed-loop clients, half search, half ann
    val samples = new ConcurrentLinkedQueue[Sample]()
    val topkMs = new ConcurrentLinkedQueue[java.lang.Double]()
    val opIds = new ConcurrentLinkedQueue[String]()
    // Clients run in rounds: each issues one op, waits for its reply, then
    // waits for the others, so every round holds the same mix (half the
    // clients searching, half probing) and latencies compare across runs.
    // Set-up's expected answers ran every pool entry once; that is the
    // warm-up.
    // The clients walk each pool in turn, so every run spreads its
    // operations evenly over the pool instead of over a random draw of it.
    val nextSearch, nextAnn = new AtomicInteger(0)
    def client(c: Int, stop: AtomicBoolean, round: CyclicBarrier): Unit = {
      val r = Gen.rnd(seed, 100 + c)
      var k = 0
      while (!stop.get) {
        // a traced run traces every other pair of ops, so the tracing
        // overhead is the traced minus the untraced figure of one run
        val traced = tr.enabled && (k / 2) % 2 == 1
        val search = (k + c) % 2 == 0
        val id = s"c$c-$k"
        val s0 = System.nanoTime()
        val ok =
          if (search) {
            val i = nextSearch.getAndIncrement() % SearchPool
            val rows = if (!traced) doSearch(questions(i)) else ctx.op(id) {
              opIds.add(id)
              tr.span("search.op") {
                val df = tr.span("search.build")(SearchPipeline.search(index, questions(i), dim = Dim))
                tr.span("search.plan")(df.queryExecution.executedPlan)
                tr.span("search.exec")(df.collect())
              }
            }
            rows.map(_.toString).toSeq == expSearchStr(i)
          } else {
            val i = nextAnn.getAndIncrement() % AnnPool
            val ids = if (!traced) doAnn(annQueries(i)) else ctx.op(id + "-ann") {
              tr.span("ann.op") {
                val df = tr.span("ann.build")(VectorIndex.searchApprox(
                  ivf, model, "vec_id", "embedding", annQueries(i), AnnK, Nprobe))
                tr.span("ann.exec")(df.collect().map(_.getLong(0)))
              }
            }
            ids.toSeq == expAnn(i).toSeq
          }
        val ms = (System.nanoTime() - s0) / 1e6
        samples.add(Sample(if (search) "search" else "ann", ms, ok, traced))
        if (traced && search) {
          // the brute-force top-k kernel alone, outside the op's latency
          val qv = HashEmbedder.embed("query: " + questions(r.nextInt(SearchPool)).trim, Dim)
          val (_, s) = Spark.timeS(ctx.op(id + "-topk")(tr.span("vector.topk")(
            VectorSearch.knnExact(index, "chunk_id", "embedding", qv.toSeq, FetchK).collect())))
          topkMs.add(s * 1000)
        }
        k += 1
        round.await()
      }
    }
    val setupS = ctx.elapsedS
    ctx.listen(tr.enabled)
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val codegen0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val jit0 = jit.getTotalCompilationTime
    val t0 = System.nanoTime()
    val cpu0 = ctx.cpuS
    val stop = new AtomicBoolean(false)
    val deadline = t0 + (ctx.args.seconds * 1e9).toLong
    val round = new CyclicBarrier(ctx.nproc, () => stop.set(System.nanoTime() >= deadline))
    parallel(ctx.nproc, (0 until ctx.nproc).map(c => () => client(c, stop, round)))
    val wallS = (System.nanoTime() - t0) / 1e9
    val cpuS = ctx.cpuS - cpu0
    // Janino compiles of generated code and JVM JIT time per operation:
    // code generated for one question or probe vector is not reused by
    // the next, so every operation compiles new classes
    val ops = math.max(1, samples.size)
    val codegenPerOp = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - codegen0).toDouble / ops
    val jitMsPerOp = (jit.getTotalCompilationTime - jit0).toDouble / ops
    ctx.note("search.codegen_compiles", codegenPerOp)
    ctx.note("search.jit_ms", jitMsPerOp)

    val all = samples.asScala.toSeq
    all.foreach(s => check(s.ok, s"${s.kind} result differs from set-up"))
    def lat(kind: String, traced: Boolean) = all.filter(s => s.kind == kind && s.traced == traced).map(_.ms)
    val untracedSearch = lat("search", traced = false)
    val untracedAnn = lat("ann", traced = false)
    val qps = all.size / wallS
    ctx.note("seconds_per_100_ops", 100.0 / qps)
    ctx.noteLatency("search", untracedSearch)
    ctx.noteLatency("ann", untracedAnn)
    ctx.note("rag_qps", qps)
    val heap = ctx.heapRetainedMb()
    ctx.note("setup_s", setupS); ctx.note("heap_retained_mb", heap)

    val metrics =
      if (!tr.enabled) Seq(
        "setup_s" -> setupS,
        "main_ms" -> Stats.median(untracedSearch),
        "side_ms" -> Stats.median(untracedAnn),
        "cpu_work_s" -> 100.0 * cpuS / all.size,
        "heap_retained_mb" -> heap)
      else {
        val c = ctx.recordOps("search", opIds.asScala.toSeq)
        def med(n: String) = { val d = tr.durationsMs(n); if (d.isEmpty) 0.0 else Stats.median(d) }
        Seq(
          "search.build_ms" -> med("search.build"),
          "search.plan_ms" -> med("search.plan"),
          "search.exec_ms" -> med("search.exec"),
          "search.jobs" -> c.getOrElse("jobs", 0.0),
          "search.stages" -> c.getOrElse("stages", 0.0),
          "search.tasks" -> c.getOrElse("tasks", 0.0),
          "search.task_run_ms" -> c.getOrElse("run_ms", 0.0),
          "vector.topk_ms" -> (if (topkMs.isEmpty) 0.0 else Stats.median(topkMs.asScala.map(_.doubleValue).toSeq)),
          "ann.probe_ms" -> med("ann.op"),
          "ann.probed_rows" -> Stats.mean(probedRows.map(_.toDouble).toSeq),
          "ann.probed_fraction" -> Stats.mean(probedRows.map(_ / IvfRows.toDouble).toSeq),
          "ann.recall_at10" -> Stats.mean(recalls),
          "ann.train_s" -> trainS,
          "ann.assign_s" -> assignS,
          "search.codegen_compiles" -> codegenPerOp,
          "search.jit_ms" -> jitMsPerOp,
          "trace.overhead_ms" -> (Stats.median(lat("search", traced = true)) - Stats.median(untracedSearch))
        ) ++ IngestLayers.metrics
      }
    index.unpersist(); ivf.unpersist(); vecs.unpersist()
    Result(attempted, failed, metrics)
  }
}

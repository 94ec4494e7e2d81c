package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicReference

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.{HashEmbedder, Ingest}
import graft.operators.{Dedup, VectorIndex}
import graft.search.SearchPipeline
import graft.sources.Sinks

/** Ingest layer split, from outside: each layer's self time is the
  * materialisation (into the no-op sink) of the public-API prefix ending
  * at that layer minus the prefix before it. The chunk prefix mirrors
  * `Ingest.buildIndex`'s own composition of `expandDocuments` and
  * `chunkUdf`. Only traced runs call [[record]]. */
object IngestLayers {
  private var expandS, chunkS, embedS = 0.0
  private var docs, chunks = 0L
  private var used = false

  /** Returns the (assigned, when a model is given) chunk frame and the
    * wall of materialising it, for the next layer's subtraction. */
  def record(ctx: Ctx, phase: String, docsDf: DataFrame, schema: Ingest.IngestSchema,
             dim: Int, model: Option[VectorIndex.Model]): (DataFrame, Double) = synchronized {
    used = true
    val tr = ctx.trace
    def timed(name: String)(df: DataFrame): Double =
      Spark.timeS(ctx.op(s"$phase-$name")(tr.span(name)(Spark.noop(df))))._2
    val ex = Ingest.expandDocuments(docsDf, schema)
    val chunked = ex.select(col("doc_id"), col("title"), col("oo"), col("metadata"),
      posexplode(Ingest.chunkUdf(700, 120)(col("content"))).as(Seq("chunk_seq", "content")))
    val built = Ingest.buildIndex(docsDf, schema, phase, dim = dim)
    val t1 = timed("ingest.expand")(ex)
    val t2 = timed("ingest.chunk")(chunked)
    val t3 = timed("ingest.embed")(built)
    expandS += t1; chunkS += t2 - t1; embedS += t3 - t2
    docs += docsDf.count()
    chunks += chunked.count()
    model match {
      case Some(m) =>
        val assigned = VectorIndex.assign(built, "embedding", m)
        (assigned, timed("ann.assign")(assigned))
      case None => (built, t3)
    }
  }

  def metrics: Seq[(String, Double)] =
    if (!used) Nil
    else Seq("ingest.expand_s" -> expandS, "ingest.chunk_s" -> chunkS,
      "ingest.embed_s" -> embedS, "ingest.chunks_per_doc" -> chunks.toDouble / docs)
}

/** `index_ingest`: writes beside reads, on disk. One writer appends
  * seeded batches of the sf0.1 documents (replicated under seeded
  * titles) to a partitioned parquet index (`Ingest.buildIndex` →
  * `VectorIndex.assign` → `Dedup.exactDedup` against the stored chunks
  * → `Sinks.insertRows` into `save_name=<collection>`); a share of the
  * batches re-ingests earlier documents. One reader concurrently runs
  * `SearchPipeline.search` over `spark.read.parquet(dir)` and must see
  * every batch committed before its read began. A traced `catalog` run
  * runs this pair for the write path's layer metrics (`sinks.*`,
  * `dedup.*`, `reader.*`); every other batch and read is traced. */
object IndexIngest {
  val Dim = 256
  val InitialDocs = 1000
  val BatchDocs = 200
  val ReingestEvery = 4
  val ClusterK = 16
  val Collections = Seq("kb_a", "kb_b", "kb_c", "kb_d")
  val ReaderPool = 16
  val MaxDocs = 40000

  /** Data files under `dir` (recursively), by file name; skips the
    * `_`/`.`-prefixed in-flight and marker entries, as Spark's listing does. */
  def dataFiles(dir: String): Map[String, Long] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.getName.startsWith("_") || f.getName.startsWith(".")) Nil
      else if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    Option(new java.io.File(dir).listFiles()).toSeq.flatten.flatMap(walk)
      .map(f => f.getName -> f.length()).toMap
  }

  /** Runs the writer/reader pair for `seconds`. */
  def run(ctx: Ctx, seconds: Int): Result = {
    val spark = ctx.spark
    val seed = ctx.seed
    val tr = ctx.trace
    var attempted = 0L
    var failed = 0L
    def check(ok: Boolean, what: => String): Unit = synchronized {
      attempted += 1
      if (!ok) { failed += 1; System.err.println(s"[perfbench] check failed: $what") }
    }
    val dir = ctx.workDir("ingest-index")
    val corpus = Gen.searchDocs(Gen.documents(spark, ctx.args.extra("data")), seed, MaxDocs)
    val schema = Ingest.inferSchema(Gen.DocSchema.fieldNames.toSeq)
    val srcBytes = (d: Gen.Doc) => (d.title + d.text).getBytes("UTF-8").length.toLong

    // ---- set-up: IVF model over the initial corpus, initial index
    val initChunks = ctx.phase("initial_chunks") {
      val c = Ingest.buildIndex(Gen.docsFrame(spark, corpus.take(InitialDocs).toSeq, ctx.nproc),
        schema, "init", dim = Dim).cache()
      c.count()
      c
    }
    val model = VectorIndex.train(initChunks, "embedding", ClusterK, seed)
    initChunks.unpersist()

    val committed = new AtomicReference[Set[String]](Set.empty)
    val ingested = mutable.LinkedHashMap.empty[Long, Gen.Doc]
    var filesWritten = 0L
    var bytesWritten = 0L
    var writeS, dedupS = 0.0
    var newChunks = 0L
    val tracedBatches = mutable.ArrayBuffer.empty[String]

    /** One writer batch; returns when the batch is committed. */
    def ingest(batch: Seq[Gen.Doc], collection: String, traced: Boolean, id: String): Unit = {
      val df = Gen.docsFrame(spark, batch, ctx.nproc)
      val (chunks, prefixS) =
        if (traced) IngestLayers.record(ctx, id, df, schema, Dim, Some(model))
        else (VectorIndex.assign(Ingest.buildIndex(df, schema, collection, dim = Dim), "embedding", model), 0.0)
      val before = dataFiles(dir)
      val cand =
        if (before.isEmpty) chunks.withColumn("_src", lit(1))
        else chunks.withColumn("_src", lit(1)).unionByName(
          spark.read.parquet(dir).select(col("chunk_id"), col("content")).withColumn("_src", lit(0)),
          allowMissingColumns = true)
      // stored chunks win over new ones with the same content
      val kept = Dedup.exactDedup(cand.withColumn("_ord", col("_src") * lit(1L << 50) + col("chunk_id")),
        "content", "_ord").filter(col("_src") === 1).drop("_src", "_ord", "save_name")
      ctx.op(id) {
        if (traced) {
          newChunks += chunks.count()
          val (_, ds) = Spark.timeS(tr.span("dedup")(Spark.noop(kept)))
          dedupS += ds - prefixS
          tracedBatches += id
        }
        val (_, ws) = Spark.timeS(tr.span("sinks.write")(
          Sinks.insertRows(spark, s"$dir/save_name=$collection", kept)))
        if (traced) writeS += ws
      }
      val after = dataFiles(dir)
      val added = after.keySet -- before.keySet
      filesWritten += added.size
      bytesWritten += added.toSeq.map(after).sum
      committed.set(after.keySet)
      batch.foreach(d => ingested(d.id) = d)
    }

    ingest(corpus.take(InitialDocs).toSeq, Collections.head, traced = false, "init")
    val questions = Gen.questions(seed, ReaderPool, salt = 22)
    def read(q: String): (Array[String], Array[org.apache.spark.sql.Row]) = {
      val df = spark.read.parquet(dir)
      (df.inputFiles, SearchPipeline.search(df, q, dim = Dim).collect())
    }
    read(questions(0)) // warm the reader path once
    ctx.note("ingest.initial_docs", InitialDocs); ctx.note("ingest.batch_docs", BatchDocs)
    ctx.note("ingest.reingest_share", 1.0 / ReingestEvery); ctx.note("ingest.clusters", ClusterK)
    ctx.note("ingest.clients", "1 writer + 1 reader")
    filesWritten = 0; bytesWritten = 0

    // ---- measured phase
    val t0 = System.nanoTime()
    val total = seconds * 1e9
    val deadline = t0 + total.toLong
    val batchMs = new ConcurrentLinkedQueue[java.lang.Double]()
    val readMs = new ConcurrentLinkedQueue[(Double, Boolean)]()
    val readExec = new ConcurrentLinkedQueue[java.lang.Double]()
    val readFiles = new ConcurrentLinkedQueue[java.lang.Double]()
    val readerOps = new ConcurrentLinkedQueue[String]()
    val writer = new Thread(() => {
      val r = Gen.rnd(seed, 41)
      var next = InitialDocs
      var batches = Vector(corpus.slice(0, InitialDocs).toSeq)
      var k = 0
      while (System.nanoTime() < deadline && next + BatchDocs <= MaxDocs) {
        // every other batch and every other read is traced
        val traced = k % 2 == 1
        // every ReingestEvery-th batch re-sends a seeded earlier batch
        val batch =
          if (k % ReingestEvery == ReingestEvery - 1) batches(r.nextInt(batches.size)).take(BatchDocs)
          else { val b = corpus.slice(next, next + BatchDocs).toSeq; next += BatchDocs; batches :+= b; b }
        val s0 = System.nanoTime()
        ingest(batch, Collections(r.nextInt(Collections.size)), traced, s"w$k")
        if (!traced) batchMs.add((System.nanoTime() - s0) / 1e6)
        k += 1
      }
    })
    val reader = new Thread(() => {
      val r = Gen.rnd(seed, 42)
      var k = 0
      while (System.nanoTime() < deadline) {
        val traced = k % 2 == 1
        val q = questions(r.nextInt(ReaderPool))
        val snap = committed.get
        val s0 = System.nanoTime()
        val files =
          if (!traced) read(q)._1
          else ctx.op(s"r$k")(tr.span("reader.op") {
            readerOps.add(s"r$k")
            val df = tr.span("reader.build")(SearchPipeline.search(spark.read.parquet(dir), q, dim = Dim))
            val fs = df.inputFiles
            val (_, es) = Spark.timeS(tr.span("reader.exec")(df.collect()))
            readExec.add(es * 1000)
            fs
          })
        val ms = (System.nanoTime() - s0) / 1e6
        readFiles.add(files.length.toDouble)
        val seen = files.map(f => f.substring(f.lastIndexOf('/') + 1)).toSet
        val fresh = snap.subsetOf(seen)
        if (!fresh) System.err.println(s"[perfbench] reader $k missed ${(snap -- seen).size} committed files")
        readMs.add((ms, traced))
        check(fresh, s"reader $k missed committed batches")
        k += 1
      }
    })
    ctx.listen(true)
    writer.start(); reader.start(); writer.join(); reader.join()

    // ---- final checks: stored rows = distinct chunk contents of every
    // ingested document; reader results lie in the exact top fetch_k
    val all = spark.read.parquet(dir)
    val stored = all.count()
    val expected = Ingest.buildIndex(Gen.docsFrame(spark, ingested.values.toSeq, ctx.nproc),
      schema, "check", dim = Dim).select("content").distinct().count()
    check(stored == expected, s"index holds $stored rows, expected $expected distinct chunks")
    val (ids, vecs) = RagSearch.collectVectors(all, "chunk_id", "embedding")
    val byId = ids.zipWithIndex.toMap
    questions.take(2).foreach { q =>
      val rows = SearchPipeline.search(all, q, dim = Dim).collect()
      val qv = HashEmbedder.embed("query: " + q.trim, Dim)
      val (_, kth) = RagSearch.refTopK(ids, vecs, qv, RagSearch.FetchK)
      val ok = rows.forall(row => RagSearch.cosine(vecs(byId(row.getAs[Long]("chunk_id"))), qv) >= kth - 1e-5)
      check(ok, s"reader search '$q' outside the reference top-${RagSearch.FetchK}")
    }
    val idxBytes = Files.sizeOf(dir)
    val docBytes = ingested.values.map(srcBytes).sum
    val reads = readMs.asScala.toSeq
    val untracedReads = reads.filterNot(_._2).map(_._1)
    ctx.noteLatency("writer_batch", batchMs.asScala.map(_.doubleValue).toSeq)
    ctx.noteLatency("reader", untracedReads)
    ctx.note("index_bytes_per_doc_byte", idxBytes.toDouble / docBytes)
    ctx.note("index.rows", stored); ctx.note("index.files", dataFiles(dir).size)
    ctx.counters.drain()
    // rows the traced batches' inserts wrote (the no-op sink
    // materialisations in the same groups write none)
    val written = tracedBatches.flatMap(ctx.counters.get).map(_.recordsOut).sum
    ctx.recordOps("writer", tracedBatches.toSeq)
    ctx.recordOps("reader", readerOps.asScala.toSeq)
    val tracedReads = reads.filter(_._2).map(_._1)
    if (tracedReads.nonEmpty && untracedReads.nonEmpty)
      ctx.note("reader.trace_overhead_ms", Stats.median(tracedReads) - Stats.median(untracedReads))
    val metrics = Seq(
      "sinks.write_s" -> writeS,
      "sinks.files_written" -> filesWritten.toDouble,
      "sinks.bytes_written" -> bytesWritten.toDouble,
      "sinks.bytes_per_doc_byte" -> idxBytes.toDouble / docBytes,
      "dedup.s" -> dedupS,
      "dedup.dropped_ratio" -> (if (newChunks == 0) 0.0 else (newChunks - written).toDouble / newChunks),
      "reader.exec_ms" -> Stats.median(readExec.asScala.map(_.doubleValue).toSeq),
      "reader.files_scanned" -> Stats.mean(readFiles.asScala.map(_.doubleValue).toSeq))
    Result(attempted, failed, metrics)
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{ArrayContains, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, IntegerType}

import graft.functions.VectorFunctions

/** IVF-style approximate-nearest-neighbor index — the scale path that
  * replaces the reference's FAISS index (SURVEY §4 "ANN index";
  * enhanced_internal_db_service.py:602-630). Brute-force
  * [[VectorSearch.knnExact]] stays the exact/oracle baseline.
  *
  * Design (standard inverted-file ANN):
  *  - **train**: k-means centroids over (a sample of) the corpus
  *    (MLlib, one pass over a driver-bounded sample);
  *  - **assign**: each vector gets its nearest-centroid id — row-local
  *    with the centroid table broadcast in the plan literal;
  *  - **store**: parquet partitioned by `cluster` — a probe touches
  *    only nprobe partitions (partition pruning, never a full scan);
  *  - **query**: rank centroids on the driver (k × dim floats —
  *    trivially small), probe the top `nprobe` clusters, exact
  *    cosine rerank inside them. The query vector and the probe set
  *    enter the plan as array literals, which generated code reads as
  *    referenced objects, so one compiled plan serves every query.
  *
  * Recall/latency trade is nprobe/k: nprobe = k degrades to exact
  * search. At 100 TB the same layout holds — clusters are directories,
  * probing is partition pruning, rerank is a pruned scan.
  */
object VectorIndex {

  final case class Model(centroids: Array[Array[Float]]) {
    /** Squared L2 distance from centroid `c` to `v`. */
    private def distance(c: Int, v: Array[Float]): Double = {
      val ctr = centroids(c)
      var d = 0.0
      var i = 0
      while (i < math.min(ctr.length, v.length)) {
        val t = ctr(i) - v(i); d += t * t; i += 1
      }
      d
    }

    def nearest(v: Array[Float]): Int = {
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < centroids.length) {
        val d = distance(c, v)
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      best
    }

    /** Centroid ids ranked by distance to `v` (for probing); ties keep
      * id order (the sort is stable). */
    def ranked(v: Array[Float]): Seq[Int] = {
      val d = Array.tabulate(centroids.length)(distance(_, v))
      centroids.indices.sortBy(d(_))(Ordering.Double.TotalOrdering)
    }
  }

  /** Train k centroids (fixed seed → deterministic) on a seeded
    * SAMPLE of the corpus, never the full data: IVF centroids only
    * need to approximate the density, and a full-corpus fit at 100 TB
    * is a full-data ML job before a single probe can run.
    * `maxTrainSamples` (default 20k ≈ 80 MB of 1024-dim floats)
    * bounds the fit; one cheap count() sizes the sampling fraction.
    *
    * The fit itself runs ON THE DRIVER (multithreaded Lloyd's over
    * the collected sample): the sample is driver-bounded by
    * construction, and a distributed fit costs ~35 scheduler
    * round-trips (init passes + one job per iteration) to do
    * milliseconds of arithmetic — at any scale the distributed part
    * of IVF is assignment + the partitioned write, not the
    * coarse-quantizer fit (FAISS trains its quantizer on a sample the
    * same way, ref enhanced_internal_db_service.py:602-630). */
  def train(df: DataFrame, embCol: String, k: Int, seed: Long = 42L,
            maxIter: Int = 20, maxTrainSamples: Int = 20000): Model = {
    val vecs0 = df.select(col(embCol)).filter(col(embCol).isNotNull)
    val n = vecs0.count()
    val vecs =
      if (n <= maxTrainSamples) vecs0
      // 1.2× oversample so the selection lands at or above the target
      // with high probability; exactness is irrelevant here. Selection
      // is a HASH of the row value, not sample(): Bernoulli sample()
      // draws per-partition, so its output (and thus the fit) would
      // change with file-split sizing / parallelism (round-4 advisory)
      else {
        val den = 1000000L
        val num = (math.min(1.0, 1.2 * maxTrainSamples / n.toDouble) * den).toLong
        vecs0.filter(pmod(xxhash64(col(embCol), lit(seed)), lit(den)) < lit(num))
      }
    // stable sort before collect: parquet scan order varies with split
    // sizing, and the seeded init indexes into this array — sorting by
    // the vector value pins the fit to the DATA, not the layout.
    // HARD cap (r17 audit): the hash selection bounds the sample in
    // EXPECTATION (~1.2×max), but duplicate vectors share one hash —
    // a duplicate-heavy corpus puts an entire duplicate class on one
    // side of the cut, so without a limit the collect is unbounded on
    // exactly the corpora dedup exists for. orderBy+limit plans as a
    // distributed TakeOrdered; when the cap doesn't bite (every
    // non-degenerate corpus) the result is bit-identical to the
    // uncapped sorted collect.
    val pts = vecs.orderBy(col(embCol)).limit(4 * maxTrainSamples)
      .collect().map(_.getSeq[Float](0).toArray)
    Model(localKMeans(pts, k, seed, maxIter))
  }

  /** Seeded multithreaded Lloyd's on the driver. Deterministic for a
    * given input order: random init from the seed, fixed chunking,
    * per-chunk partial sums merged in chunk order (no reduction-order
    * nondeterminism in the float accumulation). Empty clusters keep
    * their previous centroid. */
  private[operators] def localKMeans(pts: Array[Array[Float]], k: Int,
                                     seed: Long, maxIter: Int,
                                     tol: Double = 1e-6): Array[Array[Float]] = {
    require(pts.nonEmpty, "k-means needs at least one point")
    val dim = pts(0).length
    val kk = math.max(1, math.min(k, pts.length))
    val rnd = new java.util.Random(seed)
    // distinct random starting points; for an IVF coarse quantizer
    // random init + Lloyd reaches the same recall as k-means|| (recall
    // is measured downstream, never assumed)
    val initIdx = scala.collection.mutable.LinkedHashSet.empty[Int]
    while (initIdx.size < kk) initIdx += rnd.nextInt(pts.length)
    var centroids = initIdx.toArray.map(i => pts(i).map(_.toDouble))

    // chunk count is a CONSTANT, not a core count: partial sums merge
    // in chunk order, so a machine-dependent chunking would change the
    // float accumulation order and make centroids machine-dependent
    val nChunks = 16
    val nThreads = math.max(1, math.min(Runtime.getRuntime.availableProcessors(), nChunks))
    val chunkSize = math.max(1, (pts.length + nChunks - 1) / nChunks)
    val chunks = pts.indices.grouped(chunkSize).map(r => (r.head, r.last + 1)).toArray
    val pool = java.util.concurrent.Executors.newFixedThreadPool(nThreads)
    try {
      var iter = 0
      var moved = Double.MaxValue
      while (iter < maxIter && moved > tol) {
        val cs = centroids
        val tasks = chunks.map { case (from, until) =>
          new java.util.concurrent.Callable[(Array[Array[Double]], Array[Long])] {
            def call(): (Array[Array[Double]], Array[Long]) = {
              val sums = Array.fill(kk)(new Array[Double](dim))
              val counts = new Array[Long](kk)
              var p = from
              while (p < until) {
                val v = pts(p)
                var best = 0
                var bestD = Double.MaxValue
                var c = 0
                while (c < kk) {
                  val ctr = cs(c)
                  var d = 0.0
                  var i = 0
                  val lim = math.min(ctr.length, v.length)
                  while (i < lim) { val t = ctr(i) - v(i); d += t * t; i += 1 }
                  if (d < bestD) { bestD = d; best = c }
                  c += 1
                }
                val s = sums(best)
                var i = 0
                val lim = math.min(dim, v.length)
                while (i < lim) { s(i) += v(i); i += 1 }
                counts(best) += 1
                p += 1
              }
              (sums, counts)
            }
          }
        }
        val results = pool.invokeAll(java.util.Arrays.asList(tasks: _*))
        val sums = Array.fill(kk)(new Array[Double](dim))
        val counts = new Array[Long](kk)
        // merge in fixed chunk order → deterministic float accumulation
        for (f <- 0 until results.size()) {
          val (ps, pc) = results.get(f).get()
          var c = 0
          while (c < kk) {
            var i = 0
            while (i < dim) { sums(c)(i) += ps(c)(i); i += 1 }
            counts(c) += pc(c)
            c += 1
          }
        }
        moved = 0.0
        val next = Array.tabulate(kk) { c =>
          if (counts(c) == 0L) centroids(c)
          else {
            val ctr = new Array[Double](dim)
            var i = 0
            var d = 0.0
            while (i < dim) {
              ctr(i) = sums(c)(i) / counts(c)
              val t = ctr(i) - centroids(c)(i); d += t * t
              i += 1
            }
            moved = math.max(moved, d)
            ctr
          }
        }
        centroids = next
        iter += 1
      }
    } finally pool.shutdown()
    centroids.map(_.map(_.toFloat))
  }

  /** Assign a cluster id per row (row-local; centroids ride the
    * closure). */
  def assign(df: DataFrame, embCol: String, model: Model): DataFrame = {
    val centroids = model.centroids
    val nearestUdf = udf((v: Seq[Float]) => Model(centroids).nearest(v.toArray))
    df.withColumn("cluster", nearestUdf(col(embCol)))
  }

  /** Build and persist the partitioned index. */
  def buildAndWrite(df: DataFrame, embCol: String, model: Model,
                    path: String): Unit =
    assign(df, embCol, model).write.mode("overwrite")
      .partitionBy("cluster").parquet(path)

  /** The probe predicate `cluster ∈ probes`. The probe set is one
    * array literal, which generated code reads through a reference
    * object, so every probe set runs the same compiled class. An
    * `isin` of integers inlines its values into the generated source
    * (as an `In` up to Spark's InSet threshold of 10, as a `switch`
    * above it), so each probe set would compile its own classes. The
    * predicate references only `cluster`, so a cluster-partitioned
    * file index still prunes to the probed directories. */
  def probeFilter(cluster: Column, probes: Seq[Int]): Column =
    ColumnBridge.column(ArrayContains(
      Literal.create(probes.toArray, ArrayType(IntegerType, containsNull = false)),
      ColumnBridge.expression(cluster)))

  /** Approximate top-k: probe the `nprobe` nearest clusters, exact
    * cosine rerank within them. `index` must carry a `cluster`
    * column (from [[assign]] or the partitioned parquet). */
  def searchApprox(index: DataFrame, model: Model, idCol: String,
                   embCol: String, query: Array[Float], k: Int,
                   nprobe: Int): DataFrame = {
    val probes = model.ranked(query).take(nprobe)
    index.filter(probeFilter(col("cluster"), probes))
      .select(col(idCol),
        VectorFunctions.cosineFast(col(embCol), lit(query)).as("score"))
      .orderBy(desc("score"), col(idCol))
      .limit(k)
  }

  /** recall@k of an approximate result against the exact result
    * (driver-side over two k-row sets). */
  def recallAtK(exact: Seq[Long], approx: Seq[Long]): Double =
    if (exact.isEmpty) 1.0
    else exact.toSet.intersect(approx.toSet).size.toDouble / exact.size
}

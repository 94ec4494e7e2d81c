package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Product quantization (PQ) — the memory-scale path for ANN on top of
  * the IVF layout ([[VectorIndex]]). The reference's FAISS index family
  * includes IVF-PQ (enhanced_internal_db_service.py:602-630 constructs
  * a FAISS index; PQ is the standard compressed variant of that
  * design — Jégou, Douze, Schmid, "Product Quantization for Nearest
  * Neighbor Search", TPAMI 2011).
  *
  * Why this exists at 100 TB: a 1024-dim float32 embedding is 4 KB; a
  * PQ code with m=8 subspaces × 8 bits is 8 BYTES — 512× smaller. The
  * candidate-generation scan runs over the compact code column only
  * (column pruning keeps the 4 KB vectors out of the read path), and
  * the exact rerank re-reads full vectors for just the top-R candidate
  * ids with a pushed-down id filter. Full vectors can live in cold
  * storage; the hot set is codes + centroids.
  *
  * Determinism mirrors [[VectorIndex.train]]: hash-selected,
  * value-sorted sample; per-subspace [[VectorIndex.localKMeans]] with a
  * fixed seed — the fit depends on the data, never the layout or
  * parallelism.
  *
  * Scoring is ADC (asymmetric distance computation): the query is NOT
  * quantized; per query the driver builds an m×256 table of partial
  * inner products ⟨q_sub_j, codebook_j[c]⟩, and a row's approximate
  * score is m byte-indexed lookups summed — by construction exactly
  * ⟨q, reconstruct(code)⟩ (PQSpec pins that identity).
  */
object ProductQuantizer {

  /** `codebooks(j)(c)` = centroid `c` of subspace `j` (length dsub =
    * dim / m; the last subspace absorbs any remainder). */
  final case class PQModel(dim: Int, m: Int,
                           codebooks: Array[Array[Array[Float]]]) {
    def subRange(j: Int): (Int, Int) = {
      val base = dim / m
      val from = j * base
      val until = if (j == m - 1) dim else from + base
      (from, until)
    }

    /** Nearest codebook entry per subspace — the PQ code (row-local). */
    def encode(v: Array[Float]): Array[Byte] = {
      val code = new Array[Byte](m)
      var j = 0
      while (j < m) {
        val (from, until) = subRange(j)
        val book = codebooks(j)
        var best = 0
        var bestD = Double.MaxValue
        var c = 0
        while (c < book.length) {
          val ctr = book(c)
          var d = 0.0
          var i = from
          while (i < until && i < v.length) {
            val t = ctr(i - from) - v(i); d += t * t; i += 1
          }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        code(j) = best.toByte
        j += 1
      }
      code
    }

    def reconstruct(code: Array[Byte]): Array[Float] = {
      val out = new Array[Float](dim)
      var j = 0
      while (j < m) {
        val (from, until) = subRange(j)
        val ctr = codebooks(j)(code(j) & 0xFF)
        var i = from
        while (i < until) { out(i) = ctr(i - from); i += 1 }
        j += 1
      }
      out
    }

    /** ADC lookup table for `q`: `table(j)(c)` = ⟨q_sub_j, book_j[c]⟩.
      * m×256 floats per query — driver-trivial, rides the closure. */
    def adcTable(q: Array[Float]): Array[Array[Float]] =
      Array.tabulate(m) { j =>
        val (from, until) = subRange(j)
        val book = codebooks(j)
        Array.tabulate(book.length) { c =>
          val ctr = book(c)
          var s = 0.0
          var i = from
          while (i < until && i < q.length) {
            s += ctr(i - from) * q(i); i += 1
          }
          s.toFloat
        }
      }
  }

  /** Fit 256-entry codebooks per subspace on a hash-selected,
    * value-sorted sample (same bounded-driver-fit rationale as
    * [[VectorIndex.train]] — the quantizer approximates density, it
    * never needs the full corpus). */
  def train(df: DataFrame, embCol: String, m: Int, seed: Long = 42L,
            maxIter: Int = 10, maxTrainSamples: Int = 5000): PQModel = {
    val vecs0 = df.select(col(embCol)).filter(col(embCol).isNotNull)
    val n = vecs0.count()
    require(n > 0, "PQ train: empty corpus")
    val vecs =
      if (n <= maxTrainSamples) vecs0
      else {
        val den = 1000000L
        val num = (math.min(1.0, 1.2 * maxTrainSamples / n.toDouble) * den).toLong
        vecs0.filter(pmod(xxhash64(col(embCol), lit(seed)), lit(den)) < lit(num))
      }
    // hard cap for the same duplicate-hash reason as VectorIndex.train
    // (r17 audit): expectation-bounded is not driver-bounded when
    // duplicate vectors share one hash value
    val sampled = vecs.orderBy(col(embCol)).limit(4 * maxTrainSamples)
      .collect().map(_.getSeq[Float](0).toArray)
    // the hash sample can come back empty on degenerate corpora (e.g.
    // every embedding identical → one hash value); fall back to a
    // bounded slice of the unsampled input rather than throwing on
    // pts(0) — still driver-bounded, still deterministic
    val pts =
      if (sampled.nonEmpty) sampled
      else vecs0.orderBy(col(embCol)).limit(maxTrainSamples).collect()
        .map(_.getSeq[Float](0).toArray)
    val dim = pts(0).length
    require(m >= 1 && m <= dim, s"PQ train: m=$m outside [1, dim=$dim]")
    val model = PQModel(dim, m, Array.empty)
    val books = Array.tabulate(m) { j =>
      val (from, until) = model.subRange(j)
      val sub = pts.map(_.slice(from, until))
      // one k-means per subspace; seed offset by j so subspaces don't
      // share an init pattern
      VectorIndex.localKMeans(sub, k = 256, seed = seed + j, maxIter = maxIter)
    }
    PQModel(dim, m, books)
  }

  /** Append the PQ code column (row-local; codebooks ride the
    * closure — m×256×dsub floats = the full codebook is ~1 MB at
    * 1024-dim/m=8, broadcast-trivial). */
  def encodeDf(df: DataFrame, embCol: String, model: PQModel,
               codeCol: String = "pq_code"): DataFrame = {
    val enc = udf((v: Seq[Float]) => model.encode(v.toArray))
    df.withColumn(codeCol, enc(col(embCol)))
  }

  /** IVF-PQ search: probe → ADC over codes only → exact rerank of the
    * top-R ids.
    *
    * `index` carries (idCol, embCol, "cluster", codeCol) — from
    * [[VectorIndex.assign]] + [[encodeDf]] or the partitioned parquet.
    * Stage 1 selects ONLY (id, cluster, code): on a parquet index the
    * scan never reads the wide vector column (PQSpec asserts the
    * pruned plan). Stage 2 re-reads (id, emb) for the R surviving ids
    * via an `isin` filter — pushed to the source as an id predicate —
    * and reranks with the exact codegen cosine. R = `rerank` bounds
    * both the second read and the driver-side id list (default 64 —
    * a scheduler-message-sized constant, never corpus-sized).
    */
  /** Stage 1 as a frame: ADC top-`rerank` over the probed clusters,
    * reading ONLY (cluster, id, code) — on a parquet index the wide
    * vector column stays out of `ReadSchema` (PQSpec asserts it). */
  def adcCandidates(index: DataFrame, ivf: VectorIndex.Model,
                    pq: PQModel, idCol: String, query: Array[Float],
                    rerank: Int, nprobe: Int,
                    codeCol: String = "pq_code"): DataFrame = {
    val probes = ivf.ranked(query).take(nprobe)
    val table = pq.adcTable(query)
    val m = pq.m
    val adc = udf((code: Array[Byte]) => {
      var s = 0.0f
      var j = 0
      while (j < m) { s += table(j)(code(j) & 0xFF); j += 1 }
      s
    })
    index
      .filter(VectorIndex.probeFilter(col("cluster"), probes))
      .select(col(idCol), adc(col(codeCol)).as("adc"))
      .orderBy(desc("adc"), col(idCol))
      .limit(rerank)
  }

  def searchPQ(index: DataFrame, ivf: VectorIndex.Model, pq: PQModel,
               idCol: String, embCol: String, query: Array[Float],
               k: Int, nprobe: Int, rerank: Int = 64,
               codeCol: String = "pq_code"): DataFrame = {
    val probes = ivf.ranked(query).take(nprobe)
    // R-bounded driver scalar (R = rerank, default 64) — the id list
    // is scheduler-message-sized by construction, never corpus-sized
    val candidateIds =
      adcCandidates(index, ivf, pq, idCol, query, rerank, nprobe, codeCol)
        .select(idCol)
        .collect().map(_.get(0)).toSeq
    // stage 2: exact rerank of R rows (id filter pushes down)
    index
      .filter(VectorIndex.probeFilter(col("cluster"), probes) &&
        col(idCol).isin(candidateIds: _*))
      .select(col(idCol),
        VectorFunctions.cosineFast(col(embCol), lit(query)).as("score"))
      .orderBy(desc("score"), col(idCol))
      .limit(k)
  }
}

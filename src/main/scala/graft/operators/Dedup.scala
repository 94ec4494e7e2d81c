package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._
import graft.plans.{MinhashExpr, ShingleSetExpr, SketchHitsExpr}
import graft.plans.SketchScan.mix64
import org.apache.spark.sql.graftbridge.ColumnBridge.{column => toCol, expression}

/** Large-scale training-data deduplication operators (north-star
  * requirement; no reference counterpart — designed Spark-first).
  *
  * Scale design — NEVER all-pairs:
  *  - exact: one hash-shuffle on a 32-char digest, map-side combine.
  *  - MinHash-LSH: signature is row-local; candidate generation is an
  *    equi-join on (band, bandHash) buckets — a shuffle join on a
  *    compact key, linear in candidates, not quadratic in corpus.
  *  - SimHash: row-local 64-bit sketch; near-dup = same sketch bucket
  *    (or Hamming ≤ k via rotations) — again equi-join only.
  *  - Embedding near-dup: random-hyperplane sign bucket (row-local)
  *    → bucket equi-join → exact cosine verify on candidates only.
  */
object Dedup {

  /** Content hash for exact dedup (md5 matches DuckDB for oracle
    * parity; xxhash64 is the cheaper production alternative). */
  def contentHash(text: Column): Column = md5(text)

  /** Exact dedup: keep the lowest-id row per distinct content hash. */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(contentHash(col(textCol))).orderBy(col(idCol))
    df.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
  }

  /** Sorted distinct `array<bigint>` of the hashes of `text`'s word
    * `n`-gram shingles over [[graft.plans.SketchScan]]'s tokens (the
    * anchor rule on the ROOT-lowered text). Null text gives null. The
    * one shingle set of the near-duplicate family: the minhash
    * signature and bands, `minhashNearDups`' and `ngramJaccard`'s
    * Jaccard and `contamination`'s probe all read it, so each row is
    * scanned once. */
  def shingleSet(text: Column, n: Int): Column =
    toCol(ShingleSetExpr(expression(text), n))

  /** MinHash signature over word `n`-gram shingles: `numHashes`
    * independent min-hashes of each shingle under per-seed 64-bit
    * mixes. Null text, or text with fewer than `shingleN` tokens, gives
    * all-`Long.MaxValue`. */
  def minhashSignature(text: Column, shingleN: Int, numHashes: Int): Column =
    minhashBands(shingleSet(text, shingleN), numHashes, 0)

  /** LSH band hashes of a shingle set: the signature split into `bands`
    * bands of `numHashes / bands` mins, band `b` hashed as
    * `mix64(fold(band mins) ^ seed(b))`. Docs sharing any band hash are
    * near-dup candidates. A null or empty set bands its
    * all-`Long.MaxValue` signature. `bands = 0` gives the signature. */
  def minhashBands(set: Column, numHashes: Int, bands: Int): Column =
    toCol(MinhashExpr(expression(set), numHashes, bands))

  /** MinHash-LSH near-duplicate candidate pairs with exact Jaccard
    * verification. Returns (idA, idB, jaccard) with idA < idB and
    * jaccard >= threshold. Candidates come ONLY from shared LSH
    * buckets (equi-join); the exact verify runs on candidates alone.
    * A row with no shingle (null text, or fewer than `shingleN`
    * tokens) takes no part: it has no Jaccard with anything. */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      shingleN: Int = 3, numHashes: Int = 16,
                      bands: Int = 4, threshold: Double = 0.7,
                      maxBucketSize: Int = 10000): DataFrame = {
    val withSets = df.select(col(idCol).as("id"),
        shingleSet(col(textCol), shingleN).as("sh"))
      .select(col("id"), col("sh"),
        minhashBands(col("sh"), numHashes, bands).as("bands"))
    // an empty set explodes no band; the guard sits inside the
    // generator because a Filter (or the one Spark infers from a bare
    // `posexplode(bands)`) is pushed below the projection with the
    // sketch expressions inlined, evaluating them twice per row
    val bucketed = capBuckets(withSets.select(col("id"), col("sh"), col("bands"),
        posexplode(when(size(col("sh")) > 0, col("bands"))).as(Seq("band", "bucket"))),
      Seq("band", "bucket"), maxBucketSize, "minhash_neardups_buckets")
    val a = bucketed.select(col("band"), col("bucket"), col("id").as("idA"),
      col("sh").as("shA"), col("bands").as("bandsA"))
    val b = bucketed.select(col("band"), col("bucket"), col("id").as("idB"),
      col("sh").as("shB"), col("bands").as("bandsB"))
    // A pair that shares k bands is emitted k times by the join. Band b
    // matches iff bandsA(b) == bandsB(b) — the join condition itself —
    // so keeping each pair at its first matching band is a row-local
    // filter, not a dropDuplicates shuffle (as in simhashNearDups, with
    // the same recall caveat under capBuckets).
    val firstMatchBand = (0 until bands - 1).foldRight(lit(bands - 1)) { (k, rest) =>
      when(col("bandsA")(k) === col("bandsB")(k), lit(k)).otherwise(rest)
    }
    // the Jaccard is generated, not projected: a filter on a projected
    // column is pushed into the join condition with the expression
    // inlined, and the projection above computes it a second time
    a.join(b, Seq("band", "bucket")).filter(col("idA") < col("idB"))
      .filter(col("band") === firstMatchBand)
      .select(col("idA"), col("idB"),
        explode(array(size(array_intersect(col("shA"), col("shB"))).cast("double") /
          size(array_union(col("shA"), col("shB"))))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** 64-bit SimHash over word tokens, null text → 0: the codegen
    * in-place expression [[graft.plans.TextScan.simhash64]] over
    * [[graft.plans.SketchScan]]'s tokens. */
  def simhash(text: Column): Column =
    coalesce(graft.plans.TextScan.simhash(text), lit(0L))

  /** SimHash near-duplicate candidate pairs: band the 64-bit sketch
    * into 4×16-bit buckets, candidates from band equi-joins only, then
    * exact Hamming verify ≤ `maxHamming`. Pigeonhole guarantees full
    * recall for maxHamming ≤ 3: four bands can't all absorb three
    * differing bits. (idA < idB; hot buckets capped like the other LSH
    * paths.) Pairs are between DISTINCT sketches, each represented by its
    * minimum id, with group sizes attached (`sizeA`/`sizeB`). Exact
    * copies share a sketch, and a boilerplate-heavy corpus puts
    * thousands of copies behind one sketch — banding the distinct
    * sketches keeps the candidate join clique-free, where expanding a
    * g-copy clique is g² rows nobody needs (group membership already
    * encodes those pairs; measured: the 100× replicated corpus OOM'd
    * the expanded join at ~100 M candidates and runs in seconds
    * collapsed). Doc-level pair counts reconstruct arithmetically as
    * Σ sizeA·sizeB cross-group + Σ C(gsize,2) within-group. */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3,
                      maxBucketSize: Int = 10000): DataFrame = {
    require(maxHamming <= 3, "4-band simhash LSH only guarantees recall for hamming <= 3")
    val sk = df.select(col(idCol).as("id"), simhash(col(textCol)).as("sk"))
    val groups = sk.groupBy("sk")
      .agg(min("id").as("id"), count(lit(1)).as("gsize"))
    val banded = groups.select(col("id"), col("sk"), col("gsize"),
      explode(array((0 until 4).map(b => struct(lit(b).as("band"),
        shiftright(col("sk"), b * 16).bitwiseAND(lit(0xFFFFL)).as("bucket"))): _*)).as("b"))
      .select(col("id"), col("sk"), col("gsize"), col("b.band"), col("b.bucket"))
    val capped = capBuckets(banded, Seq("band", "bucket"), maxBucketSize,
      "simhash_neardups_buckets")
    val a = capped.select(col("band"), col("bucket"), col("id").as("idA"),
      col("sk").as("skA"), col("gsize").as("sizeA"))
    val b = capped.select(col("band"), col("bucket"), col("id").as("idB"),
      col("sk").as("skB"), col("gsize").as("sizeB"))
    // A pair that matches in k bands is emitted k times by the join.
    // Because bucket IS the band's 16-bit slice, band b matches iff
    // slice b of skA^skB is zero — so "keep only the first matching
    // band" is computable ROW-LOCALLY from the xor, replacing the
    // dropDuplicates shuffle (a whole extra stage at the 100x bench
    // point) with a codegen filter. Under hot-bucket capping a pair
    // whose earliest matching band was capped is dropped rather than
    // rescued by a later band — capped buckets already forfeit the
    // recall guarantee and report drops via the observed metric.
    val xor = col("skA").bitwiseXOR(col("skB"))
    def sliceZero(bnd: Int) =
      shiftright(xor, bnd * 16).bitwiseAND(lit(0xFFFFL)) === lit(0L)
    val firstMatchBand = when(sliceZero(0), lit(0))
      .when(sliceZero(1), lit(1)).when(sliceZero(2), lit(2)).otherwise(lit(3))
    a.join(b, Seq("band", "bucket")).filter(col("idA") < col("idB"))
      .filter(col("band") === firstMatchBand)
      .select(col("idA"), col("idB"),
        bit_count(xor).as("hamming"),
        col("sizeA"), col("sizeB"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Eval-set decontamination (train-test overlap): corpus docs
    * sharing any word `n`-gram with the eval set, with per-doc
    * collision counts (distinct grams). Eval benchmarks are small and
    * bounded, so their distinct shingle hashes are collected (one
    * bounded driver scalar, same bound a broadcast join would ship),
    * sorted and broadcast; each corpus doc's shingle set is then probed
    * row-locally — no explode, no join, no aggregation, and the corpus
    * side is touched exactly once. Callers drop or flag the returned
    * ids before training.
    *
    * `maxEvalGrams` bounds the driver/broadcast footprint LOUDLY: an
    * "eval set" that is actually corpus-sized fails with a diagnosis
    * instead of OOMing the driver (the same contract as tf-idf's
    * `maxVocab`). The default admits any real benchmark suite; raise
    * it deliberately if you truly need a larger probe set. */
  def contamination(corpus: DataFrame, evalSet: DataFrame, idCol: String,
                    textCol: String, shingleN: Int,
                    maxEvalGrams: Int = 1 << 24): DataFrame = {
    val evalGrams = evalSet
      .select(explode(shingleSet(col(textCol), shingleN)).as("_sh"))
      .distinct().limit(maxEvalGrams + 1).collect().map(_.getLong(0))
    require(evalGrams.length <= maxEvalGrams,
      s"contamination: eval set exceeds maxEvalGrams=$maxEvalGrams distinct " +
        s"$shingleN-grams — that is not an eval benchmark; raise maxEvalGrams " +
        "deliberately or decontaminate with a distributed join instead")
    java.util.Arrays.sort(evalGrams)
    val bc = evalSet.sparkSession.sparkContext.broadcast(evalGrams)
    // generated, not projected, so the filter cannot be pushed below
    // it with the probe inlined (tokenizing every row twice)
    corpus
      .select(col(idCol), explode(array(
        toCol(SketchHitsExpr(expression(shingleSet(col(textCol), shingleN)), bc))))
          .as("n_collisions"))
      .filter(col("n_collisions") > 0)
  }

  /** Exact n-gram Jaccard between two text columns (verification
    * scalar; candidate generation must come from LSH, never this).
    * Two texts with no shingle have Jaccard 1.0. */
  def ngramJaccard(a: Column, b: Column, n: Int): Column = {
    val sa = shingleSet(a, n)
    val sb = shingleSet(b, n)
    when(size(sa) === 0 && size(sb) === 0, 1.0)
      .otherwise(size(array_intersect(sa, sb)).cast("double") /
        size(array_union(sa, sb)))
  }

  /** Random-hyperplane sign bucket for embedding LSH: `bits` sign bits
    * of dot(v, h_b) where h_b is a deterministic pseudo-random
    * hyperplane (seeded 64-bit mix per (bit, component), scaled to
    * [-0.5, 0.5)). ONE compiled UDF pass computes all `bits` dot
    * products in a single loop over the vector — the HOF formulation
    * (zip_with + aggregate per bit) re-evaluates `bits` interpreted
    * passes per row after project-collapse, the measured 20-70×
    * anti-pattern this repo documents. Row-local, no shuffle. */
  def signBucketUdf(dim: Int, bits: Int): org.apache.spark.sql.expressions.UserDefinedFunction = {
    // hyperplanes materialized once on the driver (bits × dim doubles)
    // and shipped in the closure — tiny versus any corpus
    val planes = Array.tabulate(bits, dim) { (b, j) =>
      (java.lang.Math.floorMod(
        mix64(j.toLong * 0x9e3779b97f4a7c15L + (b + 1).toLong * 0xc2b2ae3d27d4eb4fL),
        1000000L).toDouble / 1000000.0) - 0.5
    }
    udf((emb: Seq[Float]) => {
      // null embedding → null bucket (the HOF formulation this replaced
      // null-propagated; the bucket join then drops the row)
      if (emb == null) null
      else {
        val v = emb
        var bucket = 0L
        var b = 0
        while (b < bits) {
          val h = planes(b)
          var d = 0.0
          var j = 0
          val n = math.min(dim, v.length)
          while (j < n) { d += v(j).toDouble * h(j); j += 1 }
          if (d >= 0) bucket |= (1L << b)
          b += 1
        }
        java.lang.Long.valueOf(bucket)
      }
    })
  }

  def signBucket(emb: Column, dim: Int, bits: Int): Column =
    signBucketUdf(dim, bits)(emb)

  /** Hot-bucket guard: drop rows in LSH buckets larger than `cap`.
    * At 100 TB a boilerplate-heavy corpus puts thousands of near-
    * identical docs in one bucket and the candidate equi-join squares
    * it; capping bounds the worst bucket to cap²/2 candidate pairs.
    * The dropped-row count is published as an `observe` metric named
    * `<name>_<n>` (a per-JVM sequence suffix keeps names unique when
    * one plan composes the operator twice — consumers must match on
    * the `<name>` PREFIX, not the exact string) carrying
    * `dropped_rows`, so the loss is visible in query metrics, never
    * silent. Recall note (r12 advisory): downstream row-local
    * first-matching-band dedup (simhashNearDups, minhashNearDups)
    * keys on a pair's EARLIEST matching band — if that band's bucket
    * was capped the pair is dropped even when a later uncapped band
    * matches, so capping costs slightly more recall than the per-band
    * drop counts alone suggest. Capped buckets forfeit the LSH recall guarantee
    * either way; size `cap` so the metric reads 0 on healthy corpora.
    * The window count shuffles on the same key as the
    * candidate join that follows, so the guard adds no extra exchange
    * at scale (AQE reuses the partitioning). */
  // observed-metric names must be unique within one plan; a per-call
  // counter suffix keeps the same LSH operator legal when composed
  // twice in a single query (the base name stays greppable in metrics)
  private val observeSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  private def capBuckets(bucketed: DataFrame, keyCols: Seq[String], cap: Int,
                         metricName: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(keyCols.map(col): _*)
    val sized = bucketed.withColumn("_bn", count(lit(1)).over(w))
    sized
      .observe(s"${metricName}_${observeSeq.incrementAndGet()}",
        sum(when(col("_bn") > cap, lit(1L)).otherwise(lit(0L))).as("dropped_rows"))
      .filter(col("_bn") <= cap)
      .drop("_bn")
  }

  /** Embedding near-dup pairs: sign-LSH bucket equi-join, then exact
    * cosine verify ≥ threshold. (idA < idB). `maxBucketSize` is the
    * hot-bucket guard — see [[capBuckets]]. */
  def embeddingNearDups(df: DataFrame, idCol: String, embCol: String,
                        dim: Int, bits: Int = 12,
                        threshold: Double = 0.95,
                        maxBucketSize: Int = 10000): DataFrame = {
    // null embeddings can't be near-duplicates of anything — drop them
    // before bucketing (also keeps the compiled UDF's hot loop free of
    // per-element null handling)
    val bucketed0 = df.filter(col(embCol).isNotNull)
      .select(col(idCol).as("id"), col(embCol).as("emb"),
        signBucket(col(embCol), dim, bits).as("bucket"))
    val bucketed = capBuckets(bucketed0, Seq("bucket"), maxBucketSize,
      "embed_neardups_buckets")
    val a = bucketed.select(col("bucket"), col("id").as("idA"), col("emb").as("embA"))
    val b = bucketed.select(col("bucket"), col("id").as("idB"), col("emb").as("embB"))
    a.join(b, Seq("bucket")).filter(col("idA") < col("idB"))
      .select(col("idA"), col("idB"), cosineFast(col("embA"), col("embB")).as("cos"))
      .filter(col("cos") >= threshold)
      .dropDuplicates("idA", "idB")
  }

  /** Connected components over a near-dup pair graph, returning
    * (id, label) where label = the component's minimum id — the
    * natural canonical-document choice for a dedup cluster.
    *
    * Two physical paths behind one contract (the a13-style bounded
    * fallback shape):
    *  - **driver-safe graphs** (≤ `driverSafeEdges` symmetric edges,
    *    default 2M ≈ tens of MB of id pairs): union-find with path
    *    halving on the driver, result re-planted as a LOCAL relation.
    *    Near-dup pair graphs are SPARSE BY CONSTRUCTION (LSH bucket
    *    caps bound candidate fan-out), so at typical dedup rates the
    *    edge list is orders of magnitude smaller than the corpus and
    *    this path answers in two jobs (count + collect) instead of
    *    O(diameter) join rounds of pure fixed cost;
    *  - **larger graphs**: iterative min-label propagation — each
    *    round one shuffle (edge–label equi-join + groupBy-min),
    *    converging in O(component diameter) rounds with a scalar
    *    changed-count action per round and early exit at fixpoint;
    *    `maxIter` bounds pathological chains (the large-star/
    *    small-star contraction of Kiveris et al. 2014 gets O(log n)
    *    rounds if ever needed).
    * Both paths fail loudly rather than return split components. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 20,
                          driverSafeEdges: Long = 2000000L): DataFrame = {
    // size probe and small-path input in ONE action (the a13-style
    // limit-probe): if the raw edge list fits the driver bound we
    // already hold every edge — union-find needs no symmetric
    // doubling, the graph is undirected. A graph past the bound
    // wastes one bounded collect (tens of MB), then takes the
    // distributed loop.
    if (driverSafeEdges >= 0 && driverSafeEdges < Int.MaxValue) {
      val probe = edges.select(col("src"), col("dst"))
        .limit(driverSafeEdges.toInt + 1).collect()
      if (probe.length <= driverSafeEdges)
        return unionFindLocal(edges.sparkSession, probe,
          edges.schema.head.dataType)
    }
    // materialize the edge list once — it feeds every round's join,
    // and an upstream LSH pipeline would otherwise re-run per round
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint(true)
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
    var prevCached: DataFrame = null
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val nmin = sym.join(labels, sym("dst") === labels("id"))
        .groupBy(sym("src").as("nid")).agg(min("label").as("nmin"))
      val next = labels.join(nmin, labels("id") === nmin("nid"), "left")
        .select(col("id"), col("label"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("next"))
        .persist()
      // one action per round: materializes `next` into the cache AND
      // returns the changed-label count for the convergence test
      val changed = next
        .agg(coalesce(sum(when(col("next") < col("label"), 1L)), lit(0L)))
        .head().getLong(0)
      if (prevCached != null) prevCached.unpersist(false)
      prevCached = next
      labels = next.select(col("id"), col("next").as("label"))
      converged = changed == 0L
      iter += 1
    }
    // min-label propagation advances one hop per round, so a component
    // whose diameter exceeds maxIter would exit here SPLIT — wrong
    // components, silently. Fail loudly instead (round-4 advisory);
    // callers with pathological chain-shaped graphs should raise
    // maxIter or switch to large-star/small-star contraction.
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds; " +
          "labels would be split across oversized-diameter components")
    labels
  }

  /** Driver-side union-find over a bounded edge list (the small-graph
    * fast path of [[connectedComponents]] — see there for when this
    * is safe). Path-halving find, union by attaching either root; the
    * component label is resolved as the min id in a second sweep, so
    * the structure needs no ordered-union bookkeeping. Exact same
    * (id, label=component min) contract as the distributed loop,
    * spec-pinned equal on shared fixtures (ComponentsSpec). */
  private def unionFindLocal(spark: org.apache.spark.sql.SparkSession,
                             edgeRows: Array[org.apache.spark.sql.Row],
                             idType: org.apache.spark.sql.types.DataType): DataFrame = {
    import org.apache.spark.sql.types._
    // min-label semantics need an ordering on the id type; the
    // distributed loop's `least`/`min` define it — mirror those
    val ord: Ordering[Any] = (idType match {
      case LongType => Ordering.Long.on[Any](_.asInstanceOf[Long])
      case IntegerType => Ordering.Int.on[Any](_.asInstanceOf[Int])
      case ShortType => Ordering.Short.on[Any](_.asInstanceOf[Short])
      case StringType => Ordering.String.on[Any](_.asInstanceOf[String])
      case DoubleType => Ordering.Double.TotalOrdering.on[Any](_.asInstanceOf[Double])
      case other => throw new IllegalArgumentException(
        s"connectedComponents: unsupported id type $other")
    })
    val parent = new java.util.HashMap[Any, Any]()
    def find(x0: Any): Any = {
      var x = x0
      var p = parent.get(x)
      while (p != x) { // path halving
        val gp = parent.get(p)
        parent.put(x, gp)
        x = gp
        p = parent.get(x)
      }
      x
    }
    edgeRows.foreach { r =>
      val (a, b) = (r.get(0), r.get(1))
      if (!parent.containsKey(a)) parent.put(a, a)
      if (!parent.containsKey(b)) parent.put(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent.put(ra, rb)
    }
    // resolve the canonical (min) id per root in one sweep
    val minOf = new java.util.HashMap[Any, Any]()
    parent.keySet().forEach { v =>
      val root = find(v)
      val cur = minOf.get(root)
      if (cur == null || ord.lt(v, cur)) minOf.put(root, v)
    }
    val out = new java.util.ArrayList[org.apache.spark.sql.Row](parent.size())
    parent.keySet().forEach { v =>
      out.add(org.apache.spark.sql.Row(v, minOf.get(find(v))))
    }
    spark.createDataFrame(out,
      StructType(Seq(StructField("id", idType), StructField("label", idType))))
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational building blocks re-expressing the reference's serving
  * queries (SURVEY.md §2.2–2.7) as declarative DataFrame ops so
  * Catalyst gets full pushdown/pruning/join-selection freedom.
  *
  * Scale notes:
  *  - `topNPerGroup`/`latestPerKey` are window ranks: one shuffle on
  *    the partition keys, no driver materialization, skew handled by
  *    AQE. For top-1 Spark can also use max_by, but row_number keeps
  *    deterministic tie-breaks (required for oracle parity).
  */
object Relational {

  /** Top-N rows per group with a deterministic tie-breaker.
    * Reference: recent-N per user, SURVEY §2.5 W3/W4
    * (db_llm_service.py:144-196). */
  def topNPerGroup(df: DataFrame, partitionCols: Seq[Column],
                   orderCols: Seq[Column], n: Int,
                   rankCol: String = "rn"): DataFrame = {
    val w = Window.partitionBy(partitionCols: _*).orderBy(orderCols: _*)
    df.withColumn(rankCol, row_number().over(w)).filter(col(rankCol) <= n)
  }

  /** Latest row per key (W3: ORDER BY ts DESC LIMIT 1 per user). */
  def latestPerKey(df: DataFrame, keys: Seq[Column],
                   orderCols: Seq[Column]): DataFrame =
    topNPerGroup(df, keys, orderCols, 1).drop("rn")

  /** Bucketed histogram (A5: size-class bucket counts,
    * routes.py:743-747). Buckets are (name, predicate) in priority
    * order; rows failing all predicates get `otherwise`. */
  def bucketize(c: Column, buckets: Seq[(String, Column)],
                otherwise: String): Column =
    buckets.foldRight(lit(otherwise)) { case ((name, pred), acc) =>
      when(pred, lit(name)).otherwise(acc)
    }

  /** Exact semi-join on an integral key via a broadcast BITMAP instead
    * of a broadcast hash relation. Result equals
    * `fact.join(broadcast(keys), fact(factKey) === keys(keyCol), "left_semi")`
    * (spec-asserted, nulls never match on either path).
    *
    * Why: existence-only semantics don't need a hash table. The
    * broadcast semi join's driver chain at the 100× bench point —
    * collect 0.14 s + SINGLE-THREADED 3 M-row HashedRelation build
    * 1.00 s + 254 MB transmit 0.26 s (r12 bench attribution) — was
    * 75% of `j4_semijoin`'s wall. Here the keys side feeds a `long[]`
    * bitset OR-built distributed, the broadcast is range/8 bytes
    * (7.5 MB for a 60 M-key span), and the probe is a codegen filter
    * FUSED INTO THE FACT SCAN — no join operator in the plan at all,
    * the fact is never shuffled, and every scan pushdown/pruning
    * survives untouched.
    *
    * Build is ONE distributed pass (r14; the r13 build was a sizing
    * aggregate plus a second fill pass — two jobs, two key-side
    * scans): each partition grows a word-aligned local bitset anchored
    * at its own key range (geometric regrow, so cost stays O(local
    * span)), and the partials merge through a depth-2 treeReduce —
    * level-1 merges on executors, the driver folding only ~√P
    * pre-merged results (r15; the scan runs at full width) —
    * word-aligned bases make every merge a pure word-offset OR, no
    * bit shifting. The driver never
    * materializes a single key row, so the bitmap has NO driver-fit
    * contract on the key COUNT at all. Single-pass also closes the r13
    * advisory hazard: with two passes over a NON-DETERMINISTIC keys
    * input (limit without order, sample, rand-derived keys) the fill
    * could see keys outside the sizing pass's [min, max] and silently
    * wrap the array index; here the stats and the structure come from
    * the same rows by construction, so no disagreement is possible.
    *
    * Falls back to a plain left-semi JOIN when the key span needs more
    * than `maxBitmapBytes` — detected in the single pass (a partition's
    * own span, or the union span at a merge), which stops reading at
    * once, so an out-of-contract key side costs one aborted scan. The
    * fallback is unhinted and compares the same `cast("long")` keys the
    * bitmap probe does: Spark's planner and AQE choose the physical
    * join (and its runtime bloom filter may prefilter the fact), and
    * the plan shows which.
    *
    * EAGER-SNAPSHOT semantics (r12 advisory), for the BITMAP only: the
    * bitset is built at CONSTRUCTION time — building or explaining the
    * returned plan runs the build job, and the returned DataFrame's key
    * membership is a snapshot taken now (re-executions do NOT re-read
    * a changed keys input). Deliberate: the operator trades plan
    * laziness for deleting the broadcast hash join's serial driver
    * build. At 1000-executor scale the bitset ships once per executor
    * via torrent broadcast — smaller and cheaper than the equivalent
    * HashedRelation by ~an order of magnitude. The fallback is an
    * ordinary lazy join, as [[denseLookupJoin]]'s is.
    *
    * `reuse = true` memoizes the BUILT bitmap (or an empty key side)
    * in the session's [[graft.EngineState]], keyed by the
    * canonicalized keys plan, the budget, and a snapshot of the files
    * under the plan's scans: q3's two eager builds would otherwise
    * re-run on every execution of a freshly-constructed query (the
    * bench re-constructs per timing pass), re-paying both build jobs
    * for a bit-identical structure. Two constructions of the same
    * logical keys query over unchanged files share one build and one
    * broadcast, even from two separate `spark.read` calls (a scan's
    * canonical form compares its file index by root paths). Once a
    * file under those paths changes, the key changes: the next call
    * rebuilds from the plan it is given, so the probe reads exactly
    * what that plan reads. Bounded: ≤ [[probeCacheMaxEntries]]
    * least-recently-used entries per session, each ≤ maxBitmapBytes;
    * evicted broadcasts are reclaimed by the ContextCleaner once
    * unreferenced. A key side past the budget is not cached. */
  def bitmapSemiJoin(fact: DataFrame, keys: DataFrame, factKey: String,
                     keyCol: String,
                     maxBitmapBytes: Long = 64L << 20,
                     reuse: Boolean = false): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    // r13-advisory overflow guard: the word array must stay Int-indexable
    require(maxBitmapBytes >= 8 && maxBitmapBytes <= (1L << 33),
      s"bitmapSemiJoin: maxBitmapBytes=$maxBitmapBytes out of [8, 8 GiB]")
    val spark = fact.sparkSession
    val keyDf = keys.select(col(keyCol).cast("long").as("k"))
      .where(col("k").isNotNull)
    // ONE distributed job, built at FULL scan parallelism: per-partition
    // partial bitsets merged through a depth-2 treeReduce, so the
    // key-side scan is never throttled (the r14 coalesce(8) build
    // dragged the whole upstream scan into 8 tasks — measured ~0.6 s of
    // q3's build chain on a 15 M-row orders scan at x100) and the
    // driver receives only ~√P pre-merged partials instead of P. The
    // level-1 merges run ON EXECUTORS; worst-case movement is
    // P × partial-size through one shuffle (partials are local-span
    // bitsets — KBs when keys are clustered, ≤maxBitmapBytes when a
    // partition spans the whole range), which at 1000 executors is a
    // distributed exchange, not a driver ingest.
    // InternalRow path (r14): `as[Long].rdd` pays the encoder
    // deserializer per row; `toRdd.getLong(0)` extracts the primitive
    // straight from the (reused) UnsafeRow — nothing is retained.
    val mbb = maxBitmapBytes
    def buildProbe(): BuiltProbe = {
      val keyRdd = keyDf.queryExecution.toRdd
      val merged =
        if (keyRdd.getNumPartitions == 0) Option.empty[KeyPartial]
        else keyRdd
          .mapPartitions(it => Iterator.single(
            buildKeyPartial(it.map(_.getLong(0)), mbb).toSeq.headOption))
          .treeReduce((a, b) => (a, b) match {
            case (Some(x), Some(y)) => Some(mergeKeyPartials(x, y, mbb))
            case _ => a.orElse(b)
          }, depth = 2)
      merged match {
        case None => BuiltEmpty
        case Some(p) if p.overflow => throw SpanOverflow
        case Some(KeyPartial(mn, mx, base, words, _)) =>
          // trim leading/trailing regrow slack before broadcasting
          val tb = floorAlign64(mn)
          val lo = ((tb - base) >>> 6).toInt
          val hi = (((mx - tb) >>> 6) + 1).toInt
          val trimmed =
            if (lo == 0 && words.length == hi) words
            else java.util.Arrays.copyOfRange(words, lo, lo + hi)
          BuiltBitmap(spark.sparkContext.broadcast(trimmed), tb)
      }
    }
    val probe =
      try {
        if (!reuse) buildProbe()
        else {
          // canonicalized plan as the key OBJECT: attribute ids are
          // normalized (two constructions of the same logical keys
          // query collide) and case-class equality is EXACT — a
          // toString key would conflate two LocalRelations with the
          // same schema but different data
          val plan = keyDf.queryExecution.analyzed
          val inputs = plan.collect {
            case lr: LogicalRelation if lr.relation.isInstanceOf[HadoopFsRelation] =>
              lr.relation.asInstanceOf[HadoopFsRelation].location.rootPaths.map(_.toString)
          }.flatten
          // a build that throws leaves no entry, so an overflowing key
          // side is never cached
          graft.EngineState.of(spark).getOrBuild(
            ProbeKey(plan.canonicalized, maxBitmapBytes), inputs,
            bound = probeCacheMaxEntries)(buildProbe())
        }
      } catch {
        case SpanOverflow =>
          return fact.join(keyDf, fact(factKey).cast("long") === keyDf("k"),
            "left_semi")
      }
    probe match {
      case BuiltEmpty => fact.where(lit(false))
      case BuiltBitmap(bc, tb) =>
        fact.where(ColumnBridge.column(graft.plans.BitmapContains(
          ColumnBridge.expression(fact(factKey).cast("long")), bc, tb)))
    }
  }

  // ---- single-pass build machinery (r14) ----------------------------

  /** Finished probe structure of [[bitmapSemiJoin]] — what the `reuse`
    * cache holds: the broadcast handle plus its probe metadata, NOT
    * the raw partial (re-broadcasting a cached bitmap would re-pay the
    * distribution the cache exists to delete). */
  private sealed trait BuiltProbe
  private final case class BuiltBitmap(
      bc: org.apache.spark.broadcast.Broadcast[Array[Long]], base: Long)
    extends BuiltProbe
  private case object BuiltEmpty extends BuiltProbe

  /** Thrown out of [[bitmapSemiJoin]]'s build when the key span passes
    * `maxBitmapBytes`, so the `reuse` cache keeps no entry for it. */
  private case object SpanOverflow extends scala.util.control.ControlThrowable

  /** Cache key for the `reuse` probe entries: the CANONICALIZED keys
    * plan compared by case-class equality (exact — includes
    * LocalRelation data, which its toString omits) and the build
    * budget. */
  private final case class ProbeKey(
      keysPlan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      maxBitmapBytes: Long)

  private val probeCacheMaxEntries = 8

  private def floorAlign64(k: Long): Long = k & ~63L

  /** Partial build state shipped task → driver: a word-aligned local
    * bitset, or `overflow` when its span passed `maxBitmapBytes`.
    * `base` is a multiple of 64, bit `k - base` represents key `k`. */
  private final case class KeyPartial(mn: Long, mx: Long, base: Long,
      words: Array[Long], overflow: Boolean)

  private val keysOverflow = KeyPartial(0L, 0L, 0L, null, overflow = true)

  /** One-pass per-partition builder: a bitset anchored at the first
    * key's aligned base, regrown geometrically; the moment the LOCAL
    * span passes `maxBitmapBytes` it stops reading and returns
    * [[keysOverflow]]. */
  private def buildKeyPartial(it: Iterator[Long],
                              maxBitmapBytes: Long): Iterator[KeyPartial] = {
    if (!it.hasNext) return Iterator.empty
    val maxWords = (maxBitmapBytes >>> 3).toInt
    var mn = Long.MaxValue; var mx = Long.MinValue
    var base = 0L
    var words: Array[Long] = null
    while (it.hasNext) {
      val k = it.next()
      if (k < mn) mn = k
      if (k > mx) mx = k
      if (words == null) {
        base = floorAlign64(k)
        words = new Array[Long](math.min(maxWords, 1024))
      }
      val idx = k - base // wraps NEGATIVE on overflow → grow path
      if (idx >= 0 && (idx >>> 6) < words.length)
        words((idx >>> 6).toInt) |= 1L << (idx & 63)
      else {
        val newBase = floorAlign64(math.min(k, base))
        val reqWordsB = ((BigInt(mx) - BigInt(newBase)) >> 6) + 1
        if (reqWordsB > maxWords) return Iterator.single(keysOverflow)
        val reqWords = reqWordsB.toInt
        val allocLen = math.min(maxWords.toLong,
          math.max(reqWords.toLong, words.length.toLong * 2)).toInt
        val na = new Array[Long](allocLen)
        val off = ((base - newBase) >>> 6).toInt
        System.arraycopy(words, 0, na, off,
          math.min(words.length, allocLen - off))
        base = newBase; words = na
        val i2 = k - base
        words((i2 >>> 6).toInt) |= 1L << (i2 & 63)
      }
    }
    Iterator.single(KeyPartial(mn, mx, base, words, overflow = false))
  }

  /** Pairwise partial merge (runs on executors in the level-1 tree
    * reduction and on the driver for the final ~√P results; at most
    * two live partials per call, bounded transient footprint).
    * Overflow when either side is, or when the UNION span passes the
    * budget — the `BigInt` span keeps a span past `Long` from
    * allocating. */
  private def mergeKeyPartials(a: KeyPartial, b: KeyPartial,
                               maxBitmapBytes: Long): KeyPartial = {
    if (a.overflow) return a
    if (b.overflow) return b
    val cmn = math.min(a.mn, b.mn); val cmx = math.max(a.mx, b.mx)
    val newBase = floorAlign64(cmn)
    val maxWords = (maxBitmapBytes >>> 3).toInt
    val reqWordsB = ((BigInt(cmx) - BigInt(newBase)) >> 6) + 1
    if (reqWordsB > maxWords) return keysOverflow
    val (rb, rw) =
      if (a.base <= newBase && ((BigInt(cmx) - BigInt(a.base)) >> 6) < a.words.length)
        (a.base, a.words) // a's array already covers the union — OR b in place
      else {
        val na = new Array[Long](reqWordsB.toInt)
        blitInto(a, newBase, na); (newBase, na)
      }
    blitInto(b, rb, rw)
    KeyPartial(cmn, cmx, rb, rw, overflow = false)
  }

  private def blitInto(p: KeyPartial, base: Long, target: Array[Long]): Unit = {
    val off = ((p.base - base) >>> 6).toInt
    val lim = math.min(p.words.length, target.length - off)
    var i = 0
    while (i < lim) { target(off + i) |= p.words(i); i += 1 }
  }

  /** Scan-fused dimension LOOKUP join: generalizes [[bitmapSemiJoin]]
    * from existence to VALUE ATTACHMENT for a dense integral PK and a
    * low-cardinality payload column — `fact ⋈ dim` becomes a
    * broadcast byte array indexed by `key − min` holding dictionary
    * CODES, probed by the codegen [[graft.plans.DenseByteLookup]]
    * fused into the fact scan, plus a literal-array dictionary decode.
    * Result equals `fact.join(broadcast(dim), factKey === keyCol)`
    * for a UNIQUE-keyed dim (spec-asserted; duplicate dim keys are
    * rejected loudly — a dense array cannot express row
    * multiplication).
    *
    * Why: the broadcast hash join ships every dim row as UnsafeRows
    * and builds a LongHashedRelation SERIALLY on the driver — measured
    * 0.80 s build + 0.26 s transmit of 254 MB for a 3 M-row
    * (long, string) dim at the x100 bench point (r12
    * bench attribution on salted_join), ~60% of the join's wall.
    * Dict-coding the payload ships span bytes (60 MB for the same
    * dim) built in one ~30 ms array fill, and the probe is O(1)
    * branch-free inside whole-stage codegen — no join operator, no
    * fact shuffle, every pushdown survives.
    *
    * Same EAGER-SNAPSHOT semantics as [[bitmapSemiJoin]]'s bitmap, and
    * like that bitmap the build is ONE distributed pass (r14; the r13
    * build was a sizing aggregate + a distinct() dictionary job + a
    * fill pass — three jobs, three dim-side scans): each partition
    * grows a local codes array anchored at its own key range and
    * builds its own insertion-order dictionary; the driver merges the
    * ≤8 coalesced partials incrementally, remapping each partial's
    * dictionary codes into the accumulated dictionary (coalesce kept
    * over the r15 tree/repartition alternatives by measurement — see
    * the build site). The driver
    * never holds a dim row, so there is NO key-count driver contract
    * (the span check alone bounds the array), and — single pass — the
    * r13-advisory two-pass hazard (a non-deterministic dim disagreeing
    * with its own sizing stats and wrapping an index) is structurally
    * impossible. Value codes are compared with plain JVM equality on
    * BOTH the build and probe side of the dictionary (one HashMap),
    * which also closes the r13 advisory about `distinct()`-normalized
    * values (-0.0 vs 0.0) missing the executor-side lookup map.
    *
    * Falls back to a plain JOIN when the key span exceeds
    * `maxCodesBytes` or the payload cardinality exceeds 127 (byte
    * codes; a dict that size stopped being "low-cardinality" anyway) —
    * detected IN the single pass, which short-circuits to a cheap
    * drain, so a disqualified dim costs one aborted scan, not the
    * r13 sizing-agg + distinct jobs. The fallback is an unhinted join
    * on the cast-to-long keys: Spark's planner and AQE choose its
    * physical strategy. Duplicate dim keys are rejected
    * loudly (tracked as an Option, not an in-band sentinel — the r13
    * `Long.MinValue` sentinel collided with a legitimate key value) —
    * a dense array cannot express row multiplication. */
  def denseLookupJoin(fact: DataFrame, dim: DataFrame, factKey: String,
                      keyCol: String, valueCol: String,
                      maxCodesBytes: Long = 96L << 20): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    // r13-advisory guard: the codes array must stay Int-indexable
    require(maxCodesBytes >= 1 && maxCodesBytes <= Int.MaxValue,
      s"denseLookupJoin: maxCodesBytes=$maxCodesBytes out of [1, Int.MaxValue]")
    val spark = fact.sparkSession
    def fallback = {
      val dimSel = dim.select(col(keyCol).cast("long").as("_dlj_key"),
        col(valueCol))
      fact.join(dimSel,
        fact(factKey).cast("long") === dimSel("_dlj_key")).drop("_dlj_key")
    }
    val dimDf = dim.select(col(keyCol).cast("long").as("k"),
      col(valueCol).as("v")).where(col("k").isNotNull)
    // ONE distributed job (build-shape decision and its A/B numbers
    // documented at the coalesce below).
    //
    // InternalRow fast path (r14): `df.rdd` converts EVERY dim row to
    // an external GenericRow (allocation + UTF8String→String) just so
    // the build can read two fields — measured ~0.25 s of the 3 M-row
    // build job at the x100 point. For scalar payload types the build
    // reads the (reused) InternalRow directly; only first-seen
    // dictionary values are copied (UTF8String.clone, ≤127 times) and
    // converted to external form once at the end for the decode
    // literals. Exotic payload types keep the external-Row path.
    val mcb = maxCodesBytes
    val vType = dim.schema(valueCol).dataType
    import org.apache.spark.sql.types._
    val internalOk = vType match {
      case StringType | BooleanType | ByteType | ShortType |
           IntegerType | LongType | FloatType | DoubleType => true
      case _ => false
    }
    val pairRdd =
      if (internalOk) {
        val vt = vType
        dimDf.queryExecution.toRdd
          .mapPartitions(_.map(r => (r.getLong(0), r.get(1, vt))))
      } else dimDf.rdd.mapPartitions(_.map(r => (r.getLong(0), r.get(1))))
    // Unlike the bitmap build (8 bits per key-span — tree-merged
    // partials move KBs, so THAT build runs at full scan width), a
    // CODES partial is a full BYTE per key-span, and on an
    // interleaved-key corpus every scan partition spans the whole
    // range: a 32-way partial tree moves 32 × span bytes (measured
    // salted_join 0.65 → 1.57 s at x100) and a raw-row repartition
    // pays the object serializer on every dim row (measured worse
    // still). The coalesce(8) build — narrow, rows consumed in-task,
    // ≤8 span-sized partials driver-ward — remains the measured
    // optimum for this structure; its cost is the dim scan running at
    // 8 tasks, which the r14/r15 A/Bs price at well under the
    // alternatives for every dim in the suite.
    val buildPar = math.max(1, math.min(8, pairRdd.getNumPartitions))
    val merged = pairRdd.coalesce(buildPar)
      .mapPartitions(it => buildCodesPartial(it, mcb).map(p => Option(p)))
      .fold(Option.empty[CodesPartial]) {
        case (Some(a), Some(b)) => Some(mergeCodesPartials(a, b, mcb))
        case (a, b) => a.orElse(b)
      }
    def dictExternal(v: Any): Any = v match {
      case u: org.apache.spark.unsafe.types.UTF8String => u.toString
      case other => other
    }
    merged match {
      case None =>
        fact.where(lit(false))
          .withColumn(valueCol, lit(null).cast(dim.schema(valueCol).dataType))
      case Some(p) if p.overflow => fallback
      case Some(p) if p.dup.isDefined =>
        throw new IllegalArgumentException(
          s"requirement failed: denseLookupJoin: duplicate dim key ${p.dup.get} — " +
            "a dense lookup cannot express row multiplication; dedupe the " +
            "dim or use a plain join")
      case Some(p) =>
        // trim regrow slack to the exact (64-aligned) [mn, mx] span
        // before broadcast — word-granular at the packed layout
        val tb = floorAlign64(p.mn)
        val offW = ((tb - p.base) >> (6 - pkLog2(p.width))).toInt
        val lenW = pkWords(p.mx - tb + 1, p.width).toInt
        val codes =
          if (offW == 0 && p.codes.length == lenW) p.codes
          else java.util.Arrays.copyOfRange(p.codes, offW, offW + lenW)
        val bc = spark.sparkContext.broadcast(codes)
        val codeCol = ColumnBridge.column(graft.plans.DensePackedLookup(
          ColumnBridge.expression(fact(factKey).cast("long")), bc, tb, p.width))
        fact.withColumn("_dlj_code", codeCol)
          .where(col("_dlj_code") >= 0)
          .withColumn(valueCol,
            element_at(array(p.dict.map(v => lit(dictExternal(v))).toSeq: _*),
              col("_dlj_code") + 1))
          .drop("_dlj_code")
    }
  }

  /** Partial build state for [[denseLookupJoin]]: a local BIT-PACKED
    * codes array anchored at `base` (a multiple of 64 — keeps every
    * repack/merge copy word-aligned at any width), entry `k - base`
    * holding `code + 1` in `width` bits (stored 0 = absent), the
    * partition's insertion-order dictionary the codes index into, the
    * first duplicate key seen (if any), and an `overflow` flag meaning
    * "out of contract — take the join fallback" (span × width/8 >
    * maxCodesBytes, or >127 distinct payload values).
    *
    * Width starts at 1 BIT and doubles only when the dictionary
    * outgrows it (capacity 2^w − 1 values), so a dim filtered to one
    * payload value — the common attach-a-constant shape — packs at
    * one bit per key of span: 8× smaller than the r14 byte codes.
    * That factor is what keeps the x1000 salted_join (600 M-key
    * orders span ≈ 75 MB at 1 bit vs 600 MB at a byte) INSIDE the
    * broadcast budget, so the probe stays scan-fused at the scale
    * point where the byte form degraded to a shuffle join; at every
    * smaller point it ships 8× fewer bytes and probes a
    * cache-friendlier array. */
  private final case class CodesPartial(count: Long, mn: Long, mx: Long,
      base: Long, width: Int, codes: Array[Long], dict: Array[Any],
      dup: Option[Long], overflow: Boolean)

  private val codesOverflow =
    CodesPartial(0L, 0L, 0L, 0L, 1, null, null, None, overflow = true)

  // ---- packed-entry helpers (width ∈ {1,2,4,8}) ----------------------
  @inline private def pkLog2(w: Int): Int =
    Integer.numberOfTrailingZeros(w)
  /** capacity in distinct dict values at width `w` (stored 0 = absent) */
  @inline private def pkCapacity(w: Int): Int = (1 << w) - 1
  @inline private def widthFor(dictSize: Int): Int =
    if (dictSize <= 1) 1 else if (dictSize <= 3) 2
    else if (dictSize <= 15) 4 else 8
  /** entries that fit `words` longs at width `w` */
  @inline private def pkEntries(words: Int, w: Int): Long =
    words.toLong << (6 - pkLog2(w))
  /** words needed for `entries` entries at width `w` */
  @inline private def pkWords(entries: Long, w: Int): Long = {
    val shift = 6 - pkLog2(w)
    (entries + (1L << shift) - 1) >> shift
  }
  @inline private def pkGet(codes: Array[Long], w: Int, idx: Long): Int = {
    val l2 = pkLog2(w); val shift = 6 - l2
    ((codes((idx >>> shift).toInt) >>> ((idx.toInt & ((1 << shift) - 1)) << l2))
      & ((1L << w) - 1L)).toInt - 1
  }
  @inline private def pkSet(codes: Array[Long], w: Int, idx: Long,
                            code: Int): Unit = {
    val l2 = pkLog2(w); val shift = 6 - l2
    val wi = (idx >>> shift).toInt
    val bit = (idx.toInt & ((1 << shift) - 1)) << l2
    codes(wi) = (codes(wi) & ~(((1L << w) - 1L) << bit)) |
      ((code + 1).toLong << bit)
  }
  /** max words the broadcast budget admits (bytes = words × 8) */
  @inline private def pkMaxWords(maxCodesBytes: Long): Int =
    math.max(1L, maxCodesBytes >> 3).toInt

  /** Repack `codes` (width `ow`, `entries` allocated entries) to width
    * `nw` > ow. Word-by-word fan-out: a source word of 64/ow entries
    * expands into nw/ow consecutive target words; all-absent (zero)
    * source words skip in one branch. */
  private def pkRepack(codes: Array[Long], ow: Int, nw: Int,
                       entries: Long): Array[Long] = {
    val out = new Array[Long](pkWords(entries, nw).toInt)
    var i = 0L
    while (i < entries) {
      // skip whole absent source words
      val sShift = 6 - pkLog2(ow)
      if ((i & ((1L << sShift) - 1)) == 0 &&
          codes((i >>> sShift).toInt) == 0L) {
        i += (1L << sShift)
      } else {
        val s = pkGet(codes, ow, i)
        if (s >= 0) pkSet(out, nw, i, s)
        i += 1
      }
    }
    out
  }

  private def buildCodesPartial(it: Iterator[(Long, Any)],
                                maxCodesBytes: Long): Iterator[CodesPartial] = {
    if (!it.hasNext) return Iterator.empty
    val maxWords = pkMaxWords(maxCodesBytes)
    var count = 0L; var mn = Long.MaxValue; var mx = Long.MinValue
    var base = 0L
    var width = 1
    var codes: Array[Long] = null
    val dict = new scala.collection.mutable.ArrayBuffer[Any]
    val codeOf = new java.util.HashMap[Any, Integer]
    var dup: Option[Long] = None
    var overflow = false
    while (it.hasNext && !overflow) {
      val (k, v) = it.next()
      count += 1
      if (k < mn) mn = k
      if (k > mx) mx = k
      var c = codeOf.get(v)
      if (c == null) {
        if (dict.length >= 127) overflow = true
        else {
          // first-seen value: store a STABLE copy — on the InternalRow
          // path `v` may be a UTF8String view into a reused row buffer
          val stable = v match {
            case u: org.apache.spark.unsafe.types.UTF8String => u.clone()
            case other => other
          }
          c = Integer.valueOf(dict.length); dict += stable; codeOf.put(stable, c)
          if (dict.length > pkCapacity(width)) {
            // widen one step (dict grows by 1, so a single doubling
            // always suffices); the wider span may break the budget.
            // Repack only the OCCUPIED entry range [0, mx - base] —
            // allocation slack beyond it is all-absent; the grow path
            // below re-extends as needed.
            val nw = width << 1
            if (codes != null) {
              val used = mx - base + 1
              if (pkWords(used, nw) > maxWords) overflow = true
              else codes = pkRepack(codes, width, nw,
                math.min(pkEntries(codes.length, width), used))
            }
            if (!overflow) width = nw
          }
        }
      }
      if (!overflow) {
        if (codes == null) {
          base = floorAlign64(k)
          codes = new Array[Long](math.min(maxWords, 512))
        }
        var idx = k - base
        if (idx < 0 || idx >= pkEntries(codes.length, width)) {
          val newBase = floorAlign64(math.min(k, base))
          val spanB = BigInt(mx) - BigInt(newBase) + 1
          if (spanB > (1L << 62) || pkWords(spanB.toLong, width) > maxWords)
            overflow = true
          else {
            val req = pkWords(spanB.toLong, width)
            val allocW = math.min(maxWords.toLong,
              math.max(req, codes.length.toLong * 2)).toInt
            val na = new Array[Long](allocW)
            // base and newBase are both 64-aligned → word-aligned copy
            val o = ((base - newBase) >> (6 - pkLog2(width))).toInt
            System.arraycopy(codes, 0, na, o,
              math.min(codes.length, allocW - o))
            base = newBase; codes = na
            idx = k - base
          }
        }
        if (!overflow) {
          if (pkGet(codes, width, idx) >= 0 && dup.isEmpty) dup = Some(k)
          pkSet(codes, width, idx, c.intValue())
        }
      }
    }
    val p = if (overflow) codesOverflow
            else CodesPartial(count, mn, mx, base, width, codes,
              dict.toArray, dup, overflow = false)
    Iterator.single(p)
  }

  /** Pairwise merge for [[denseLookupJoin]] partials (executors in
    * the tree level, driver at the root): unions the dictionaries
    * (a's codes stay, b's values remap), widens to the union's
    * required width, overlays b's packed entries word-by-word (zero
    * source words — all-absent — skip in one branch, so range-local
    * partials from a clustered dim merge at memcpy-class speed), and
    * detects cross-partition duplicate keys. */
  private def mergeCodesPartials(a: CodesPartial, b: CodesPartial,
                                 maxCodesBytes: Long): CodesPartial = {
    if (a.overflow) return a
    if (b.overflow) return b
    val maxWords = pkMaxWords(maxCodesBytes)
    val cmn = math.min(a.mn, b.mn); val cmx = math.max(a.mx, b.mx)
    // dictionary union: a's codes stay, b's values remap
    val dict = scala.collection.mutable.ArrayBuffer[Any](
      a.dict.toIndexedSeq: _*)
    val idxOf = new java.util.HashMap[Any, Integer]
    var ai = 0
    while (ai < a.dict.length) {
      idxOf.put(a.dict(ai), Integer.valueOf(ai)); ai += 1
    }
    val remap = new Array[Int](b.dict.length)
    var bi = 0
    while (bi < b.dict.length) {
      val v = b.dict(bi)
      var c = idxOf.get(v)
      if (c == null) {
        if (dict.length >= 127) return codesOverflow
        c = Integer.valueOf(dict.length); dict += v; idxOf.put(v, c)
      }
      remap(bi) = c.intValue()
      bi += 1
    }
    val w = math.max(widthFor(dict.length), math.max(a.width, b.width))
    val spanB = BigInt(cmx) - BigInt(cmn) + 1
    if (spanB > (1L << 62) || pkWords(spanB.toLong, w) > maxWords)
      return codesOverflow
    // target: reuse a's array when it is already at width w and covers
    // the union span from its own (aligned) base
    val aCodesW =
      if (a.width == w) a.codes
      else pkRepack(a.codes, a.width, w, pkEntries(a.codes.length, a.width))
    val (tBase, target) =
      if (a.base <= cmn && cmx - a.base < pkEntries(aCodesW.length, w))
        (a.base, aCodesW)
      else {
        val nb = floorAlign64(cmn)
        val na = new Array[Long](pkWords(cmx - nb + 1, w).toInt)
        val o = ((a.base - nb) >> (6 - pkLog2(w))).toInt
        System.arraycopy(aCodesW, 0, na, o,
          math.min(aCodesW.length, na.length - o))
        (nb, na)
      }
    var dup = a.dup.orElse(b.dup)
    // overlay b: word loop with an all-absent fast path; identity
    // remaps of non-colliding words could copy wholesale, but the
    // per-entry path is already bounded by b's occupied words
    val bShift = 6 - pkLog2(b.width)
    val bEnts = math.min(pkEntries(b.codes.length, b.width),
      b.mx - b.base + 1)
    var i = 0L
    while (i < bEnts) {
      if ((i & ((1L << bShift) - 1)) == 0 &&
          b.codes((i >>> bShift).toInt) == 0L) {
        i += (1L << bShift)
      } else {
        val s = pkGet(b.codes, b.width, i)
        if (s >= 0) {
          val gi = (b.base + i) - tBase
          if (pkGet(target, w, gi) >= 0 && dup.isEmpty) dup = Some(b.base + i)
          pkSet(target, w, gi, remap(s))
        }
        i += 1
      }
    }
    CodesPartial(a.count + b.count, cmn, cmx, tBase, w, target,
      dict.toArray, dup, overflow = false)
  }
}

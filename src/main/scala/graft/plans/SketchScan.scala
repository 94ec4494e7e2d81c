package graft.plans

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The one sketch tokenizer of the near-duplicate family (simhash, the
  * shingle set, minhash signatures and bands, contamination): the
  * reference's anchor rule `[가-힣a-z0-9][가-힣a-z0-9\-_/]+` over the
  * ROOT-lowered text, each token hashed as the poly-31 fold of its
  * UTF-16 units from [[PolySeed]] — the hash the DuckDB sketch oracles
  * recompute.
  *
  * It walks [[TokenScan.Cursor]]'s whitespace runs: an ASCII run is read
  * folded in place (no allocation), a run with a non-ASCII byte through
  * its ROOT-lowered bytes. Within a run `[a-z0-9]` starts a token,
  * `[a-z0-9\-_/]` continues one, a Hangul syllable (U+AC00–U+D7A3, the
  * UTF-8 sequences `EA B0 80`…`ED 9E A3`) does both, and any other
  * character ends it. Exact against the regex over the lowered whole
  * text: lowering a run equals that slice of the lowered text, and no
  * whitespace character matches the rule, so no token spans two runs.
  * A case that lowering rewrites (`İ`, the Kelvin sign) is scanned
  * after it is lowered, as the regex sees it.
  */
object SketchScan {
  import TokenScan.fold

  /** A shingle set's type: sorted distinct hashes. */
  val SetType: ArrayType = ArrayType(LongType, containsNull = false)

  final val PolySeed = 1125899906842597L
  /** Multiplier of the shingle and band folds. */
  final val FoldMul = 0x100000001b3L

  /** Murmur3's 64-bit finalizer. */
  def mix64(h0: Long): Long = {
    var h = h0
    h ^= (h >>> 33); h *= 0xff51afd7ed558ccdL
    h ^= (h >>> 33); h *= 0xc4ceb9fe1a85ec53L
    h ^= (h >>> 33); h
  }

  /** The `k` minhash seeds; band `b` is salted with seed `b`. */
  def seeds(k: Int): Array[Long] =
    Array.tabulate(k)(i => mix64(0x9e3779b97f4a7c15L * (i + 1)))

  /** Sketch-token cursor over `s`. After `next()` returns true, `hash`
    * is the current token's poly-31 hash. */
  final class Cursor(s: UTF8String) {
    private val runs = new TokenScan.Cursor(s)
    private var lo: Array[Byte] = null // lowered run; null = ASCII run
    private var base = 0
    private var end = 0
    private var i = 0
    private var w = 1 // byte width of the character `unit` last read
    var hash = 0L

    @inline private def byteAt(j: Int): Int =
      if (lo == null) fold(s.getByte(base + j)) else lo(j)

    /** UTF-16 unit of the token character at byte `j` of the run, or -1
      * for a character that ends a token. */
    private def unit(j: Int): Int = {
      val b = byteAt(j)
      w = 1
      if (b >= 0) {
        if ((b >= 'a' && b <= 'z') || (b >= '0' && b <= '9') ||
          b == '-' || b == '_' || b == '/') b
        else -1
      } else if ((b & 0xff) >= 0xea && (b & 0xff) <= 0xed && j + 2 < end) {
        val u = ((b & 0x0f) << 12) | ((byteAt(j + 1) & 0x3f) << 6) |
          (byteAt(j + 2) & 0x3f)
        if (u >= 0xac00 && u <= 0xd7a3) { w = 3; u } else -1
      } else -1
    }

    def next(): Boolean = {
      while (true) {
        while (i < end) {
          val c = unit(i)
          i += w
          if (c >= 'a' || (c >= '0' && c <= '9')) { // starts a token
            var h = PolySeed * 31L + c
            var len = 1
            var d = if (i < end) unit(i) else -1
            while (d >= 0) {
              h = h * 31L + d
              len += 1
              i += w
              d = if (i < end) unit(i) else -1
            }
            if (len > 1) { hash = h; return true }
          }
        }
        if (!runs.next()) return false
        lo = runs.lowered
        base = runs.start
        end = if (lo == null) runs.len else lo.length
        i = 0
      }
      false
    }
  }

  /** Sorted distinct hashes of `s`'s `n`-token shingles: each is
    * `((PolySeed·M + t0)·M + t1)…` over its token hashes, M = [[FoldMul]]. */
  def shingleSet(s: UTF8String, n: Int): Array[Long] = {
    val c = new Cursor(s)
    val ring = new Array[Long](n)
    var out = new Array[Long](16)
    var cnt = 0
    var t = 0
    while (c.next()) {
      ring(t % n) = c.hash
      t += 1
      if (t >= n) {
        var h = PolySeed
        var j = t - n
        while (j < t) { h = h * FoldMul + ring(j % n); j += 1 }
        if (cnt == out.length) out = java.util.Arrays.copyOf(out, cnt * 2)
        out(cnt) = h
        cnt += 1
      }
    }
    java.util.Arrays.sort(out, 0, cnt)
    var d = 0
    var k = 0
    while (k < cnt) {
      if (d == 0 || out(k) != out(d - 1)) { out(d) = out(k); d += 1 }
      k += 1
    }
    java.util.Arrays.copyOf(out, d)
  }

  /** Minhash of a shingle set under `seeds`: the signature (min of
    * `mix64(x ^ seed)` per seed) when `bands` is 0, else one hash per
    * band, `mix64(fold(band mins) ^ seed(b))`. A null or empty set has
    * all-`Long.MaxValue` mins. */
  def minhash(set: ArrayData, seeds: Array[Long], bands: Int): Array[Long] = {
    val k = seeds.length
    val mins = Array.fill(k)(Long.MaxValue)
    val n = if (set == null) 0 else set.numElements()
    var i = 0
    while (i < n) {
      val x = set.getLong(i)
      var j = 0
      while (j < k) {
        val v = mix64(x ^ seeds(j))
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    if (bands == 0) mins
    else {
      val rows = k / bands
      val out = new Array[Long](bands)
      var b = 0
      while (b < bands) {
        var h = PolySeed
        var r = 0
        while (r < rows) { h = h * FoldMul + mins(b * rows + r); r += 1 }
        out(b) = mix64(h ^ seeds(b))
        b += 1
      }
      out
    }
  }

  /** Members of `set` found in the sorted `probe`. */
  def hits(set: ArrayData, probe: Array[Long]): Long = {
    var n = 0L
    var i = 0
    while (i < set.numElements()) {
      if (java.util.Arrays.binarySearch(probe, set.getLong(i)) >= 0) n += 1
      i += 1
    }
    n
  }
}

/** `ShingleSetExpr(text, n)`: `array<bigint>` of [[SketchScan.shingleSet]];
  * null text gives null. */
case class ShingleSetExpr(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(n >= 1, s"shingle length must be >= 1, got $n")

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = SketchScan.SetType
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(str: Any): Any = UnsafeArrayData.fromPrimitiveArray(
    SketchScan.shingleSet(str.asInstanceOf[UTF8String], n))

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => s"${ev.value} = UnsafeArrayData.fromPrimitiveArray(" +
      s"graft.plans.SketchScan.shingleSet($s, $n));")

  override def toString: String = s"shingle_set($child, $n)"

  override protected def withNewChildInternal(newChild: Expression): ShingleSetExpr =
    copy(child = newChild)
}

/** `MinhashExpr(set, numHashes, bands)`: `array<bigint>` of
  * [[SketchScan.minhash]] over a shingle set; never null (a null set has
  * all-`Long.MaxValue` mins). */
case class MinhashExpr(child: Expression, numHashes: Int, bands: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(bands >= 0 && bands <= numHashes,
    s"bands=$bands out of [0, numHashes=$numHashes]")

  @transient private lazy val seeds = SketchScan.seeds(numHashes)

  override def inputTypes = Seq(SketchScan.SetType)
  override def dataType: DataType = SketchScan.SetType
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = UnsafeArrayData.fromPrimitiveArray(
    SketchScan.minhash(child.eval(input).asInstanceOf[ArrayData], seeds, bands))

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val s = ctx.addReferenceObj("minhashSeeds", seeds, "long[]")
    val c = child.genCode(ctx)
    ev.copy(code = code"""${c.code}
      |ArrayData ${ev.value} = UnsafeArrayData.fromPrimitiveArray(
      |  graft.plans.SketchScan.minhash(${c.isNull} ? null : ${c.value}, $s, $bands));
      |""".stripMargin, isNull = FalseLiteral)
  }

  override def toString: String =
    if (bands == 0) s"minhash($child, $numHashes)"
    else s"minhash_bands($child, $numHashes, $bands)"

  override protected def withNewChildInternal(newChild: Expression): MinhashExpr =
    copy(child = newChild)
}

/** `SketchHitsExpr(set, probe)`: BIGINT count of the shingle set's
  * members present in the broadcast sorted `probe`. */
case class SketchHitsExpr(child: Expression, probe: Broadcast[Array[Long]])
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(SketchScan.SetType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(set: Any): Any =
    SketchScan.hits(set.asInstanceOf[ArrayData], probe.value)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("sketchProbeBc", probe,
      classOf[Broadcast[Array[Long]]].getName)
    val p = ctx.addMutableState("long[]", "sketchProbe",
      v => s"$v = (long[]) $bcRef.value();")
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.plans.SketchScan.hits($s, $p);")
  }

  override def toString: String = s"sketch_hits($child)"

  override protected def withNewChildInternal(newChild: Expression): SketchHitsExpr =
    copy(child = newChild)
}

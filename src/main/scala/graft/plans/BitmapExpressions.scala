package graft.plans

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.expressions.{Expression, Predicate, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}

/** `BitmapContains(key, words, min)`: true iff bit `key - min` is set
  * in the broadcast bitset `words` — the probe side of
  * [[graft.operators.Relational.bitmapSemiJoin]].
  *
  * Why this exists: a broadcast LEFT SEMI join on a long key pays a
  * SINGLE-THREADED driver-side HashedRelation build — measured 1.0 s
  * for 3 M keys (254 MB as UnsafeRows) at the 100× bench point, 60-75%
  * of the join's wall (r12 bench attribution). When the key range is
  * dense enough for a bitset, existence-only semantics need none of
  * that: the same collected keys OR into a `long[]` in ~15 ms, the
  * broadcast payload shrinks to range/8 bytes, and the "join" becomes
  * this codegen filter fused into the fact scan — no join operator, no
  * build, O(1) branch-free probe per row.
  *
  * The broadcast HANDLE sits in the codegen references (bytes ship
  * once per executor via torrent broadcast, not per task); the
  * `long[]` is resolved once in the generated class's constructor.
  * Null keys yield null (a semi join never matches null), handled by
  * the standard null-propagating wrapper. */
case class BitmapContains(child: Expression,
                          words: Broadcast[Array[Long]],
                          min: Long)
    extends UnaryExpression with Predicate {

  override def nullable: Boolean = child.nullable

  override def nullSafeEval(key: Any): Any = {
    val idx = key.asInstanceOf[Long] - min
    val w = words.value
    idx >= 0 && (idx >>> 6) < w.length &&
      ((w((idx >>> 6).toInt) >>> (idx & 63)) & 1L) == 1L
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("bitmapBc", words,
      classOf[Broadcast[Array[Long]]].getName)
    val w = ctx.addMutableState("long[]", "bitmapWords",
      v => s"$v = (long[]) $bcRef.value();")
    nullSafeCodeGen(ctx, ev, k => {
      val idx = ctx.freshName("idx")
      s"""
         |long $idx = $k - ${min}L;
         |${ev.value} = $idx >= 0 && ($idx >>> 6) < $w.length &&
         |  (($w[(int)($idx >>> 6)] >>> ($idx & 63)) & 1L) == 1L;
       """.stripMargin
    })
  }

  override def toString: String = s"bitmap_contains($child)"

  override protected def withNewChildInternal(newChild: Expression): BitmapContains =
    copy(child = newChild)
}

/** `DensePackedLookup(key, codes, min, width)`: dictionary-CODE
  * lookup against a broadcast BIT-PACKED dense array — the
  * value-attaching sibling of [[BitmapContains]], probe side of
  * [[graft.operators.Relational.denseLookupJoin]]. Entry `key − min`
  * holds `code + 1` in `width` bits (width ∈ {1,2,4,8}; stored 0 =
  * absent), so a dim filtered to a SINGLE payload value packs at one
  * bit per key of span — 8× smaller than the r14 byte-codes array,
  * which is what keeps the x1000 salted_join (600 M-key orders span)
  * inside the codes budget instead of falling back to a shuffle
  * join. Returns the code (0-based), or −1 when the key is out of
  * range or absent; the caller filters `≥ 0` (inner-join semantics)
  * and decodes via a literal dictionary array. Out-of-span keys that
  * land inside the last allocated word read stored 0 → −1, so the
  * range check only guards the array index. Null keys yield null
  * (inner joins never match null). `toString` stays "dense_lookup"
  * — the plan pins (PlanSpec) key on that marker, and
  * the packed form IS the same probe. */
case class DensePackedLookup(child: Expression,
                             codes: Broadcast[Array[Long]],
                             min: Long,
                             width: Int)
    extends UnaryExpression {
  require(width == 1 || width == 2 || width == 4 || width == 8,
    s"DensePackedLookup: width=$width not in {1,2,4,8}")

  private val log2w = Integer.numberOfTrailingZeros(width)
  private val shift = 6 - log2w          // log2(entries per word)
  private val slotMask = (1 << shift) - 1
  private val wMask = (1L << width) - 1L

  override def dataType: org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.IntegerType
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(key: Any): Any = {
    val idx = key.asInstanceOf[Long] - min
    val c = codes.value
    val wi = (idx >>> shift).toInt
    if (idx >= 0 && wi < c.length)
      ((c(wi) >>> ((idx.toInt & slotMask) << log2w)) & wMask).toInt - 1
    else -1
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("denseCodesBc", codes,
      classOf[Broadcast[Array[Long]]].getName)
    val c = ctx.addMutableState("long[]", "denseCodes",
      v => s"$v = (long[]) $bcRef.value();")
    nullSafeCodeGen(ctx, ev, k => {
      val idx = ctx.freshName("idx")
      val wi = ctx.freshName("wi")
      s"""
         |long $idx = $k - ${min}L;
         |int $wi = (int) ($idx >>> $shift);
         |${ev.value} = ($idx >= 0 && $wi < $c.length)
         |  ? (int) (($c[$wi] >>> ((((int) $idx) & $slotMask) << $log2w)) & ${wMask}L) - 1
         |  : -1;
       """.stripMargin
    })
  }

  override def toString: String = s"dense_lookup($child)"

  override protected def withNewChildInternal(newChild: Expression): DensePackedLookup =
    copy(child = newChild)
}

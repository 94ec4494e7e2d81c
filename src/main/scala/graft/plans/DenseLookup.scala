package graft.plans

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}

/** `DensePackedLookup(key, codes, min, width)`: dictionary-CODE
  * lookup against a broadcast BIT-PACKED dense array — the probe side
  * of both scan-fused joins, [[graft.operators.Relational.denseLookupJoin]]
  * and its payload-free case [[graft.operators.Relational.bitmapSemiJoin]].
  * Entry `key − min` holds `code + 1` in `width` bits (width ∈
  * {1,2,4,8}; stored 0 = absent), so a key side with a SINGLE payload
  * value packs at one bit per key of span — a bitset, which is what a
  * semi join's key side always is, and what keeps the x1000
  * salted_join (600 M-key orders span) inside the codes budget instead
  * of falling back to a shuffle join. Returns the code (0-based), or
  * −1 when the key is out of range or absent; the caller filters
  * `≥ 0` (inner- and semi-join semantics) and, for a lookup, decodes
  * via a literal dictionary array. Out-of-span keys that land inside
  * the last allocated word read stored 0 → −1, so the range check
  * only guards the array index. It compares the word index as a
  * `long`: a key below `min` shifts (unsigned) to an index far past
  * any array, and narrowing first would wrap a key 2^38 or more past
  * `min` back onto the array (a false match, or a negative index).
  * Null keys yield null (a join never matches null). `toString` is
  * "dense_lookup" — the plan pins (PlanSpec) key on that marker.
  *
  * Why a filter and not a join: a broadcast hash join on a long key
  * pays a SINGLE-THREADED driver-side HashedRelation build — measured
  * 1.0 s for 3 M keys (254 MB as UnsafeRows) at the 100× bench point,
  * 60-75% of the join's wall (r12 bench attribution). Here the
  * "join" is this codegen expression fused into the fact scan — no
  * join operator, no build, O(1) branch-free probe per row. The
  * broadcast HANDLE sits in the codegen references (bytes ship once
  * per executor via torrent broadcast, not per task); the `long[]` is
  * resolved once in the generated class's constructor. */
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
    val wi = idx >>> shift
    if (wi < c.length)
      ((c(wi.toInt) >>> ((idx.toInt & slotMask) << log2w)) & wMask).toInt - 1
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
         |long $wi = $idx >>> $shift;
         |${ev.value} = $wi < $c.length
         |  ? (int) (($c[(int) $wi] >>> ((((int) $idx) & $slotMask) << $log2w)) & ${wMask}L) - 1
         |  : -1;
       """.stripMargin
    })
  }

  override def toString: String = s"dense_lookup($child)"

  override protected def withNewChildInternal(newChild: Expression): DensePackedLookup =
    copy(child = newChild)
}

package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row

/** Property test: normalizeScoresIP + marginFilter must reproduce the
  * reference's procedural IP branch (_similarity_search_with_margin,
  * ref enhanced_internal_db_service.py:697-727) on random score sets. */
class MarginPropertySpec extends AnyFunSuite {

  /** Reference IP branch as the oracle: sort desc, min-max normalize
    * with hi=max(1,max) lo=min(-1,min), cut at max(best−m, best·(1−m))
    * and the floor. (The reference divides by hi−lo+1e-9; the engine
    * version divides by hi−lo — hi≥1 and lo≤−1 keep the denominator
    * ≥2, so the 1e-9 guard is dead code there; we compare kept-sets,
    * which the 5e-10 relative shift cannot flip at these magnitudes.) */
  private def referenceKept(scores: Seq[(Long, Double)], margin: Double,
                            floor: Double): Set[Long] = {
    val sorted = scores.sortBy(-_._2)
    val raw = sorted.map(_._2)
    val hi = math.max(1.0, raw.max)
    val lo = math.min(-1.0, raw.min)
    val sims = raw.map(r => (r - lo) / (hi - lo))
    val best = sims.head
    val cut = math.max(best - margin, best * (1.0 - margin))
    sorted.map(_._1).zip(sims)
      .filter { case (_, s) => s >= cut && s >= floor }.map(_._1).toSet
  }

  test("normalize+margin chain equals the reference IP branch on 40 random sets") {
    val rnd = new scala.util.Random(23)
    (1 to 40).foreach { trial =>
      val n = 3 + rnd.nextInt(20)
      val scores = (1 to n).map(i => (i.toLong, rnd.nextDouble() * 2 - 1))
      val margin = rnd.nextDouble() * 0.5
      val floor = rnd.nextDouble() * 0.6
      val expected = referenceKept(scores, margin, floor)
      val got = VectorSearch.marginFilter(
          VectorSearch.normalizeScoresIP(scores.map(Row.fromTuple), score = 1),
          score = 1, margin, floor)
        .map(_.getLong(0)).toSet
      assert(got == expected, s"trial $trial margin=$margin floor=$floor scores=$scores")
    }
  }
}

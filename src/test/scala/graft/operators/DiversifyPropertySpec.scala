package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row

/** Property test: VectorSearch.diversify must reproduce the
  * reference's procedural round-robin (_diversify_results, ref
  * enhanced_internal_db_service.py:765-794) — groups in first-
  * appearance (best-score) order, per-group cap, rank-major
  * interleave, top-k cut — on randomized inputs, not just the
  * hand-computed example. */
class DiversifyPropertySpec extends AnyFunSuite {

  /** The reference algorithm, transliterated as the test oracle:
    * sort desc, group in insertion order, cap, round-robin. */
  private def referenceDiversify(rows: Seq[(Long, String, Double)],
                                 cap: Int, topK: Int): Seq[Long] = {
    val sorted = rows.sortBy(r => (-r._3, r._1)) // score desc, id asc
    val groups = scala.collection.mutable.LinkedHashMap.empty[String, scala.collection.mutable.ArrayBuffer[(Long, String, Double)]]
    sorted.foreach(r => groups.getOrElseUpdate(r._2, scala.collection.mutable.ArrayBuffer.empty) += r)
    val buckets = groups.values.map(_.take(cap).toSeq).toSeq
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var i = 0
    var progressed = true
    while (out.length < topK && progressed) {
      progressed = false
      buckets.foreach { b =>
        if (i < b.length && out.length < topK) { out += b(i)._1; progressed = true }
      }
      i += 1
    }
    out.toSeq
  }

  test("diversify equals the reference round-robin on 50 random inputs") {
    val rnd = new scala.util.Random(11)
    (1 to 50).foreach { trial =>
      val n = 5 + rnd.nextInt(25)
      val rows = (1 to n).map { i =>
        (i.toLong, s"g${rnd.nextInt(5)}",
          math.round(rnd.nextDouble() * 100) / 100.0) // ties likely
      }
      val cap = 1 + rnd.nextInt(3)
      val topK = 1 + rnd.nextInt(10)
      val expected = referenceDiversify(rows, cap, topK)
      val got = VectorSearch.diversify(rows.map(Row.fromTuple), _.get(1),
          score = 2, id = 0, cap, topK)
        .map(_.getLong(0))
      assert(got == expected,
        s"trial $trial cap=$cap topK=$topK rows=$rows")
    }
  }
}

package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Sequence packing (concat-and-split): per-shard seq ids must equal a
  * sequential reference fold, and packing must parallelize across
  * shards (one keyed window). */
class PackingSpec extends SparkSpec {
  import spark.implicits._

  test("packSequences equals the sequential concat-and-split reference") {
    val docs = (1L to 40L).map(i => (i, i % 3, 100L + (i % 7) * 50))
      .toDF("id", "shard", "toks")
    val got = Packing.packSequences(docs, $"shard", $"id", $"toks", 512L)
      .select($"shard", $"id", $"seq_id").as[(Long, Long, Long)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    // sequential reference: running token total per shard
    val want = (1L to 40L).map(i => (i, i % 3, 100L + (i % 7) * 50))
      .groupBy(_._2).flatMap { case (shard, rows) =>
        var before = 0L
        rows.sortBy(_._1).map { case (id, _, toks) =>
          val seq = before / 512L
          before += toks
          (shard, id) -> seq
        }
      }.toMap
    assert(got == want)
  }

  test("seq ids are nondecreasing in pack order and sequences start under budget") {
    val docs = (1L to 100L).map(i => (i, 0L, 200L)).toDF("id", "shard", "toks")
    val rows = Packing.packSequences(docs, $"shard", $"id", $"toks", 1000L)
      .orderBy("id").select("seq_id").as[Long].collect()
    assert(rows.zip(rows.tail).forall { case (a, b) => a <= b })
    // 200-token docs into 1000-token budget: exactly 5 docs per sequence
    assert(rows.count(_ == 0L) == 5)
    assert(rows.max == 19L)
  }
}

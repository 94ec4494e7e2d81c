package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Property test: `Relational.bitmapSemiJoin` must equal the plain
  * broadcast left-semi join on RANDOMIZED key spaces — negative keys,
  * duplicate keys, null fact keys, keys straddling zero, and spans
  * chosen to exercise BOTH the bitset fast path and the fallback to
  * Spark's semi join past the bitmap budget (including the
  * Long-overflow span guard, and a span that only passes the budget
  * when two dense partitions merge). Seeded generation keeps failures
  * reproducible. */
class BitmapSemiJoinPropertySpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(42)

  private def check(factKeys: Seq[Option[Long]], keys: Seq[Long],
                    label: String): Unit =
    check(factKeys, keys.toDF("kk"), label)

  private def check(factKeys: Seq[Option[Long]], dim: DataFrame,
                    label: String): Unit = {
    val fact = factKeys.zipWithIndex.map { case (k, i) => (k, s"r$i") }
      .toDF("k", "p")
    val viaBitmap = Relational.bitmapSemiJoin(fact, dim, "k", "kk")
      .select("p").as[String].collect().toSet
    val viaJoin = fact.join(broadcast(dim), fact("k") === dim("kk"), "left_semi")
      .select("p").as[String].collect().toSet
    assert(viaBitmap == viaJoin,
      s"$label: bitmap=${viaBitmap.size} join=${viaJoin.size} " +
        s"diff=${(viaBitmap diff viaJoin) ++ (viaJoin diff viaBitmap)}")
  }

  test("random dense key spaces straddling zero (bitset path)") {
    (1 to 8).foreach { round =>
      val keys = Seq.fill(40)(rnd.nextLong() % 500) // dupes + negatives
      val factKeys = Seq.fill(300)(
        if (rnd.nextInt(20) == 0) None else Some(rnd.nextLong() % 600))
      check(factKeys, keys, s"dense round $round")
    }
  }

  test("sparse key spaces take Spark's semi join, including Long-overflow spans") {
    // span > maxBitmapBytes*8 → plain semi join; mn<0 with mx near
    // MaxValue makes (mx-mn) overflow Long — the BigInt guard must
    // route these to the join, never allocate
    val cases = Seq(
      Seq(Long.MinValue + 10, Long.MaxValue - 10),
      Seq(-5L, Long.MaxValue - 3),
      Seq(Long.MinValue + 1, -7L, 0L, 3L))
    cases.zipWithIndex.foreach { case (keys, i) =>
      val factKeys = (keys.map(Some(_)) ++
        Seq.fill(50)(Some(rnd.nextLong())) :+ None).reverse
      check(factKeys, keys, s"sparse case $i")
    }
    // two partitions, each dense on its own ([0, 100) and
    // [2^40, 2^40 + 100)), whose UNION span passes the default budget:
    // the overflow is found at the merge, not in a partition
    val far = 1L << 40
    val split = spark.range(0, 200, 1, 2).select(
      when(col("id") < 100, col("id")).otherwise(col("id") - 100 + far).as("kk"))
    assert(split.rdd.getNumPartitions == 2)
    check(Seq.tabulate(300)(i => Some(if (i % 2 == 0) i.toLong else far + i - 150)) :+
      None, split, "dense partitions, sparse union")
  }

  test("random wide sparse key sets (Spark semi join, many keys, 0 included)") {
    (1 to 4).foreach { round =>
      // full-width random longs → span always overflows the bitmap
      // budget; 0L planted so a zero key is matched too
      val keys = (Seq.fill(200)(rnd.nextLong()) :+ 0L).distinct
      val factKeys =
        Seq.fill(400)(if (rnd.nextInt(10) == 0) None
          else if (rnd.nextInt(3) == 0) Some(keys(rnd.nextInt(keys.length)))
          else Some(rnd.nextLong())) :+ Some(0L)
      check(factKeys, keys, s"wide sparse round $round")
    }
  }

  test("every key in two partitions: the semi join ignores the duplicates the lookup rejects") {
    // four partitions, each with distinct keys ([0, 100) and
    // [100, 200) twice): a duplicate exists only across partitions, so
    // it is first seen when two partials merge
    val dim = spark.range(0, 400, 1, 4)
      .select((col("id") % 200).as("kk"), lit("x").as("tag"))
    assert(dim.rdd.getNumPartitions == 4)
    check(Seq.tabulate(300)(i => Some(i.toLong - 50)) :+ None, dim, "keys twice")
    val fact = Seq((5L, "a")).toDF("k", "p")
    val e = intercept[IllegalArgumentException](
      Relational.denseLookupJoin(fact, dim, "k", "kk", "tag"))
    assert(e.getMessage.contains("duplicate dim key"), e.getMessage)
  }

  test("single-key and all-matching edges") {
    check(Seq(Some(7L), Some(7L), Some(8L), None), Seq(7L), "single key")
    check(Seq(Some(1L), Some(2L), Some(3L)), Seq(1L, 2L, 3L), "all match")
    check(Seq(Some(Long.MinValue), Some(Long.MaxValue)),
      Seq(Long.MinValue), "min-value key")
    // a fact key 2^38 past the span's base, or one whose distance from
    // it wraps Long, must miss, not alias onto the array
    check(Seq(Some(64L), Some(64L + (1L << 38)), Some(Long.MinValue)),
      Seq(64L), "keys far past the span")
  }
}

package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TemporalJoinSpec extends SparkSpec {
  import spark.implicits._

  private def tsDf(name: String, idCol: String, tsCol: String,
                   usOffsets: Seq[Long]) = {
    val base = 1700000000000000L // fixed epoch-micros anchor
    usOffsets.zipWithIndex
      .map { case (us, i) => (i.toLong, base + us) }
      .toDF(idCol, "_us")
      .select(col(idCol), timestamp_micros(col("_us")).as(tsCol))
  }

  test("proximityCount equals counting the enumerating proximity join (seeded corpus)") {
    // seeded pseudo-random offsets spread across ~40 tolerance buckets,
    // dense enough that many windows span bucket boundaries
    val rnd = new scala.util.Random(42)
    val tolSec = 60L
    val left = tsDf("p_id", "p_id", "p_ts",
      Seq.fill(300)(rnd.nextLong(40L * tolSec * 1000000L)))
    val right = tsDf("e_id", "e_id", "e_ts",
      Seq.fill(500)(rnd.nextLong(40L * tolSec * 1000000L))).drop("e_id")

    val counted = TemporalJoin.proximityCount(left, right, "p_ts", "e_ts", tolSec)
      .select(col("p_id"), col("n_matches"))
      .as[(Long, Long)].collect().toMap
    val enumerated = TemporalJoin.proximity(left, right, "p_ts", "e_ts", tolSec)
      .groupBy("p_id").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap

    // every enumerated count matches; left rows with no neighbor are
    // present in counted with 0 (the enumerating inner join drops them)
    assert(counted.size == 300)
    enumerated.foreach { case (id, n) => assert(counted(id) == n, s"p_id=$id") }
    counted.foreach { case (id, n) =>
      if (!enumerated.contains(id)) assert(n == 0L, s"p_id=$id expected 0")
    }
    assert(counted.values.sum == enumerated.values.sum)
  }

  test("proximityCount chunked path (tiny maxProbesPerChunk) equals the enumerating join") {
    // same seeded corpus as the equality test above, but probes forced
    // into many sub-bucket chunks — the dense-bucket containment path
    // must be output-identical to the single-chunk formulation
    val rnd = new scala.util.Random(43)
    val tolSec = 60L
    val left = tsDf("p_id", "p_id", "p_ts",
      Seq.fill(300)(rnd.nextLong(10L * tolSec * 1000000L))) // ~30 probes/bucket
    val right = tsDf("e_id", "e_id", "e_ts",
      Seq.fill(400)(rnd.nextLong(10L * tolSec * 1000000L))).drop("e_id")
    val counted = TemporalJoin.proximityCount(left, right, "p_ts", "e_ts",
        tolSec, maxProbesPerChunk = 7)
      .select(col("p_id"), col("n_matches"))
      .as[(Long, Long)].collect().toMap
    val enumerated = TemporalJoin.proximity(left, right, "p_ts", "e_ts", tolSec)
      .groupBy("p_id").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
    assert(counted.size == 300) // chunking never drops or duplicates a probe
    enumerated.foreach { case (id, n) => assert(counted(id) == n, s"p_id=$id") }
    counted.foreach { case (id, n) =>
      if (!enumerated.contains(id)) assert(n == 0L, s"p_id=$id expected 0")
    }
  }

  test("proximityCount planted mega-bucket: 1M probes in ONE tolSec bucket, bounded chunks") {
    // the dense-left hazard from the round-10 verdict: every probe of a
    // bucket used to land in one collect_list buffer / one output row.
    // 1M probes share bucket 0 here; with maxProbesPerChunk=4096 the
    // bucket must split into ~245 chunks, each a bounded aggregation
    // buffer, and the counts must still match an analytic oracle.
    val base = 1700000000000000L // aligned: base % tolUs == 0
    val tolSec = 1000L
    val tolUs = tolSec * 1000000L
    val nL = 1000000L
    val left = spark.range(nL).select(col("id").as("p_id"),
      timestamp_micros(lit(base) + col("id") * 1000L).as("p_ts")) // all < tolUs
    val nR = 1000
    // right rows spread over [-tol, 2*tol): exercises both neighbor
    // buckets plus the home bucket in the concat window
    val rOff = (0 until nR).map(j => j.toLong * 3000000L - tolUs).toArray
    val right = spark.range(nR).select(
      timestamp_micros(lit(base) + (col("id") * 3000000L - lit(tolUs))).as("e_ts"))

    val out = TemporalJoin.proximityCount(left, right, "p_ts", "e_ts",
      tolSec, maxProbesPerChunk = 4096)
    def expected(tUs: Long): Long =
      rOff.count(r => math.abs(tUs - r) <= tolUs).toLong
    val expSum = (0L until nL).map(i => expected(i * 1000L)).sum
    val (gotRows, gotSum) = out.agg(count(lit(1)), sum("n_matches"))
      .as[(Long, Long)].head()
    assert(gotRows == nL, "every probe exactly once")
    assert(gotSum == expSum, s"sum of counts: got $gotSum want $expSum")
    // spot-check individual probes against the analytic count
    val sample = out.filter(col("p_id") % 99991 === 0)
      .select(col("p_id"), col("n_matches")).as[(Long, Long)].collect()
    assert(sample.length == 11)
    sample.foreach { case (id, n) =>
      assert(n == expected(id * 1000L), s"p_id=$id") }
  }

  test("proximityCount bounds are inclusive at exactly +-tol and bucket edges") {
    val tolSec = 10L
    val tolUs = tolSec * 1000000L
    // left probe sits exactly on a bucket boundary; right rows at
    // -tol, -tol-1us, +tol, +tol+1us, and same-instant
    val left = tsDf("p_id", "p_id", "p_ts", Seq(5L * tolUs))
    val right = tsDf("e_id", "e_id", "e_ts",
      Seq(4L * tolUs, 4L * tolUs - 1L, 6L * tolUs, 6L * tolUs + 1L, 5L * tolUs))
      .drop("e_id")
    val n = TemporalJoin.proximityCount(left, right, "p_ts", "e_ts", tolSec)
      .select("n_matches").as[Long].head()
    assert(n == 3L) // -tol, +tol, same-instant; the two 1us-outside miss
  }

  test("asofFused fails loud when isLeft and isRight overlap on a row") {
    // r16 self-audit: the disjointness contract was documented only —
    // now the side tag raise_errors on the first overlapping row
    val ev = Seq((1L, 1L, 1700000000000000L, "purchase"))
      .toDF("event_id", "user_id", "_us", "event_type")
      .select(col("event_id"), col("user_id"),
        timestamp_micros(col("_us")).as("ts"), col("event_type"))
    val e = intercept[Exception] {
      TemporalJoin.asofFused(ev,
        isLeft = col("event_type") === "purchase",
        isRight = col("event_id") === 1L, // overlaps isLeft on the row
        keys = Seq("user_id"), ts = col("ts"),
        lPayload = Seq("event_id" -> col("event_id")),
        rPayload = Seq("click_id" -> col("event_id")),
        rTieBreak = Seq(col("event_id"))).collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(e).exists(c =>
      c.getMessage != null && c.getMessage.contains("overlap")))
  }

  test("asofFused requires a right-side tie-break") {
    val ev = Seq((1L, 1L, 1700000000000000L, "purchase"))
      .toDF("event_id", "user_id", "_us", "event_type")
      .select(col("event_id"), col("user_id"),
        timestamp_micros(col("_us")).as("ts"), col("event_type"))
    intercept[IllegalArgumentException] {
      TemporalJoin.asofFused(ev,
        isLeft = col("event_type") === "purchase",
        isRight = col("event_type") === "click",
        keys = Seq("user_id"), ts = col("ts"),
        lPayload = Seq("event_id" -> col("event_id")),
        rPayload = Seq("click_id" -> col("event_id")),
        rTieBreak = Nil)
    }
  }

  test("asofFused equals the two-table asof (+ brute force) on a seeded event stream, incl. ties") {
    // a single-source stream of 'purchase' and 'click' rows per user,
    // timestamps drawn from a SMALL grid so exact-tie cases (click at
    // the same instant as a purchase; multiple clicks at one instant)
    // occur by construction. The two-table form pre-aggregates the
    // click side to max(event_id) per (user, ts); the fused form
    // expresses the same winner via rTieBreak = event_id — equality
    // across all three implementations pins the tie semantics.
    val rnd = new scala.util.Random(7)
    val base = 1700000000000000L
    val rows = (0L until 400L).map { i =>
      (i, rnd.nextInt(4).toLong,
        base + rnd.nextInt(40) * 1000000L, // 40-slot grid → many ties
        if (rnd.nextBoolean()) "purchase" else "click")
    }
    val ev = rows.toDF("event_id", "user_id", "_us", "event_type")
      .select(col("event_id"), col("user_id"),
        timestamp_micros(col("_us")).as("ts"), col("event_type"))

    val fused = TemporalJoin.asofFused(ev,
        isLeft = col("event_type") === "purchase",
        isRight = col("event_type") === "click",
        keys = Seq("user_id"), ts = col("ts"),
        lPayload = Seq("event_id" -> col("event_id")),
        rPayload = Seq("click_id" -> col("event_id"), "c_ts" -> col("ts")),
        rTieBreak = Seq(col("event_id")))
      .select(col("event_id"), col("click_id"))
      .as[(Long, Option[Long])].collect().toMap

    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts").as("c_ts"))
      .agg(max(col("event_id")).as("click_id"))
    val twoTable = TemporalJoin.asof(purchases, clicks,
        keys = Seq("user_id"), lTs = "ts", rTs = "c_ts",
        rPayload = Seq("click_id"))
      .select(col("event_id"), col("click_id"))
      .as[(Long, Option[Long])].collect().toMap

    // brute force over the raw tuples
    val brute = rows.filter(_._4 == "purchase").map { case (id, u, us, _) =>
      val cand = rows.filter(r => r._4 == "click" && r._2 == u && r._3 <= us)
      id -> (if (cand.isEmpty) None
             else Some(cand.filter(_._3 == cand.map(_._3).max).map(_._1).max))
    }.toMap

    assert(fused.size == brute.size)
    brute.foreach { case (id, exp) =>
      assert(fused(id) == exp, s"fused event $id")
      assert(twoTable(id) == exp, s"two-table event $id")
    }
  }
}

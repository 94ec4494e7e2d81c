package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog and keeps " +
    "running through the green field toward the distant river bank"
  private val nearDup = base.replace("green", "wide") // one-word change
  private val unrelated = "completely different content about database engines " +
    "and distributed query processing with columnar storage formats"

  private lazy val docs = Seq(
    (1L, base), (2L, base), (3L, nearDup), (4L, unrelated)).toDF("id", "text")

  test("exactDedup keeps lowest-id row per identical content") {
    val out = Dedup.exactDedup(docs, "text", "id").select("id").as[Long].collect().toSet
    assert(out == Set(1L, 3L, 4L))
  }

  test("minhashNearDups finds exact and near duplicates, not unrelated pairs") {
    val pairs = Dedup.minhashNearDups(docs, "id", "text",
      shingleN = 3, numHashes = 16, bands = 8, threshold = 0.5)
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))           // identical
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L))) // near-dup
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))         // unrelated
  }

  test("minhashNearDups leaves out docs with no shingle instead of dividing 0 by 0") {
    // docs 1 and 2 have fewer than 3 tokens: both signatures are all
    // Long.MaxValue, so banding them would pair them with an empty
    // union (DuckDB's oracle divides to NULL and drops such a pair)
    val short = Seq((1L, "hi there"), (2L, "ok"), (4L, "the quick brown fox jumps"),
      (5L, "The quick brown fox jumps")).toDF("id", "text")
    val pairs = Dedup.minhashNearDups(short, "id", "text", threshold = 0.5)
      .select("idA", "idB").as[(Long, Long)].collect().toSeq
    assert(pairs == Seq((4L, 5L)))
  }

  test("minhashNearDups keeps a pair at its first shared band, with no (idA, idB) aggregate") {
    val out = Dedup.minhashNearDups(docs, "id", "text",
      shingleN = 3, numHashes = 16, bands = 8, threshold = 0.5)
    val pairs = out.select("idA", "idB").as[(Long, Long)].collect().toSeq
    assert(pairs.contains((1L, 2L)))
    assert(pairs.distinct == pairs, s"a pair is reported more than once: $pairs")
    out.collect()
    val keyed = collect(out.queryExecution.executedPlan) {
      case a: BaseAggregateExec =>
        a.groupingExpressions.flatMap(_.references.map(_.name)).toSet
    }
    assert(!keyed.exists(k => k.contains("idA") && k.contains("idB")),
      s"aggregate keyed on the pair: $keyed")
  }

  test("minhashNearDups computes each candidate pair's Jaccard once") {
    // a parquet input keeps Catalyst from folding the LocalRelation
    val tmp = tempDir("mhj") + "/docs"
    docs.write.parquet(tmp)
    val out = Dedup.minhashNearDups(spark.read.parquet(tmp), "id", "text",
      shingleN = 3, numHashes = 16, bands = 8, threshold = 0.5)
    val plan = out.queryExecution.executedPlan.toString
    assert("array_intersect\\(".r.findAllMatchIn(plan).size == 1, plan)
    assert(out.select("idA", "idB").as[(Long, Long)].collect().contains((1L, 2L)))
  }

  test("minhash signature of identical texts is identical; jaccard of shared bands high") {
    val sigs = docs.select(Dedup.minhashSignature($"text", 3, 16))
      .collect().map(_.getSeq[Long](0))
    assert(sigs(0) == sigs(1))
    assert(sigs(0) != sigs(3))
  }

  test("simhash: identical texts agree; near-dups within small hamming distance") {
    val out = docs.select(Dedup.simhash($"text")).collect().map(_.getLong(0))
    assert(out(0) == out(1))
    val hammingNear = java.lang.Long.bitCount(out(0) ^ out(2))
    val hammingFar = java.lang.Long.bitCount(out(0) ^ out(3))
    assert(hammingNear < hammingFar)
    assert(hammingNear <= 12)
  }

  test("approx_count_distinct tracks exact dedup counts within rsd (100 TB stats path)") {
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val r = docs.agg(
      countDistinct(Dedup.contentHash(col("text"))).as("exact"),
      approx_count_distinct(Dedup.contentHash(col("text")), 0.05).as("approx")).head
    val (exact, approx) = (r.getLong(0), r.getLong(1))
    assert(math.abs(approx - exact).toDouble / exact < 0.15,
      s"approx $approx vs exact $exact")
  }

  test("ngramJaccard: identical → 1.0, disjoint → 0.0") {
    val r = Seq((base, base, unrelated)).toDF("a", "b", "c")
      .select(Dedup.ngramJaccard($"a", $"b", 3), Dedup.ngramJaccard($"a", $"c", 3)).head
    assert(r.getDouble(0) == 1.0)
    assert(r.getDouble(1) == 0.0)
  }

  test("embeddingNearDups: bucketed candidates verified by cosine; null embeddings dropped") {
    val emb = Seq[(Long, Seq[Float])](
      (1L, Seq(1f, 0f, 0f, 0f)), (2L, Seq(0.99f, 0.01f, 0f, 0f)),
      (3L, Seq(0f, 1f, 0f, 0f)), (4L, null)).toDF("id", "emb")
    val pairs = Dedup.embeddingNearDups(emb, "id", "emb", dim = 4, bits = 6,
      threshold = 0.95).select("idA", "idB").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("simhashNearDups: close pairs found via band buckets, far pairs excluded") {
    // identical docs 1,2 collapse into one sketch group (rep = min id,
    // gsize 2) — the near-dup pair is reported once at group level
    val pairs = Dedup.simhashNearDups(docs, "id", "text", maxHamming = 3)
      .select("idA", "idB", "sizeA", "sizeB")
      .as[(Long, Long, Long, Long)].collect()
    assert(pairs.exists(p => p._1 == 1L && p._2 == 3L && p._3 == 2L),
      "near-dup of the identical group must pair with its rep, carrying gsize 2")
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L),
      "collapsed copy must not appear as a separate vertex")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L), "unrelated doc must not pair")
    // recall guarantee only holds to hamming 3 with 4 bands
    assertThrows[IllegalArgumentException](
      Dedup.simhashNearDups(docs, "id", "text", maxHamming = 9))
  }

  test("contamination flags corpus docs sharing an n-gram with the eval set") {
    val evalSet = Seq((100L, "the quick brown fox jumps high")).toDF("id", "text")
    val corpus = Seq(
      (1L, "something about the quick brown fox in a field"), // shares "the quick brown" + "quick brown fox"
      (2L, unrelated)).toDF("id", "text")
    val out = Dedup.contamination(corpus, evalSet, "id", "text", shingleN = 3)
      .as[(Long, Long)].collect().toMap
    assert(out.keySet == Set(1L))
    assert(out(1L) == 2L)
  }

  test("contamination probes each corpus row once") {
    val evalSet = Seq((100L, "the quick brown fox jumps high")).toDF("id", "text")
    val tmp = tempDir("contam") + "/corpus"
    Seq((1L, "something about the quick brown fox in a field"), (2L, unrelated))
      .toDF("id", "text").write.parquet(tmp)
    val out = Dedup.contamination(spark.read.parquet(tmp), evalSet, "id", "text",
      shingleN = 3)
    val plan = out.queryExecution.executedPlan.toString
    assert("sketch_hits\\(".r.findAllMatchIn(plan).size == 1, plan)
    assert(out.as[(Long, Long)].collect().toMap == Map(1L -> 2L))
  }

  test("contamination fails loudly when the eval set exceeds the gram bound") {
    // a corpus-sized "eval set" must not silently be collected to the
    // driver — same loud-bound contract as tf-idf's maxVocab
    val evalSet = Seq((100L, "one two three four five six seven eight"))
      .toDF("id", "text")
    val corpus = Seq((1L, unrelated)).toDF("id", "text")
    val e = intercept[IllegalArgumentException](
      Dedup.contamination(corpus, evalSet, "id", "text", shingleN = 3,
        maxEvalGrams = 2))
    assert(e.getMessage.contains("maxEvalGrams"))
  }

  test("hot-bucket guard: an adversarial boilerplate bucket is capped, small buckets unaffected") {
    // 500 identical docs (one LSH bucket per band) + one small near-dup
    // pair — without the cap the hot bucket alone yields 124,750
    // candidate pairs; with cap=50 the bucket is dropped entirely while
    // the small pair still surfaces
    val boiler = (1L to 500L).map(i => (i, base))
    // identical pair → jaccard 1.0 and guaranteed shared band buckets
    // (a probabilistic near-dup pair could flake on band boundaries)
    val small = Seq((1001L, unrelated), (1002L, unrelated))
    val df = (boiler ++ small).toDF("id", "text")
    val capped = Dedup.minhashNearDups(df, "id", "text",
      shingleN = 3, numHashes = 16, bands = 4, threshold = 0.5,
      maxBucketSize = 50)
    val pairs = capped.select("idA", "idB").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1001L, 1002L)), "small-bucket pair must survive the cap")
    assert(!pairs.exists(p => p._1 <= 500L && p._2 <= 500L),
      "hot-bucket pairs must be dropped, not enumerated")
    // same guard on the embedding path
    val emb = ((1L to 300L).map(i => (i, Seq(1f, 0f, 0f, 0f))) ++
      Seq((901L, Seq(0f, 0f, 1f, 0f)), (902L, Seq(0f, 0f, 1f, 0f))))
      .toDF("id", "emb")
    val epairs = Dedup.embeddingNearDups(emb, "id", "emb", dim = 4, bits = 6,
      threshold = 0.95, maxBucketSize = 50)
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    assert(epairs.contains((901L, 902L)))
    assert(!epairs.exists(p => p._1 <= 300L && p._2 <= 300L))
  }

  test("compiled signBucket: identical vectors share buckets, orthogonal vectors differ") {
    val emb = Seq(
      (1L, Seq(1f, 2f, -3f, 0.5f)), (2L, Seq(1f, 2f, -3f, 0.5f)),
      (3L, Seq(-1f, -2f, 3f, -0.5f))).toDF("id", "emb")
    val out = emb.select(Dedup.signBucket($"emb", 4, 12)).collect().map(_.getLong(0))
    assert(out(0) == out(1))
    // antipodal vector flips every sign bit
    assert((out(0) ^ out(2)) == ((1L << 12) - 1))
  }
}

package graft.operators

import graft.SparkSpec
import graft.Tables
import graft.fixtures.Fixtures
import graft.plans.ScanFiles
import org.apache.spark.sql.functions._

class VectorIndexSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private lazy val emb = Tables.load(spark, dir, "embeddings").cache()
  private lazy val query: Array[Float] =
    emb.filter($"vec_id" === 0).select("embedding").head.getSeq[Float](0).toArray
  private lazy val model = VectorIndex.train(emb, "embedding", k = 16)
  private lazy val indexed = VectorIndex.assign(emb.filter($"vec_id" =!= 0), "embedding", model).cache()

  private def exactTop(k: Int): Seq[Long] =
    VectorSearch.knnExact(emb.filter($"vec_id" =!= 0), "vec_id", "embedding",
      query.toSeq, k).select("vec_id").as[Long].collect().toSeq

  test("full probe (nprobe = k clusters) reproduces exact search") {
    val approx = VectorIndex.searchApprox(indexed, model, "vec_id", "embedding",
      query, k = 10, nprobe = 16).select("vec_id").as[Long].collect().toSeq
    assert(approx == exactTop(10))
  }

  test("partial probe: recall grows with nprobe, scan stays partial") {
    def recallAt(nprobe: Int): Double = {
      val approx = VectorIndex.searchApprox(indexed, model, "vec_id", "embedding",
        query, k = 10, nprobe = nprobe).select("vec_id").as[Long].collect().toSeq
      VectorIndex.recallAtK(exactTop(10), approx)
    }
    val r2 = recallAt(2)
    val r8 = recallAt(8)
    // uniform random embeddings are the worst case for IVF (no cluster
    // structure) — assert the trade-off shape, not a high absolute
    assert(r8 >= r2, s"recall should grow with nprobe ($r2 -> $r8)")
    assert(r8 >= 0.5, s"recall@10 with nprobe=8/16 was $r8")
    val probes = model.ranked(query).take(4)
    val scanned = indexed.filter($"cluster".isin(probes: _*)).count()
    assert(scanned < emb.count(), "probe should not scan the full corpus")
  }

  test("partitioned round-trip preserves cluster pruning") {
    val path = tempDir("graft_ivf_")
    VectorIndex.buildAndWrite(emb.filter($"vec_id" =!= 0), "embedding", model, path)
    val back = spark.read.parquet(path)
    val approx = VectorIndex.searchApprox(back, model, "vec_id", "embedding",
      query, k = 5, nprobe = 16).select("vec_id").as[Long].collect().toSeq
    assert(approx == exactTop(5))
    // physical pruning: the probe reads only the probed partitions
    val probes = model.ranked(query).take(2)
    val probe = VectorIndex.searchApprox(back, model, "vec_id", "embedding",
      query, k = 5, nprobe = 2)
    assert(ScanFiles.read(probe) == ScanFiles.under(path, probes))
    val plan = probe.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\n]*array_contains\\([^\\]]*\\], cluster#".r
      .findFirstIn(plan).isDefined, plan)
  }

  test("sampled train (maxTrainSamples < corpus) still yields usable recall") {
    // force the sampling path: the sf0.001 corpus is 1000 vectors, so a
    // 300-sample fit exercises the seeded-sample branch a 100 TB corpus
    // would always take; full-probe recall must stay high because the
    // rerank inside probed clusters is exact
    val sampled = VectorIndex.train(emb, "embedding", k = 16,
      maxTrainSamples = 300)
    val idx = VectorIndex.assign(emb.filter($"vec_id" =!= 0), "embedding", sampled)
    val approx = VectorIndex.searchApprox(idx, sampled, "vec_id", "embedding",
      query, k = 10, nprobe = 16).select("vec_id").as[Long].collect().toSeq
    assert(VectorIndex.recallAtK(exactTop(10), approx) == 1.0,
      "full probe with sampled centroids is still exact")
    val partial = VectorIndex.searchApprox(idx, sampled, "vec_id", "embedding",
      query, k = 10, nprobe = 8).select("vec_id").as[Long].collect().toSeq
    assert(VectorIndex.recallAtK(exactTop(10), partial) >= 0.5)
  }

  test("clustered corpus: recall@10 vs nprobe curve — floor where probing bites") {
    // Mixture-of-Gaussians corpus (round-8 audit item #4): uniform
    // embeddings measure recall=1.0 trivially because no probe order
    // is better than another; clusters whose jitter radius
    // (noise·√dim ≈ 12.8) matches the inter-center distance (≈ √(2·dim)
    // ≈ 11.3) genuinely overlap, so a too-small nprobe loses true
    // neighbors. 8 held-out queries, one per distinct true center.
    val all = Fixtures.gaussianMixture(spark, 4000, 64, 32, noise = 1.6).cache()
    val queries = all.filter($"vec_id" < 8)
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
    val corpus = all.filter($"vec_id" >= 8).cache()
    val cModel = VectorIndex.train(corpus, "embedding", k = 32)
    val idx = VectorIndex.assign(corpus, "embedding", cModel).cache()
    def recall(q: Array[Float], nprobe: Int): Double = {
      val exact = VectorSearch.knnExact(corpus, "vec_id", "embedding",
        q.toSeq, 10).select("vec_id").as[Long].collect().toSeq
      val approx = VectorIndex.searchApprox(idx, cModel, "vec_id", "embedding",
        q, 10, nprobe).select("vec_id").as[Long].collect().toSeq
      VectorIndex.recallAtK(exact, approx)
    }
    val curve = Seq(1, 2, 4, 8, 16, 32).map(np =>
      np -> queries.map(q => recall(q._2.toArray, np)).sum / queries.length)
    info(s"recall@10 curve: ${curve.map { case (n, r) => s"nprobe=$n:$r" }.mkString(", ")}")
    val byNp = curve.toMap
    // full probe degrades to exact search — recall is exactly 1
    assert(byNp(32) == 1.0, s"full probe must be exact, got ${byNp(32)}")
    // the pinned floor: nprobe=4 of 32 clusters keeps ≥0.9 of the
    // true top-10 on a corpus where probing genuinely bites
    assert(byNp(4) >= 0.9, s"recall@10 floor broken at nprobe=4: ${byNp(4)}")
    // more probes never lose recall (candidate sets only grow, rerank
    // is exact — monotonicity is structural, assert it held)
    curve.map(_._2).sliding(2).foreach { case Seq(a, b) =>
      assert(b >= a - 1e-9, s"recall curve not monotone: $curve")
    }
    all.unpersist(); corpus.unpersist(); idx.unpersist()
  }

  test("codegen cosine matches HOF cosine exactly") {
    val both = emb.select(
      graft.functions.VectorFunctions.cosine($"embedding", lit(query)).as("hof"),
      graft.functions.VectorFunctions.cosineFast($"embedding", lit(query)).as("gen"))
      .collect()
    assert(both.forall(r => r.getDouble(0) == r.getDouble(1)))
  }
}

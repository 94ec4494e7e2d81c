package graft.operators

import graft.SparkSpec
import graft.Tables
import org.apache.spark.sql.functions._

class ProductQuantizerSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private lazy val emb = Tables.load(spark, dir, "embeddings").cache()
  private lazy val pq = ProductQuantizer.train(emb, "embedding", m = 8)

  // planted clustered corpus: 20 well-separated centers × 30 members
  // with tiny noise — quantization error << inter-center distance, so
  // IVF-PQ must behave exactly like exact search on it
  private lazy val planted = {
    val dim = 16
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(20)(Array.fill(dim)((rnd.nextInt(21) - 10).toFloat * 10f))
    val rows = for {
      c <- centers.indices
      j <- 0 until 30
    } yield ((c * 30 + j).toLong,
      centers(c).map(x => x + (rnd.nextInt(201) - 100) / 10000.0f).toSeq)
    rows.toDF("vec_id", "embedding").cache()
  }

  test("ADC lookup sum equals the inner product with the reconstruction") {
    val q = emb.filter($"vec_id" === 0).select("embedding")
      .head.getSeq[Float](0).toArray
    val v = emb.filter($"vec_id" === 17).select("embedding")
      .head.getSeq[Float](0).toArray
    val code = pq.encode(v)
    val table = pq.adcTable(q)
    val adc = (0 until pq.m).map(j => table(j)(code(j) & 0xFF).toDouble).sum
    val recon = pq.reconstruct(code)
    val dot = q.indices.map(i => q(i).toDouble * recon(i)).sum
    assert(math.abs(adc - dot) < 1e-3, s"adc=$adc dot=$dot")
  }

  test("reconstruction error is far below the zero-code baseline") {
    val vs = emb.limit(50).select("embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    val (err, base) = vs.map { v =>
      val r = pq.reconstruct(pq.encode(v))
      val e = v.indices.map(i => math.pow(v(i) - r(i), 2)).sum
      val b = v.indices.map(i => math.pow(v(i).toDouble, 2)).sum
      (e, b)
    }.reduce((a, b) => (a._1 + b._1, a._2 + b._2))
    assert(err < 0.5 * base, s"PQ reconstruction MSE $err vs baseline $base")
  }

  test("training is independent of input partitioning") {
    val a = ProductQuantizer.train(emb.repartition(2), "embedding", m = 4,
      maxTrainSamples = 200)
    val b = ProductQuantizer.train(emb.repartition(13), "embedding", m = 4,
      maxTrainSamples = 200)
    assert(a.codebooks.flatten.flatten.toSeq == b.codebooks.flatten.flatten.toSeq)
  }

  test("IVF-PQ search recovers the exact top-k on clustered data") {
    val ivf = VectorIndex.train(planted, "embedding", k = 8)
    val pqm = ProductQuantizer.train(planted, "embedding", m = 4)
    val indexed = ProductQuantizer.encodeDf(
      VectorIndex.assign(planted, "embedding", ivf), "embedding", pqm).cache()
    val q = planted.filter($"vec_id" === 5).select("embedding")
      .head.getSeq[Float](0).toArray
    val exact = VectorSearch.knnExact(planted, "vec_id", "embedding", q.toSeq, 10)
      .select("vec_id").as[Long].collect().toSeq
    val got = ProductQuantizer.searchPQ(indexed, ivf, pqm, "vec_id", "embedding",
        q, k = 10, nprobe = 4, rerank = 40)
      .select("vec_id").as[Long].collect().toSeq
    assert(VectorIndex.recallAtK(exact, got) == 1.0, s"exact=$exact got=$got")
  }

  test("IVF-PQ recall floor holds on OVERLAPPING clusters (where pruning bites)") {
    // The planted corpus above is well-separated (recall must be
    // exactly 1). This one is the adversarial case (round-8 audit
    // item #4): Gaussian clusters whose jitter radius matches the
    // inter-center distance, so both the probe set and the ADC
    // candidate order genuinely lose neighbors. 8 held-out queries;
    // floor pinned at recall@10 ≥ 0.85 for nprobe=4/32, rerank=64
    // (measured 0.94 IVF-only — PQ may give up a little to
    // quantization, not more than a head's worth).
    val all = graft.fixtures.Fixtures
      .gaussianMixture(spark, 4000, 64, 32, noise = 1.6).cache()
    val queries = all.filter($"vec_id" < 8)
      .select("embedding").as[Seq[Float]].collect().map(_.toArray)
    val corpus = all.filter($"vec_id" >= 8).cache()
    val ivf = VectorIndex.train(corpus, "embedding", k = 32)
    val pqm = ProductQuantizer.train(corpus, "embedding", m = 8)
    val indexed = ProductQuantizer.encodeDf(
      VectorIndex.assign(corpus, "embedding", ivf), "embedding", pqm).cache()
    val recalls = queries.map { q =>
      val exact = VectorSearch.knnExact(corpus, "vec_id", "embedding",
        q.toSeq, 10).select("vec_id").as[Long].collect().toSeq
      val got = ProductQuantizer.searchPQ(indexed, ivf, pqm, "vec_id",
          "embedding", q, k = 10, nprobe = 4, rerank = 64)
        .select("vec_id").as[Long].collect().toSeq
      VectorIndex.recallAtK(exact, got)
    }
    val mean = recalls.sum / recalls.length
    info(f"IVF-PQ clustered recall@10 (nprobe=4, rerank=64): $mean%.3f")
    assert(mean >= 0.85, s"IVF-PQ recall floor broken: $mean (${recalls.toSeq})")
    all.unpersist(); corpus.unpersist(); indexed.unpersist()
  }

  test("ADC candidate scan never reads the vector column") {
    val ivf = VectorIndex.train(planted, "embedding", k = 8)
    val pqm = ProductQuantizer.train(planted, "embedding", m = 4)
    val path = tempDir("pqidx")
    ProductQuantizer.encodeDf(
        VectorIndex.assign(planted, "embedding", ivf), "embedding", pqm)
      .write.mode("overwrite").partitionBy("cluster").parquet(path)
    val index = spark.read.parquet(path)
    val q = planted.filter($"vec_id" === 5).select("embedding")
      .head.getSeq[Float](0).toArray
    val stage1 = ProductQuantizer.adcCandidates(index, ivf, pqm, "vec_id", q,
      rerank = 40, nprobe = 4)
    val plan = stage1.queryExecution.executedPlan.toString
    val readSchema = "ReadSchema: [^\\n]*".r.findFirstIn(plan).getOrElse("")
    assert(!readSchema.contains("embedding"),
      s"stage-1 scan must prune the vector column: $readSchema")
    // and the result matches the in-memory index path
    val mem = ProductQuantizer.adcCandidates(
      ProductQuantizer.encodeDf(
        VectorIndex.assign(planted, "embedding", ivf), "embedding", pqm),
      ivf, pqm, "vec_id", q, rerank = 40, nprobe = 4)
      .select("vec_id").as[Long].collect().toSeq
    val disk = stage1.select("vec_id").as[Long].collect().toSeq
    assert(mem == disk)
  }
}

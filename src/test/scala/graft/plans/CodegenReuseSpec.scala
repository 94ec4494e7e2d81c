package graft.plans

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.fixtures.Fixtures
import graft.ingest.Ingest
import graft.operators.{ProductQuantizer, VectorIndex}
import graft.search.SearchPipeline

/** The read path compiles its generated code once per query shape: a
  * new query vector, probe set or question reuses the classes of the
  * first call. Anything per-request that reaches the generated source
  * as an inlined literal (an `IN` list of probe ids, say) compiles new
  * classes on every request and evicts the rest of the working set
  * from Spark's codegen cache. */
class CodegenReuseSpec extends SparkSpec {
  import spark.implicits._

  /** Janino compiles (codegen cache misses) while `body` runs. */
  private def compiles(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  private lazy val corpus =
    Fixtures.gaussianMixture(spark, 2000, 16, 16, noise = 0.5).cache()
  private lazy val model = VectorIndex.train(corpus, "embedding", k = 16)
  private lazy val indexed = VectorIndex.assign(corpus, "embedding", model).cache()

  /** Query vectors whose top-3 probe sets are pairwise distinct. */
  private lazy val queries: Seq[Array[Float]] = {
    val candidates = corpus.orderBy("vec_id").limit(200)
      .select("embedding").as[Seq[Float]].collect().map(_.toArray)
    val byProbes = candidates.groupBy(q => model.ranked(q).take(3).toSet)
    byProbes.values.map(_.head).take(9).toSeq
  }

  test("searchApprox: distinct probe sets add no compiles after one warm-up") {
    assert(queries.length == 9, "fixture must give 9 distinct probe sets")
    def run(q: Array[Float]): Unit =
      VectorIndex.searchApprox(indexed, model, "vec_id", "embedding", q,
        k = 5, nprobe = 3).collect()
    run(queries.head)
    val n = compiles(queries.tail.foreach(run))
    assert(n == 0, s"${queries.length - 1} probe sets compiled $n classes")
  }

  test("SearchPipeline.search: different questions add no compiles after one warm-up") {
    val index = {
      val k = Fixtures.knowledge(spark)
      Ingest.buildIndex(k, Ingest.inferSchema(k.columns.toSeq), "knowledge", dim = 512).cache()
    }
    def run(question: String): Unit =
      SearchPipeline.search(index, question, topK = 5, margin = 0.5,
        simFloor = 0.0, dim = 512).collect()
    // every question has strong anchors, so all five share one plan shape
    run("Transformer 모델을 소개해")
    val questions = Seq("Self-Attention이 뭐야?", "FAISS가 뭐야?",
      "RAG 기술을 설명해", "임베딩이 뭐야?")
    val n = compiles(questions.foreach(run))
    assert(n == 0, s"${questions.length} questions compiled $n classes")
    index.unpersist()
  }

  test("searchPQ: distinct probe sets add no compiles after one warm-up") {
    val pq = ProductQuantizer.train(corpus, "embedding", m = 4)
    val coded = ProductQuantizer.encodeDf(indexed, "embedding", pq).cache()
    def run(q: Array[Float]): Unit =
      ProductQuantizer.searchPQ(coded, model, pq, "vec_id", "embedding", q,
        k = 5, nprobe = 3, rerank = 32).collect()
    run(queries.head)
    val n = compiles(queries.tail.foreach(run))
    assert(n == 0, s"${queries.length - 1} probe sets compiled $n classes")
    coded.unpersist()
  }
}

package graft

import java.util.Locale

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ingest.{HashEmbedder, Ingest}
import graft.operators.{Dedup, TextAnalysis}
import graft.search.SearchPipeline

/** The lowering contract: every text path lowers with `Locale.ROOT`
  * (DuckDB's `lower()`, the Python reference's locale-independent
  * `lower()`), and machine-read numbers print with ROOT, whatever the
  * JVM's default locale. Each case runs under `tr`, where a
  * default-locale `"IN".toLowerCase` is `"ın"` (or `de`, where
  * `"%.4f"` prints a decimal comma), and restores the old default
  * after. Suites run one at a time in one forked JVM and Spark's local
  * executors are threads of it, so the default reaches the tasks. */
class LocaleSpec extends SparkSpec {
  import spark.implicits._

  private val tr = Locale.forLanguageTag("tr")

  private def under[T](l: Locale)(body: => T): T = {
    val old = Locale.getDefault
    Locale.setDefault(l)
    try body finally Locale.setDefault(old)
  }

  private def sameUnderTr[T](body: => T): Unit = {
    val root = under(Locale.ROOT)(body)
    assert(under(tr)(body) == root)
  }

  /** Dotted and dotless i in both cases, with stopword ratios low
    * enough that the quality score does not clamp. */
  private lazy val corpus = Seq(
    (1L, "IN the INDEX of Istanbul"),
    (2L, "in ın İn index Index"),
    (3L, "ISTANBUL is in the ındex"),
    (4L, "I İ ı i"),
    (5L, "IS alpha beta gamma delta epsilon zeta eta theta iota kappa IN"))
    .toDF("doc_id", "text")

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("tfidfTopTerms equals tfidfTopTermsRowLocal under a tr default") {
    def norm(df: DataFrame) =
      df.select(col("doc_id"), col("rnk").cast("long"), col("tok"),
          col("tf").cast("long"), col("tfidf"))
        .as[(Long, Long, String, Long, Double)].collect().toSeq.sorted
    under(tr) {
      val win = norm(TextAnalysis.tfidfTopTerms(corpus, "doc_id", "text", 20))
      val loc = norm(TextAnalysis.tfidfTopTermsRowLocal(corpus, "doc_id", "text", 20))
      assert(win.nonEmpty)
      assert(loc == win)
    }
  }

  test("corpusLmScore equals corpusLmScoreRowLocal at 4 decimals under a tr default") {
    def norm(df: DataFrame) =
      df.select("doc_id", "n_tokens", "avg_logp")
        .as[(Long, Long, Double)].collect().toSeq.sorted
        .map { case (d, n, a) =>
          (d, n, BigDecimal(a).setScale(4, BigDecimal.RoundingMode.HALF_UP)) }
    under(tr) {
      val joined = norm(TextAnalysis.corpusLmScore(corpus, "doc_id", "text"))
      val local = norm(TextAnalysis.corpusLmScoreRowLocal(corpus, "doc_id", "text"))
      assert(joined.nonEmpty)
      assert(local == joined)
    }
  }

  test("qualitySignals is the same under tr as under ROOT") {
    sameUnderTr(rows(corpus.select(col("doc_id"),
      TextAnalysis.qualitySignals(col("text")))))
  }

  test("qualityScore is the same under tr as under ROOT") {
    sameUnderTr(rows(corpus.select(col("doc_id"),
      TextAnalysis.qualityScore(col("text")))))
  }

  test("repetition is the same under tr as under ROOT") {
    sameUnderTr(rows(corpus.select(col("doc_id"),
      TextAnalysis.repetition(col("text")))))
  }

  test("bm25Rank is the same under tr as under ROOT") {
    sameUnderTr(rows(TextAnalysis.bm25Rank(corpus, "doc_id", "text",
      Seq("in", "index"))))
  }

  test("the near-duplicate sketches are the same under tr as under ROOT") {
    sameUnderTr(rows(corpus.select(col("doc_id"), Dedup.simhash(col("text")),
      Dedup.minhashSignature(col("text"), 3, 16), Dedup.shingleSet(col("text"), 3))))
    val evalSet = Seq((100L, "in the INDEX of ISTANBUL")).toDF("doc_id", "text")
    val hits = rows(Dedup.contamination(corpus, evalSet, "doc_id", "text", 3))
    assert(hits.nonEmpty)
    sameUnderTr(rows(Dedup.contamination(corpus, evalSet, "doc_id", "text", 3)))
  }

  test("HashEmbedder.embed is the same under tr as under ROOT") {
    sameUnderTr(HashEmbedder.embed("INDEX of Istanbul", 64).toSeq)
  }

  test("strongAnchorPredicate on a non-ASCII document is the same under tr as under ROOT") {
    val doc = Seq(("café INDEX", "notes")).toDF("content", "title")
    sameUnderTr(doc.select(SearchPipeline.strongAnchorPredicate(
      col("content"), col("title"), Set("index"))).as[Boolean].collect().toSeq)
  }

  test("inferSchema picks ID and TITLE under tr as under ROOT") {
    sameUnderTr(Ingest.inferSchema(Seq("ID", "TITLE", "CONTENT")))
  }

  test("markedContext prints its score with a decimal point under a de default") {
    val ctx = under(Locale.forLanguageTag("de")) {
      SearchPipeline.markedContext(Seq(("c1", "d1", "t", "oo", 0.1234, "body")))
    }
    assert(ctx.contains("score=0.1234"), ctx)
  }
}

package graft.plans

import graft.SparkSpec
import graft.operators.{TextAnalysis, TextReference}
import org.apache.spark.sql.functions._

/** Fuzz-pins the tf-idf kernels bit-identical to the UDF /
  * Aggregator forms they replaced:
  *  - [[Tfidf.topK]] (TokenScan's in-place byte cursor, a per-document
  *    TokenTable, folded-byte df probes, top-k insertion) == the
  *    scalar-UDF tokenize+score+rank;
  *  - VocabKernelFold (per-document TokenTables added into a partition
  *    TokenTable) == VocabFold (immutable-Map fold), df and Σtf modes.
  * The references tokenize Strings on their own (TextReference's char
  * scan, ROOT-lowered), so they do not share the kernels' scanner.
  * The corpora mix scripts, case, whitespace runs, score ties (shared
  * tokens across docs) and case-folding edge tokens (Kelvin sign
  * lowers to ASCII 'k'). */
class TfidfKernelSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(20)
  private val vocabPool = Seq(
    "the", "And", "OF", "to", "spark", "WINDOW", "dup", "κόσμος",
    "ΚΌΣΜΟΣ", "한국어", "데이터", "café", "CAFÉ", "naïve", "x1",
    "a-b", "k", "K", "mixed한glish", "zz", "Zz")
  private def doc(): String = {
    val n = rnd.nextInt(40)
    (0 until n).map { _ =>
      val w = vocabPool(rnd.nextInt(vocabPool.length))
      val ws = Seq(" ", "  ", "\t", "\n", " \r ")(rnd.nextInt(5))
      w + ws
    }.mkString
  }
  private lazy val docs = ((0 until 300).map(i => (i.toLong, doc())) ++
    Seq((9000L, ""), (9001L, " \t\n "), (9002L, null.asInstanceOf[String])))
    .toDF("doc_id", "text")

  test("vocab kernel fold equals the immutable-Map fold, both modes") {
    for (weighted <- Seq(false, true)) {
      val kernel = docs.select(TextAnalysis
        .vocabKernelCol(col("text"), 1 << 20, weighted).as("m"))
        .head.getMap[String, Long](0).toMap
      val old = docs.select(TextReference
        .vocabFoldCol(col("text"), 1 << 20, weighted).as("m"))
        .head.getMap[String, Long](0).toMap
      assert(kernel == old, s"weighted=$weighted")
    }
  }

  test("topK kernel equals the scalar-UDF scorer row-for-row") {
    val n = docs.count()
    val dfMap = docs.select(TextReference
      .vocabFoldCol(col("text"), 1 << 20, weighted = false).as("m"))
      .head.getMap[String, Long](0).toMap
    for (k <- Seq(1, 3, 7)) {
      val kernel = docs.select(col("doc_id"),
          explode(Tfidf.topKCol(col("text"),
            TokenTable.of(dfMap), n.toDouble, k)).as("t"))
        .select(col("doc_id"), col("t._1"), col("t._2"), col("t._3"), col("t._4"))
        .as[(Long, Int, String, Long, Double)].collect().sortBy(r => (r._1, r._2))
      val udfRef = TextReference.tfidfTopKUdfReference(dfMap, n.toDouble, k)
      val old = docs.select(col("doc_id"),
          explode(udfRef(col("text"))).as("t"))
        .select(col("doc_id"), col("t._1"), col("t._2"), col("t._3"), col("t._4"))
        .as[(Long, Int, String, Long, Double)].collect().sortBy(r => (r._1, r._2))
      assert(kernel.length == old.length, s"k=$k")
      kernel.zip(old).foreach { case (a, b) => assert(a == b, s"k=$k") }
    }
  }

  test("lmScore kernel equals the scalar-UDF scorer (exact n, ulp-close sum)") {
    val vocab = docs.select(TextReference
      .vocabFoldCol(col("text"), 1 << 20, weighted = true).as("m"))
      .head.getMap[String, Long](0).toMap
    val total = vocab.valuesIterator.sum.toDouble
    val logp = vocab.map { case (t, c) =>
      (t, java.lang.StrictMath.log(c / total))
    }
    val logpBits = logp.map { case (t, p) =>
      (t, java.lang.Double.doubleToRawLongBits(p))
    }
    val kernel = docs.select(col("doc_id"),
        Tfidf.lmScoreCol(col("text"), TokenTable.of(logpBits)).as("r"))
      .filter(col("r._1") > 0L)
      .select(col("doc_id"), col("r._1"), col("r._2"))
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    val udfRef = TextReference.lmScoreUdfReference(logp)
    val old = docs.select(col("doc_id"), udfRef(col("text")).as("r"))
      .filter(col("r._1") > 0L)
      .select(col("doc_id"), col("r._1"), col("r._2"))
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(kernel.length == old.length && kernel.nonEmpty)
    kernel.zip(old).foreach { case ((di, ni, ai), (dj, nj, aj)) =>
      assert(di == dj && ni == nj, s"doc $di")
      assert(math.abs(ai - aj) <= 1e-12 * math.max(1.0, math.abs(aj)),
        s"doc $di: $ai vs $aj")
    }
  }

  test("langId kernel equals the UDF argmax incl. ties and null→und") {
    // bias docs toward stopwords so hits and TIES are common
    val sw = TextAnalysis.stopwords.values.flatten.toSeq
    def swDoc(): String = {
      val n = rnd.nextInt(12)
      (0 until n).map(_ =>
        (if (rnd.nextBoolean()) sw(rnd.nextInt(sw.length))
        else vocabPool(rnd.nextInt(vocabPool.length))) + " ").mkString
    }
    val d2 = ((0 until 400).map(i => (i.toLong, swDoc())) ++
      Seq((9000L, ""), (9001L, null.asInstanceOf[String]),
        (9002L, "de la"), (9003L, "DE LA"))) // fr/es shared-token tie
      .toDF("doc_id", "text")
    val got = d2.select(col("doc_id"), TextAnalysis.langId(col("text")))
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    val old = d2.select(col("doc_id"), TextReference.langIdUdf(col("text")))
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(got == old)
  }

  test("topK kernel fails loudly on a token absent from the vocab") {
    val partial = TokenTable.of(Map("the" -> 5L))
    val bad = Seq((1L, "the unknown")).toDF("doc_id", "text")
    val e = intercept[Exception] {
      bad.select(explode(Tfidf.topKCol(col("text"), partial, 2.0, 3)))
        .collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8).toSeq
    assert(chain(e).exists(c =>
      c.isInstanceOf[IllegalStateException] &&
        c.getMessage.contains("absent from the vocab pass")))
  }
}

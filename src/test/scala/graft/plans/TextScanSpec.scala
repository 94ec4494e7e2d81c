package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Pins the r19 codegen scan kernels (TextScan.stopwordHits /
  * TextScan.simhash64) to the UDF pipelines they replaced — on the
  * real sf0.001 corpus AND on fuzzed mixed-script strings, the same
  * discipline as the ContainsIgnoreCase pins. The stopword kernel runs
  * on TokenScan's cursor and a TokenTable set; its reference is
  * `toLowerCase(Locale.ROOT).split("\\s+")`. The simhash reference is
  * TextReference's counter loop over the regex tokenizer. */
class TextScanSpec extends SparkSpec {
  import spark.implicits._

  private val enStops =
    graft.operators.TextAnalysis.stopwords("en").toSet

  private def refStopwordHits(s: String): Int =
    if (s == null) 0
    else {
      val toks = s.toLowerCase(java.util.Locale.ROOT).split("\\s+")
      toks.count(enStops.contains)
    }

  private val fuzzAlphabet =
    "ab AB 09-_/ \t\n\f\r the and of to is a in that " +
      "é中文 İıKK ß δΣσς 가나  "

  private def fuzzStrings: Seq[String] = {
    val rnd = new scala.util.Random(20260816L)
    val chars = fuzzAlphabet.toCharArray
    (1 to 400).map { _ =>
      val n = rnd.nextInt(60)
      val sb = new StringBuilder
      (0 until n).foreach(_ => sb.append(chars(rnd.nextInt(chars.length))))
      sb.toString
    } ++ Seq("", " ", "the", "THE", "the the\tthe\nof", "xthe the*",
      "İn in", "K in to", "que es la", "的 是 the")
  }

  test("stopwordHits kernel == toLowerCase+split reference on fuzzed mixed-script strings") {
    fuzzStrings.foreach { s =>
      val got = TextScan.stopwordHits(
        UTF8String.fromString(s), TokenTable.of(
          graft.operators.TextAnalysis.stopwords("en").map(_ -> 1L)))
      assert(got == refStopwordHits(s), s"mismatch on ${s.take(80).toList}")
    }
  }

  test("simhash64 kernel == per-bit counter reference on fuzzed mixed-script strings") {
    fuzzStrings.foreach { s =>
      val got = TextScan.simhash64(UTF8String.fromString(s))
      assert(got == graft.operators.TextReference.simhash(s),
        s"mismatch on ${s.take(80).toList}")
    }
  }

  test("expression forms == UDF forms on the real sf0.001 documents corpus") {
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val sw = docs.select(
      graft.operators.TextAnalysis.stopwordHits(col("text"), "en").as("a"),
      graft.operators.TextReference.stopwordHitsUdf("en")(col("text")).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(sw == 0L, s"$sw rows disagree on stopword hits")
    val sh = docs.select(
      graft.operators.Dedup.simhash(col("text")).as("a"),
      graft.operators.TextReference.simhashUdf(col("text")).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(sh == 0L, s"$sh rows disagree on simhash")
  }

  test("null contract matches the UDFs (null text → 0)") {
    val df = Seq((1L, Option.empty[String]), (2L, Some("the fox"))).toDF("id", "text")
    val rows = df.select(
      graft.operators.TextAnalysis.stopwordHits(col("text"), "en").as("sw"),
      graft.operators.Dedup.simhash(col("text")).as("sh"))
      .orderBy(lit(1)).collect()
    assert(!rows.exists(r => r.isNullAt(0) || r.isNullAt(1)))
  }
}

package graft.plans

import graft.SparkSpec
import graft.operators.{Dedup, TextReference}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Pins SketchScan, the one tokenizer of the near-duplicate family, to
  * the anchor regex over the ROOT-lowered text (TextReference), and the
  * shingle hash to the shingle strings it stands for. */
class SketchScanSpec extends SparkSpec {

  private def scan(s: String): Seq[Long] = {
    val c = new SketchScan.Cursor(UTF8String.fromString(s))
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    while (c.next()) out += c.hash
    out.toSeq
  }

  private def inspect(s: String): String =
    s.map(c => if (c < 128) c.toString else f"\\u${c.toInt}%04x").mkString

  test("SketchScan token hashes equal the ROOT-lowered regex reference") {
    val rnd = new scala.util.Random(7)
    def codePoints(s: String): IndexedSeq[String] =
      s.codePoints.toArray.toIndexedSeq.map(cp => new String(Character.toChars(cp)))
    val ascii = codePoints("abcXYZ 019-_/.,!\t" * 3)
    // Hangul at both ends of its range and one past it (U+D7A4), İ and
    // the Kelvin sign (lowering rewrites both), dotless ı, fullwidth
    // Ａ１, an emoji and NBSP
    val mixed = ascii ++ codePoints("한국어 텍스트 \uAC00\uD7A3\uD7A4 \u0130stanbul " +
      "\u0131I \u212AELVIN \uFF21\uFF22\uFF11 \uD83D\uDE00 a\u00A0b")
    val fuzz = (0 until 3000).map { i =>
      val alpha = if (i % 3 == 0) mixed else ascii
      (0 until rnd.nextInt(60)).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    }
    val edges = Seq("", "a", "ab", "a b", "ab-", "-ab", "a/b_c-d", "AB",
      "x" * 500, "end ab", "ab end", "가나", "a가b", "9/11", "A1-B2/c3",
      "\uAC00\uD7A4\uD7A3", "\uD7A3\uD7A3 \uD7A4\uD7A4", "\u0130\u0130",
      "\u212A\u212A", "\uFF21\uFF11ab", "ab\u00A0cd")
    (fuzz ++ edges).foreach { s =>
      assert(scan(s) == TextReference.sketchTokenHashes(s),
        s"mismatch on ${inspect(s.take(80))}")
    }
  }

  test("SketchScan reads Hangul anchor tokens, 2+ chars, lowered") {
    assert(scan("Self-Attention은 RAG와 FAISS를 쓴다 x") ==
      Seq("self-attention은", "rag와", "faiss를", "쓴다").map(TextReference.sketchHash))
  }

  test("shingleSet equals the regex shingles and is injective on sf0.001 documents") {
    // one hash per distinct shingle string, so a Jaccard or probe over
    // the hashes equals one over the strings
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val rows = docs.select(col("text"), Dedup.shingleSet(col("text"), 3)).collect()
    val seen = scala.collection.mutable.HashMap.empty[Long, String]
    rows.foreach { r =>
      val text = r.getString(0)
      val grams = Option(text).toSeq.flatMap(TextReference.sketchTokens)
        .sliding(3).filter(_.size == 3).toSeq
      val hashes = grams.map { g =>
        val h = g.foldLeft(SketchScan.PolySeed)((h, t) =>
          h * SketchScan.FoldMul + TextReference.sketchHash(t))
        val str = g.mkString(" ")
        val prior = seen.getOrElseUpdate(h, str)
        assert(prior == str, s"'$prior' and '$str' share the hash $h")
        h
      }
      if (text == null) assert(r.isNullAt(1))
      else assert(r.getSeq[Long](1) == hashes.distinct.sorted)
    }
    // an independent Python recompute counts 15,515 distinct 3-shingles
    assert(seen.size == 15515)
  }
}

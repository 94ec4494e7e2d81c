package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.functions.TextFunctions._

class TextFunctionsSpec extends SparkSpec {
  import spark.implicits._

  private def one[T](c: org.apache.spark.sql.Column): T =
    Seq("x").toDF("dummy").select(c).head.getAs[T](0)

  test("stripHtml removes tags, keeps text") {
    val out = Seq("<p>AI <b>반도체</b> 수요</p>").toDF("t")
      .select(stripHtml($"t")).head.getString(0)
    assert(out == "AI 반도체 수요")
  }

  test("splitSentences splits on .!?。！？ and newline, trims, drops empties") {
    val out = Seq("첫 문장이다. 둘째! 셋째?\n넷째。").toDF("t")
      .select(splitSentences($"t")).head.getSeq[String](0)
    assert(out == Seq("첫 문장이다", "둘째", "셋째", "넷째"))
  }

  test("nfkc normalizes compatibility forms") {
    val out = Seq("ﬁｌｅ　１２３").toDF("t").select(nfkc($"t")).head.getString(0)
    assert(out == "file 123")
  }

  test("koParticle picks 은/는 by final jamo") {
    val df = Seq("어텐션", "메커니즘", "RAG").toDF("t")
      .select($"t", koParticle($"t").as("p")).collect()
    val m = df.map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m("어텐션") == "은")   // ㄴ final
    assert(m("메커니즘") == "은") // ㅁ final
    assert(m("RAG") == "는")     // non-Hangul
  }

  test("chunkTextUdf: stride windows with overlap, full coverage") {
    val chunk = chunkTextUdf(10, 3)
    val s = "abcdefghijklmnopqrstuvwxyz" // 26 chars
    val out = Seq(s).toDF("t").select(chunk($"t")).head.getSeq[String](0)
    assert(out.forall(_.length <= 10))
    assert(out.head == "abcdefghij")
    // consecutive chunks overlap by 3
    assert(out(1).startsWith(out.head.takeRight(3)))
    // coverage: concatenating chunks minus overlaps rebuilds the string
    assert(out.map(_.drop(3)).mkString.prepended(s.charAt(0)).length >= s.length - 10)
  }

  test("replaceEnToKo substitutes the reference term table, case-insensitive") {
    assert(TextFunctions.replaceEnToKo("Self-Attention uses attention over tokens")
      == "셀프-어텐션 uses 어텐션 over 토큰")
    assert(TextFunctions.replaceEnToKo("the Models and sequences")
      == "the 모델 and 시퀀스")
  }

  test("ensureTopicPrefix: keeps leading topic, fixes dangling particle, prepends otherwise") {
    // already prefixed (english-topic match, case-insensitive)
    assert(TextFunctions.ensureTopicPrefix("FAISS는 빠르다", "faiss") == "FAISS는 빠르다")
    // dangling particle corrected: "은 ..." → "<topic>은/는 ..."
    assert(TextFunctions.ensureTopicPrefix("는 중요한 기법이다", "어텐션")
      == "어텐션은 중요한 기법이다")
    // plain prepend with particle by final jamo
    assert(TextFunctions.ensureTopicPrefix("빠른 검색을 제공한다", "임베딩")
      == "임베딩은 빠른 검색을 제공한다")
  }

  test("cleanKoreanOutput: NFC, quote strip, spacing and duplicate punctuation") {
    assert(TextFunctions.cleanKoreanOutput("\"어텐션은  중요하다 .\"")
      == "어텐션은 중요하다.")
    assert(TextFunctions.cleanKoreanOutput("결과는 ( 좋다 ) 입니다!!  ")
      == "결과는 (좋다) 입니다!")
    assert(TextFunctions.cleanKoreanOutput("항목 [ A ] 관련, ,내용")
      == "항목 [A] 관련,내용")
  }

  test("truncateEllipsis and stripCommasToDouble") {
    val r = Seq(("abcdef", "1,234,567")).toDF("t", "p")
      .select(truncateEllipsis($"t", 4), stripCommasToDouble($"p")).head
    assert(r.getString(0) == "abcd...")
    assert(r.getDouble(1) == 1234567.0)
  }
}

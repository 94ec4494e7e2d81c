package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar text function library (SURVEY.md §2.8-str).
  *
  * Everything here is a `Column` expression built from Spark built-ins
  * wherever possible (codegen'd, null-safe, pushdown-transparent); JVM
  * UDFs only where no built-in exists (NFKC, jamo math, chunking).
  * Reference behaviors cited per function.
  *
  * Scale note: all functions are row-local scalars — no shuffles, no
  * state — so they ride inside whole-stage codegen spans (built-ins)
  * or a single project node (UDFs) and scale linearly.
  */
object TextFunctions {

  /** HTML tag strip. Ref: news_service_rss.py:157-161 (`<[^<]+?>`). */
  def stripHtml(c: Column): Column = regexp_replace(c, "<[^<]+?>", "")

  /** Sentence split on terminal punctuation incl. CJK full stops.
    * Ref: enhanced_internal_db_service.py:583-589,
    * streaming_tts_service.py:262-274. Returns trimmed non-empty
    * sentences. */
  def splitSentences(c: Column): Column =
    filter(transform(split(c, "[.!?。！？\\n]"), s => trim(s)), s => length(s) > 0)

  /** Unicode NFKC normalization. Ref:
    * enhanced_internal_db_service.py:739,761-762,895. No Spark
    * built-in; java.text.Normalizer UDF. `isNormalized` first: it is a
    * single quick-check scan that short-circuits the normalize rebuild
    * on already-normal text (the overwhelmingly common case on an
    * ASCII-dominated corpus — r6 audit of the p9 anchor scan). */
  val nfkcUdf = udf((s: String) =>
    if (s == null) null
    else if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFKC)) s
    else java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFKC))
  def nfkc(c: Column): Column = nfkcUdf(c)

  /** Truncate with ellipsis. Ref: rag_service.py:153-156 (500 chars),
    * enhanced_internal_db_service.py:805 (900). */
  def truncateEllipsis(c: Column, maxLen: Int): Column =
    when(length(c) > maxLen, concat(substring(c, 1, maxLen), lit("..."))).otherwise(c)

  /** Thousands-comma strip + double cast ("1,234" → 1234.0).
    * Ref: data_utils.py:35. */
  def stripCommasToDouble(c: Column): Column =
    regexp_replace(c, ",", "").cast("double")

  /** Korean topic particle 은/는 chosen by final-jamo presence:
    * (cp - 0xAC00) % 28 != 0 → 은 else 는.
    * Ref: enhanced_internal_db_service.py:865-874. */
  val koParticleUdf = udf((s: String) =>
    if (s == null || s.isEmpty) "는"
    else {
      val last = s.last
      if (last >= 0xAC00 && last <= 0xD7A3)
        if ((last - 0xAC00) % 28 != 0) "은" else "는"
      else "는"
    })
  def koParticle(c: Column): Column = koParticleUdf(c)

  /** EN→KO term substitution table (ref
    * enhanced_internal_db_service.py:876-888): ordered
    * case-insensitive whole-word replacements. */
  private val enKoPatterns = Seq(
    "(?i)\\bself[\\-\\s]?attention\\b" -> "셀프-어텐션",
    "(?i)\\battention\\b" -> "어텐션",
    "(?i)\\bsequence(s)?\\b" -> "시퀀스",
    "(?i)\\btoken(s)?\\b" -> "토큰",
    "(?i)\\bmodel(s)?\\b" -> "모델")

  def replaceEnToKo(s: String): String =
    enKoPatterns.foldLeft(s) { case (acc, (pat, ko)) => acc.replaceAll(pat, ko) }

  /** 은/는 particle for a word (pure; see [[koParticle]] for the
    * Column form). Ref: :865-874. */
  def pickEunNeun(word: String): String =
    if (word == null || word.isEmpty) "는"
    else {
      val last = word.last
      if (last >= 0xAC00 && last <= 0xD7A3)
        if ((last - 0xAC00) % 28 != 0) "은" else "는"
      else "는"
    }

  /** Topic-prefix guarantee (ref :852-863): translate the topic to KO,
    * keep the answer if it already leads with the topic, otherwise
    * strip a dangling leading particle and prepend "topic은/는". */
  def ensureTopicPrefix(answer: String, topic: String): String = {
    if (topic == null || topic.isEmpty) return answer
    val topicKo = replaceEnToKo(topic)
    val s0 = answer.trim
    if (s0.startsWith(topicKo) || s0.toLowerCase(java.util.Locale.ROOT)
      .startsWith(topic.toLowerCase(java.util.Locale.ROOT))) s0
    else {
      val s = s0.replaceFirst("^[,\\s\\-–—]*[은는]\\b", "")
        .replaceFirst("^\\s+", "")
      s"$topicKo${pickEunNeun(topicKo)} $s"
    }
  }

  /** Korean output cleanup (faithful port of
    * _clean_korean_output, ref :890-909): NFC, symmetric quote strip,
    * whitespace collapse, space-before-punct removal, bracket spacing,
    * duplicate punctuation. */
  def cleanKoreanOutput(text: String): String = {
    if (text == null || text.isEmpty) return text
    var s = java.text.Normalizer.normalize(text, java.text.Normalizer.Form.NFC)
    val openQ = "“\"'「『"
    val closeQ = "”\"'」』"
    if (s.length > 2 && openQ.contains(s.head) && closeQ.contains(s.last))
      s = s.substring(1, s.length - 1).trim
    s = s.replaceAll("[ \\t]+", " ")
    s = s.replaceAll("\\s+([,.;:!?%])", "$1")
    s = s.replaceAll("\\(\\s+", "(").replaceAll("\\s+\\)", ")")
    s = s.replaceAll("\\[\\s+", "[").replaceAll("\\s+\\]", "]")
    s = s.replaceAll("([,.;:!?])\\s*\\1+", "$1")
    s.trim
  }

  /** Fixed-size overlapping chunker (size/overlap, stride =
    * size-overlap). Deterministic substring windows; the reference's
    * RecursiveCharacterTextSplitter (700/120,
    * enhanced_internal_db_service.py:591-600) is approximated by plain
    * stride windows — separator-aware merging matched only on fixture
    * texts per SURVEY §7.4.
    * Chunk starts: 0, step, 2·step, … while start < len (and a chunk
    * is emitted only if it adds new content, i.e. start==0 or
    * start+overlap < len... simplified: start < len - overlap for
    * start>0). Empty/null text → empty array. */
  def chunkTextUdf(size: Int, overlap: Int) = {
    require(size > overlap && overlap >= 0)
    val step = size - overlap
    udf((s: String) =>
      if (s == null || s.isEmpty) Seq.empty[String]
      else {
        val starts = 0 until s.length by step
        val keep = starts.filter(st => st == 0 || st + overlap < s.length)
        keep.map(st => s.substring(st, math.min(st + size, s.length)))
      })
  }

  /** Rolling polynomial hash fingerprint of the whole string (base
    * 31, 64-bit wraparound) — cheap document fingerprint for dedup
    * bucketing. Deterministic across JVMs. */
  val fingerprintUdf = udf((s: String) =>
    if (s == null) 0L
    else {
      var h = 0L
      var i = 0
      while (i < s.length) { h = h * 31L + s.charAt(i); i += 1 }
      h
    })
  def fingerprint(c: Column): Column = fingerprintUdf(c)
}

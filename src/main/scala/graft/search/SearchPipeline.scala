package graft.search

import java.text.Normalizer
import java.util.Locale

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.util.{CollationFactory, CollationSupport}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.VectorFunctions.cosineFast
import graft.ingest.HashEmbedder
import graft.operators.VectorSearch

/** The flagship vector-QA read path (SURVEY §3.1, ref
  * enhanced_internal_db_service.py:634-816): fetch_k k-NN → IP score
  * normalization → margin+floor cut → strong-anchor filter (P9) →
  * per-title cap + round-robin diversify → marker assignment →
  * marked-context assembly (A14).
  *
  * Scale: the k-NN is a pruned scan + TakeOrderedAndProject (top
  * fetch_k); everything after is one Scala pass over those rows
  * ([[VectorSearch.overTopK]]). `search(...).collect()` is one stage of
  * one light task per index partition: each takes its partition's
  * top fetch_k, the driver merges them and runs the pass. The index
  * DataFrame is partitioned by save_name, so the save-name filter is
  * partition pruning, not a scan.
  */
object SearchPipeline {

  final case class Anchors(strong: Set[String], weak: Set[String])

  private val weakKo = Set("무엇", "무엇인가", "뭐야", "뭔가", "정의", "설명",
    "설명하라", "설명해", "역할", "개요", "특징", "장점", "한계", "의미",
    "소개", "예시", "예", "비교")
  private val weakEn = Set("what", "define", "definition", "explain", "role",
    "overview", "feature", "pros", "cons")
  private val wordRe = "[가-힣a-z0-9][가-힣a-z0-9\\-_/]+".r

  private def nfkcLower(s: String): String =
    Normalizer.normalize(s, Normalizer.Form.NFKC).toLowerCase(Locale.ROOT)

  /** Strong/weak anchor extraction from the query (ref :729-755):
    * NFKC-normalized ≥2-char tokens minus interrogative stop-terms,
    * plus the reference's domain synonym expansions. Driver-side pure
    * function — the query string is a scalar. */
  def anchorsFromQuery(q: String): Anchors = {
    val words = wordRe.findAllIn(q.toLowerCase(Locale.ROOT)).map(w => nfkcLower(w).trim)
      .filter(_.length >= 2).toSet
    var strong = words -- weakKo -- weakEn
    val weak = words & (weakKo ++ weakEn)
    val n = nfkcLower(q)
    if ("\\brag\\b".r.findFirstIn(n).isDefined)
      strong ++= Set("rag", "retrieval augmented generation", "리트리벌 증강 생성", "리트리벌")
    if (n.contains("faiss")) strong += "faiss"
    if (n.contains("self-attention") || n.contains("self attention"))
      strong ++= Set("self-attention", "self attention", "셀프어텐션", "셀프 어텐션", "자기주의", "자기-주의")
    if (n.contains("attention")) strong ++= Set("attention", "어텐션", "주의")
    Anchors(strong, weak)
  }

  /** P9 strong-anchor predicate: NFKC-lowered content (with the
    * "passage:" marker blanked) or title must contain ≥1 strong
    * anchor. Ref: :757-763.
    *
    * One UDF pass per row: ASCII text (the overwhelming case on this
    * corpus) takes a zero-allocation case-insensitive scan — NFKC is
    * the identity there and ASCII lowercasing is per-char, so the scan
    * equals the normalize→lower→contains composition exactly; anything
    * non-ASCII falls back to that literal composition. */
  def strongAnchorPredicate(content: Column, title: Column,
                            strong: Set[String]): Column =
    if (strong.isEmpty) lit(false)
    else {
      val anchors = strong.toSeq.sorted
      val u = udf((c: String, t: String) =>
        anchorHit(c, anchors, blankPassage = true) ||
          anchorHit(if (t == null) "" else t, anchors, blankPassage = false))
      u(content, title)
    }

  /** Does NFKC(lower(s)) (with "passage:" optionally blanked) contain
    * any anchor? Anchors are pre-lowered; see
    * [[strongAnchorPredicate]] for the fast-path argument. */
  private def anchorHit(s0: String, anchors: Seq[String],
                        blankPassage: Boolean): Boolean = {
    if (s0 == null) return false
    val s = if (blankPassage && s0.indexOf("passage:") >= 0)
      s0.replace("passage:", " ") else s0
    var ascii = true
    var i = 0
    while (ascii && i < s.length) { if (s.charAt(i) >= 0x80) ascii = false; i += 1 }
    if (ascii) {
      anchors.exists(a => asciiContainsIgnoreCase(s, a))
    } else {
      val n = nfkcLower(s)
      anchors.exists(n.contains(_))
    }
  }

  /** Case-insensitive substring scan, valid when `s` is pure ASCII and
    * `needle` is pre-lowered ASCII. */
  private def asciiContainsIgnoreCase(s: String, needle: String): Boolean = {
    val n = needle.length
    if (n == 0) return true
    val last = s.length - n
    var i = 0
    while (i <= last) {
      var j = 0
      var ok = true
      while (ok && j < n) {
        if (graft.plans.TokenScan.fold(s.charAt(i + j)) != needle.charAt(j)) ok = false
        else j += 1
      }
      if (ok) return true
      i += 1
    }
    false
  }

  /** Full retrieval: returns the kept (≤ topK) chunks with normalized
    * scores and S1.. markers, ordered as the reference's round-robin
    * emits them. Config defaults mirror backend_config.yaml
    * (margin 0.12, sim_floor 0.35, per_title_cap 3, fetch ×4). Lazy:
    * a plan over `index`. Title group key: NFKC then Spark's `lower`. */
  def search(index: DataFrame, question: String, topK: Int = 5,
             margin: Double = 0.12, simFloor: Double = 0.35,
             perTitleCap: Int = 3, fetchMultiplier: Int = 4,
             dim: Int = HashEmbedder.DefaultDim): DataFrame = {
    val fetchK = math.max(topK * fetchMultiplier, topK + 5)
    val qvec = HashEmbedder.embed("query: " + question.trim, dim)
    val scored = index
      .select(col("chunk_id"), col("doc_id"), col("title"), col("oo"),
        col("content"), col("metadata"),
        cosineFast(col("embedding"), lit(qvec)).as("score"))
    val Seq(id, title, oo, content, score) =
      Seq("chunk_id", "title", "oo", "content", "score").map(scored.schema.fieldIndex)
    val anchors = anchorsFromQuery(question).strong.toSeq.sorted
    val icuLower = SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)
    def groupKey(r: Row): String = CollationSupport.Lower.exec(UTF8String.fromString(
      Normalizer.normalize(Option(r.getString(title)).filter(_.nonEmpty)
        .orElse(Option(r.getString(oo))).getOrElse("unknown"), Normalizer.Form.NFKC)),
      CollationFactory.UTF8_BINARY_COLLATION_ID, icuLower).toString
    VectorSearch.overTopK(scored, Seq(desc("score"), col("chunk_id")), fetchK,
        _.add("marker", StringType, nullable = false)) { rows =>
      val cut = VectorSearch.marginFilter(
        VectorSearch.normalizeScoresIP(rows, score), score, margin, simFloor)
      val anchored = if (anchors.isEmpty) cut else cut.filter(r =>
        anchorHit(r.getString(content), anchors, blankPassage = true) ||
          anchorHit(Option(r.getString(title)).getOrElse(""), anchors, blankPassage = false))
      VectorSearch.diversify(anchored, groupKey, score, id, perTitleCap, topK)
        .zipWithIndex.map { case (r, i) => Row.fromSeq(r.toSeq :+ s"S${i + 1}") }
    }
  }

  /** Marked-context assembly (ref :796-809): 900-char snippets inside
    * a total char budget, `《S{i}》 [id=..] [title=..] [OO=..]
    * score=…` headers. Driver-side fold over ≤ topK rows. */
  def markedContext(kept: Seq[(String, String, String, String, Double, String)],
                    maxContextChars: Int = 1800): String = {
    val buf = scala.collection.mutable.ArrayBuffer("<CONTEXT>")
    var total = 0
    kept.zipWithIndex.foreach { case ((_, id, title, oo, score, text), i) =>
      val remain = math.max(maxContextChars - total, 0)
      if (remain > 0) {
        val snippet = text.take(math.min(900, remain)) +
          (if (text.length > 900) "…" else "")
        total += snippet.length
        buf += "《S%d》 [id=%s] [title=%s] [OO=%s] score=%.4f%n%s%n"
          .formatLocal(Locale.ROOT, i + 1, id, title, oo, score, snippet)
      }
    }
    buf += "</CONTEXT>"
    buf.mkString("\n")
  }

  /** Answer post-processing as the reference applies it to generated
    * text (ref :835-850 → :852-909): Korean cleanup, then the
    * topic-prefix guarantee. The generation itself is an external
    * model behind this boundary. */
  def postprocessAnswer(answer: String, topic: String): String =
    graft.functions.TextFunctions.ensureTopicPrefix(
      graft.functions.TextFunctions.cleanKoreanOutput(answer), topic)

  /** Source manifest rows (ref :673-679). */
  def sources(kept: DataFrame): DataFrame =
    kept.select(col("marker"),
      element_at(col("metadata"), "id").as("id"),
      col("title"), col("oo"), round(col("score"), 4).as("score"))
}

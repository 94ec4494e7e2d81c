package graft.operators

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.{Aggregator, UserDefinedFunction}
import org.apache.spark.sql.functions._

import TextAnalysis.stopwords

/** The row-local UDF and Aggregator forms that [[TextAnalysis]]'s
  * codegen kernels replaced, kept as the executable reference
  * semantics the fuzz specs (TextScanSpec, TfidfKernelSpec) pin the
  * kernels against. */
object TextReference {
  /** Per-document (token, tf) pairs by a char scan over the String —
    * the tokenizer the kernels replaced, kept independent of
    * graft.plans.TokenScan so the fuzz pins compare two tokenizers:
    * Java-`\s` delimiting, each token lowered with `Locale.ROOT`. */
  def tfProfile(text: String): Array[(String, Long)] =
    if (text == null) Array.empty[(String, Long)]
    else {
      def isWs(c: Char) = c == ' ' || (c >= '\t' && c <= '\r')
      val m = scala.collection.mutable.HashMap.empty[String, Long]
      val n = text.length
      var i = 0
      while (i < n) {
        while (i < n && isWs(text.charAt(i))) i += 1
        if (i < n) {
          val start = i
          while (i < n && !isWs(text.charAt(i))) i += 1
          val tok = text.substring(start, i).toLowerCase(java.util.Locale.ROOT)
          m.update(tok, m.getOrElse(tok, 0L) + 1L)
        }
      }
      m.toArray
    }

  /** The original compiled-UDF stopword counter, kept verbatim as the
    * spec's reference semantics for [[TextAnalysis.stopwordHits]]. */
  def stopwordHitsUdf(lang: String): UserDefinedFunction = {
    val set = stopwords(lang).toSet
    udf((s: String) =>
      if (s == null) 0
      else {
        val toks = s.toLowerCase(java.util.Locale.ROOT).split("\\s+")
        var hits = 0
        var i = 0
        while (i < toks.length) { if (set.contains(toks(i))) hits += 1; i += 1 }
        hits
      })
  }

  /** Language-ID heuristic: argmax over per-language stopword hit
    * counts; 'und' when nothing matches; ties break to the
    * lexicographically larger code (array_max-on-struct semantics,
    * kept for output stability). One compiled pass — the HOF
    * formulation re-split the text once per language after
    * project-collapse (21 s → sub-second on the sf0.1 corpus). */
  val langIdUdf: UserDefinedFunction = {
    val table: Map[String, Seq[String]] = stopwords
    udf((text: String) => {
      if (text == null) "und"
      else {
        val toks = text.toLowerCase(java.util.Locale.ROOT).split("\\s+")
        var bestLang = "und"
        var bestHits = 0
        table.toSeq.sortBy(_._1).foreach { case (lang, sw) =>
          val set = sw.toSet
          var hits = 0
          var i = 0
          while (i < toks.length) { if (set.contains(toks(i))) hits += 1; i += 1 }
          if (hits > bestHits || (hits == bestHits && hits > 0 && lang > bestLang)) {
            bestHits = hits; bestLang = lang
          }
        }
        bestLang
      }
    })
  }

  /** Vocabulary fold over per-doc tf profiles as a typed Aggregator:
    * ONE corpus pass builds the full (token → Σtf) or (token → df)
    * map with NO pair explode, no wide shuffle (per-partition map
    * buffers, single-partition merge) and no `limit(...).collect()` —
    * CollectLimit's incremental scale-up re-ran the whole agg in up
    * to 4 sequential jobs (measured ~1.0 s for a 0.5 s pass at the
    * 100× point). The vocab bound is enforced INSIDE reduce/merge, so
    * an open vocabulary fails loudly in the executor before any
    * oversized buffer is built or shipped — strictly earlier (and
    * cheaper) than the old post-collect `require`.
    *
    * Buffer is an immutable Map: per-token update is O(log n) HAMT —
    * fine to the enforced bound; the merge ships ≤ one vocab-sized
    * buffer per partition. */
  final class VocabFold(maxVocab: Int, weighted: Boolean)
      extends Aggregator[String, Map[String, Long], Map[String, Long]] {
    private def bounded(m: Map[String, Long]): Map[String, Long] = {
      require(m.size <= maxVocab,
        s"vocabulary exceeds maxVocab=$maxVocab; " +
          "use the distributed (join/window) form for open vocabularies")
      m
    }
    override def zero: Map[String, Long] = Map.empty
    override def reduce(b: Map[String, Long], text: String): Map[String, Long] = {
      // fold the profile straight off the text — no intermediate
      // profile-array encode/decode between tokenizer and aggregate
      val prof = tfProfile(text)
      var acc = b
      var i = 0
      while (i < prof.length) {
        val (tok, tf) = prof(i)
        acc = acc.updated(tok, acc.getOrElse(tok, 0L) + (if (weighted) tf else 1L))
        i += 1
      }
      bounded(acc)
    }
    override def merge(x: Map[String, Long],
                       y: Map[String, Long]): Map[String, Long] =
      bounded(y.foldLeft(x) { case (acc, (tok, c)) =>
        acc.updated(tok, acc.getOrElse(tok, 0L) + c)
      })
    override def finish(r: Map[String, Long]): Map[String, Long] = r
    override def bufferEncoder: Encoder[Map[String, Long]] =
      ExpressionEncoder[Map[String, Long]]()
    override def outputEncoder: Encoder[Map[String, Long]] =
      ExpressionEncoder[Map[String, Long]]()
  }

  /** Vocab fold as a bare aggregate column: the reference semantics
    * TfidfKernelSpec pins the kernel fold against. */
  def vocabFoldCol(text: Column, maxVocab: Int,
                   weighted: Boolean): Column =
    udaf(new VocabFold(maxVocab, weighted), Encoders.STRING)(text)

  /** The scalar-UDF top-k scorer the r20 kernel replaced — kept as
    * the executable reference semantics (TfidfKernelSpec pins the
    * kernel against it on fuzzed corpora). */
  def tfidfTopKUdfReference(dfMap: Map[String, Long],
                            nD: Double, k: Int) =
    udf((text: String) => {
      val scored = tfProfile(text).toSeq.map { case (tok, tf) =>
        val df = dfMap.getOrElse(tok, throw new IllegalStateException(
          s"tfidfTopTermsRowLocal: token '$tok' absent from the vocab pass — " +
            "the input must be deterministic across scans (sample()/limit()/" +
            "unstable shuffle break this); use the join form tfidfTopTerms"))
        (tok, tf, tf * java.lang.StrictMath.log(nD / df))
      }.sortWith { case ((ta, _, sa), (tb, _, sb)) =>
        if (sa != sb) sa > sb else ta < tb
      }
      scored.take(k).zipWithIndex.map { case ((tok, tf, s), i) =>
        (i + 1, tok, tf, s)
      }
    })

  /** The scalar-UDF LM scorer the r20 kernel replaced — kept as the
    * executable reference semantics (TfidfKernelSpec pins the kernel
    * against it: n_tokens exact, avg_logp to reassociation ulps and
    * equal after the query's round-4). */
  def lmScoreUdfReference(logp: Map[String, Double]) =
    udf((text: String) => {
      val prof = tfProfile(text)
      var n = 0L
      var s = 0.0
      var i = 0
      while (i < prof.length) {
        val (tok, tf) = prof(i)
        n += tf
        s += tf * logp.getOrElse(tok, throw new IllegalStateException(
          s"corpusLmScoreRowLocal: token '$tok' absent from the vocab pass — " +
            "the input must be deterministic across scans (sample()/limit()/" +
            "unstable shuffle break this); use the join form corpusLmScore"))
        i += 1
      }
      (n, s / n)
    })

  /** The reference's anchor tokenizer as `java.util.regex` over the
    * text lowered with `Locale.ROOT`: the semantics
    * graft.plans.SketchScan implements as a byte scan. */
  private val sketchPattern =
    java.util.regex.Pattern.compile("[가-힣a-z0-9][가-힣a-z0-9\\-_/]+")

  def sketchTokens(text: String): Seq[String] = {
    val m = sketchPattern.matcher(text.toLowerCase(java.util.Locale.ROOT))
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    while (m.find()) out += m.group()
    out.toSeq
  }

  /** Poly-31 hash of a token's UTF-16 units. */
  def sketchHash(tok: String): Long = {
    var h = 1125899906842597L
    var k = 0
    while (k < tok.length) { h = h * 31L + tok.charAt(k); k += 1 }
    h
  }

  def sketchTokenHashes(text: String): Seq[Long] =
    if (text == null) Nil else sketchTokens(text).map(sketchHash)

  /** The compiled SimHash UDF the bit-sliced kernel replaced: per-bit
    * ±1 counters over the finalized token hashes, null text → 0. */
  def simhash(text: String): Long = {
    val counts = new Array[Int](64)
    sketchTokenHashes(text).foreach { t =>
      var h = t
      h ^= (h >>> 33); h *= 0xff51afd7ed558ccdL; h ^= (h >>> 33)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  val simhashUdf: UserDefinedFunction = udf((text: String) => simhash(text))
}

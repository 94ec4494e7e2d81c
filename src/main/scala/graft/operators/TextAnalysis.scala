package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.TextFunctions._
import graft.plans.{TokenScan, TokenTable}

/** Text-analysis operators for a training-data pipeline (north-star
  * requirement): language-ID heuristic, quality scoring, token stats,
  * fingerprinting. All row-local scalars — linear scale-out, no
  * shuffles beyond the caller's aggregations. */
object TextAnalysis {

  /** Per-language stopword lists for the n-gram/stopword langid
    * heuristic (the 5 langs present in the testdata corpus). */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "a", "in", "that"),
    "fr" -> Seq("le", "la", "les", "et", "de", "un", "une", "est"),
    "es" -> Seq("el", "la", "los", "y", "de", "que", "es", "una"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "nicht", "mit"),
    "zh" -> Seq("的", "是", "了", "在", "和", "有", "我", "不"))

  /** Count of whole-word stopword hits (incl. repeats) for one
    * language. r19: a codegen in-place byte scan
    * ([[graft.plans.TextScan.stopwordHits]]) — the r18 UDF form paid a
    * full UTF8String→String decode + toLowerCase copy + split array
    * per row, which WAS lang_stopwords' 6.2×/4.8 s wall at the 17 GB
    * point. The test-scope TextReference.stopwordHitsUdf keeps the
    * old pipeline as the reference semantics; TextScanSpec fuzz-pins
    * the two equal. */
  def stopwordHits(text: Column, lang: String): Column =
    // coalesce preserves the UDF's null contract (null text → 0 hits)
    coalesce(graft.plans.TextScan.stopwordCount(text, stopwords(lang)), lit(0))

  /** r20 (guide §4): ONE in-place token pass with a combined
    * (token → language bitmask) lookup instead of the UDF's per-doc
    * text lower+split plus five set passes with per-doc set
    * construction. Argmax over per-language stopword hit counts;
    * 'und' when nothing matches; ties break to the lexicographically
    * larger code. The test-scope TextReference.langIdUdf is the
    * reference semantics (TfidfKernelSpec fuzz-pins the two equal,
    * including the tie rule and the null→'und' contract). */
  def langId(text: Column): Column =
    coalesce(graft.plans.Tfidf.langIdCol(text, stopwords), lit("und"))

  /** Composite quality score in [0,1]: rewards sentence-like length
    * and stopword presence, penalizes punct/digit noise. Weights are
    * engine policy (no reference counterpart). It is the teacher field
    * of [[qualitySignals]]; null and empty text score 0.0. */
  def qualityScore(text: Column): Column =
    coalesce(qualitySignals(text).getField("_6"), lit(0.0))

  /** The English stopword table [[qualitySignals]] probes: the linear
    * quality-probe's stop-ratio feature and the teacher rule count the
    * same `stopwords("en")` hits. */
  private val signalStops: TokenTable =
    TokenTable.of(stopwords("en").map(_ -> 1L))

  /** ONE compiled pass computing every signal the rule-distillation
    * quality classifier needs — the five raw probe features AND the
    * teacher [[qualityScore]] — bit-identical to the previous
    * per-signal formulation (4 regexp_replace passes + split + two
    * interpreted array-filter HOFs + the teacher's own tokenize:
    * ~7 traversals and several allocations per document, 5.2 s at the
    * 100× point for quality_classifier). Char-scan counts reproduce
    * the regex classes exactly: punct_re = the ASCII printable ranges
    * `[!-/:-@\[-`{-~]`, digits `[0-9]`, whitespace = Java `\s`
    * ([[TokenScan.isWs]]); the teacher's noise term keeps its OWN
    * punct definition (ASCII non-alnum non-ws INCLUDING control
    * chars), so both counters run in the same scan. Tokens are
    * [[TokenScan]]'s, probed against one stopword table. Returns a
    * positional tuple (janino struct-codegen caveat, see
    * repetitionUdf): _1 lenScore, _2 stopRatio,
    * _3 punctRatio, _4 digitRatio, _5 meanWordLen, _6 teacher score;
    * null text → null (ridge drops null-feature rows, unchanged). */
  private val qualitySignalsUdf = udf((s: String) => {
    if (s == null) null
    else if (s.isEmpty) (0.0, 0.0, 0.0, 0.0, 0.0, 0.0)
    else {
      val len = s.length
      var digit = 0; var punctRe = 0; var punctQ = 0; var ws = 0
      var i = 0
      while (i < len) {
        val c = s.charAt(i)
        if (c >= '0' && c <= '9') digit += 1
        else if (c < 128 && !Character.isLetterOrDigit(c) &&
          !Character.isWhitespace(c)) punctQ += 1
        if ((c >= '!' && c <= '/') || (c >= ':' && c <= '@') ||
            (c >= '[' && c <= '`') || (c >= '{' && c <= '~')) punctRe += 1
        if (TokenScan.isWs(c)) ws += 1
        i += 1
      }
      var nToks = 0; var stopEn = 0
      val tok = new TokenScan.Cursor(UTF8String.fromString(s))
      while (tok.next()) {
        nToks += 1
        if (signalStops.get(tok) != TokenTable.ABSENT) stopEn += 1
      }
      val lenD = len.toDouble
      val nT = math.max(nToks, 1).toDouble
      val lenScore = math.min(lenD / 400.0, 1.0)
      val quality = {
        val swRatio = if (nToks == 0) 0.0 else stopEn.toDouble / nToks
        val sw = math.min(swRatio * 4.0, 1.0)
        val noise = math.max(0.0,
          1.0 - punctQ.toDouble / len * 5.0 - digit.toDouble / len * 2.0)
        math.round((lenScore * 0.3 + sw * 0.3 + noise * 0.4) * 1e6) / 1e6
      }
      (lenScore, stopEn.toDouble / nT, punctRe.toDouble / math.max(lenD, 1.0),
        digit.toDouble / math.max(lenD, 1.0), (lenD - ws) / nT, quality)
    }
  })

  def qualitySignals(text: Column): Column = qualitySignalsUdf(text)

  /** Gopher-style repetition metrics for boilerplate filtering:
    * distinct-token ratio, the most-frequent-2-gram's share of all
    * 2-grams, and the fraction of 2-/3-gram occurrences whose gram
    * repeats within the document. High dup/top fractions flag
    * machine-generated or boilerplate text a training mix should
    * drop (Rae et al. 2021, "Scaling Language Models", §A1.1 —
    * public Gopher filtering rules). One compiled pass builds every
    * n-gram table — row-local, embarrassingly parallel, no shuffle;
    * the explode+window formulation would shuffle each doc's grams.
    *
    * Returns a plain tuple for the same reason as bm25Profile: a
    * nested case class makes whole-stage codegen emit a call janino
    * cannot compile, silently dropping the stage to interpreted mode
    * (seen in the round-5 verify log); [[repetition]] restores the
    * field names with a positional struct cast. */
  private val repetitionUdf = udf((text: String) => {
    if (text == null) (0L, 0.0, 0.0, 0.0, 0.0)
    else {
      val toks = text.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)
      val n = toks.length
      // (top occurrence count, occurrences of repeated grams, total grams)
      def gramStats(k: Int): (Int, Int, Int) = {
        val total = math.max(n - k + 1, 0)
        val m = new java.util.HashMap[String, Int]()
        var i = 0
        while (i < total) {
          val sb = new java.lang.StringBuilder(toks(i))
          var j = 1
          while (j < k) { sb.append(' ').append(toks(i + j)); j += 1 }
          m.merge(sb.toString, 1, Integer.sum _)
          i += 1
        }
        var top = 0; var dup = 0
        m.values.forEach { c =>
          if (c > top) top = c
          if (c > 1) dup += c
        }
        (top, dup, total)
      }
      val (top2, dup2, n2) = gramStats(2)
      val (_, dup3, n3) = gramStats(3)
      val distinct = {
        val set = new java.util.HashSet[String]()
        toks.foreach(set.add)
        set.size
      }
      (n.toLong,
        if (n == 0) 0.0 else distinct.toDouble / n,
        if (n2 == 0) 0.0 else top2.toDouble / n2,
        if (n2 == 0) 0.0 else dup2.toDouble / n2,
        if (n3 == 0) 0.0 else dup3.toDouble / n3)
    }
  })

  /** Struct of repetition metrics; see `repetitionUdf`. The cast is
    * positional, so it only renames _1.._5 — one UDF evaluation. */
  def repetition(text: Column): Column =
    repetitionUdf(text).cast(
      "struct<n_tokens:bigint,distinct_ratio:double,top2_frac:double," +
        "dup2_frac:double,dup3_frac:double>")

  /** Keep-predicate from the repetition metrics (Gopher-ish policy
    * thresholds: drop if the top 2-gram covers >20% of 2-grams or
    * >50% of 3-gram occurrences repeat). */
  def repetitionKeep(rep: Column): Column =
    rep.getField("top2_frac") <= 0.2 && rep.getField("dup3_frac") <= 0.5

  /** Per-document term-frequency pairs in ONE compiled pass: one
    * [[TokenTable.scan]] of the text, emitted as distinct (token, tf).
    * The corpus-wide formulation (explode every token occurrence, then
    * groupBy(doc, tok)) shuffles one row per token OCCURRENCE and
    * re-tokenizes per consumer; this projection shuffles nothing and
    * is the single corpus scan every tf-derived stat hangs off. */
  private def tfProfile(text: String): Array[(String, Long)] =
    if (text == null) Array.empty[(String, Long)]
    else TokenTable.scan(UTF8String.fromString(text)).pairs

  private val tfPairsUdf = udf(tfProfile _)

  /** The vocab fold ([[VocabKernelFold]]) as a bare aggregate column.
    * The text enters as its UTF-8 bytes: the binary cast is one copy
    * per document, where a String input decodes it. */
  private[graft] def vocabKernelCol(text: Column, maxVocab: Int,
                                    weighted: Boolean): Column =
    udaf(new VocabKernelFold(maxVocab, weighted), Encoders.BINARY)(text.cast("binary"))

  /** Vocabulary fold as a typed Aggregator: ONE corpus pass builds the
    * full (token → Σtf) or (token → df) map with NO pair explode, no
    * wide shuffle (per-partition buffers, single-partition merge) and
    * no `limit(...).collect()` — CollectLimit's incremental scale-up
    * re-ran the whole agg in up to 4 sequential jobs (measured ~1.0 s
    * for a 0.5 s pass at the 100× point). The buffer is a
    * [[TokenTable]]: each document is scanned into its own table, and
    * each of its distinct tokens is added to the partition's — delta 1
    * for df, delta tf for Σtf. A key is copied once per partition, when
    * first inserted; the kryo buffer holds owned keys only. The vocab
    * bound is enforced INSIDE reduce/merge, so an open vocabulary fails
    * loudly in the executor before any oversized buffer is shipped. */
  private final class VocabKernelFold(maxVocab: Int, weighted: Boolean)
      extends Aggregator[Array[Byte], TokenTable, Map[String, Long]] {
    private def addAll(into: TokenTable, from: TokenTable,
                       once: Boolean): TokenTable = {
      var e = 0
      while (e < from.capacity) {
        if (from.occupied(e)) into.add(from, e, if (once) 1L else from.value(e))
        e += 1
      }
      require(into.size <= maxVocab,
        s"vocabulary exceeds maxVocab=$maxVocab; " +
          "use the distributed (join/window) form for open vocabularies")
      into
    }
    override def zero: TokenTable = TokenTable.empty
    override def reduce(b: TokenTable, text: Array[Byte]): TokenTable =
      if (text == null) b
      else addAll(b, TokenTable.scan(UTF8String.fromBytes(text)), once = !weighted)
    override def merge(x: TokenTable, y: TokenTable): TokenTable =
      addAll(x, y, once = false)
    override def finish(r: TokenTable): Map[String, Long] = r.pairs.toMap
    override def bufferEncoder: Encoder[TokenTable] = Encoders.kryo[TokenTable]
    override def outputEncoder: Encoder[Map[String, Long]] =
      ExpressionEncoder[Map[String, Long]]()
  }

  /** One-job driver-side vocab map: token → Σtf (`weighted`) or
    * token → document frequency ([[VocabKernelFold]]). */
  private def vocabMap(docs: DataFrame, textCol: String, maxVocab: Int,
                       weighted: Boolean): Map[String, Long] = {
    try docs.select(vocabKernelCol(col(textCol), maxVocab, weighted).as("vocab"))
      .head.getMap[String, Long](0).toMap
    catch { case e: Throwable =>
      // surface the in-executor bound violation as the same loud
      // IllegalArgumentException the old post-collect require threw
      throw Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
        .collectFirst { case i: IllegalArgumentException => i }.getOrElse(e)
    }
  }

  /** (doc, tok, tf) rows from a single checkpointed corpus scan. */
  private def tfPairs(docs: DataFrame, idCol: String, textCol: String)
      : (DataFrame, DataFrame) = {
    val prof = docs
      .select(col(idCol), tfPairsUdf(col(textCol)).as("tfs"))
      .localCheckpoint() // corpus text is scanned + tokenized exactly once
    val pairs = prof.select(col(idCol), explode(col("tfs")).as("kv"))
      .select(col(idCol), col("kv._1").as("tok"), col("kv._2").as("tf"))
    (prof, pairs)
  }

  /** Corpus-unigram LM score: average natural-log probability of a
    * document's tokens under the corpus's own unigram distribution —
    * the classic cheap LM quality filter (docs far below the corpus
    * mean read as noise; far above as boilerplate). One corpus scan
    * builds the per-doc tf profile ([[tfPairs]]); the unigram vocab is
    * a small agg over distinct (doc,tok) pairs whose Σ also yields the
    * normalizer (no second corpus scan — the round-4 audit flagged the
    * old `toks.count()` re-tokenize); scoring joins the BROADCAST
    * vocab (a unigram table is tiny next to its corpus), tf-weighted
    * so per-doc rows stay distinct-token-sized. No smoothing: the
    * vocab is built from the same corpus, so OOV is impossible. */
  def corpusLmScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val (_, pairs) = tfPairs(docs, idCol, textCol)
    val vocab = pairs.groupBy("tok").agg(sum("tf").as("cnt")).localCheckpoint()
    // the normalizer Σcnt is a driver scalar off the (tiny, already
    // materialized) vocab — a one-row DataFrame would fold back in as
    // a nested-loop join, which the plan sweep bans
    val total = vocab.agg(coalesce(sum("cnt"), lit(0L))).head.getLong(0)
    pairs.join(broadcast(vocab), "tok")
      .groupBy(col(idCol))
      .agg(sum("tf").as("n_tokens"),
        (sum(col("tf") * log(col("cnt") / lit(total.toDouble))) / sum("tf"))
          .as("avg_logp"))
  }

  /** Top-k corpus keywords per document by tf-idf (raw term count ×
    * ln(N/df)), tie-broken by term for determinism. Shape at scale:
    * tf is computed row-locally in one compiled pass ([[tfPairs]]) so
    * the only wide exchange is the per-doc rank window over DISTINCT
    * (doc, term) pairs — never one row per token occurrence; df is a
    * small agg that BROADCASTS back (a document-frequency table is
    * vocabulary-sized, tiny next to the corpus). N is a driver-side
    * scalar off the checkpointed profile, like lm_score's normalizer. */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String,
                    k: Int): DataFrame = {
    val (prof, pairs) = tfPairs(docs, idCol, textCol)
    val n = prof.count()
    val dfreq = pairs.groupBy("tok").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("tfidf").desc, col("tok"))
    pairs.join(broadcast(dfreq), "tok")
      .withColumn("tfidf", col("tf") * log(lit(n.toDouble) / col("df")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
  }

  /** [[tfidfTopTerms]] with the per-doc top-k computed ROW-LOCALLY:
    * the df table rides the closure as a map and each document ranks
    * its own (already row-local) tf entries — no (doc,term) explode
    * into a join, no rank-window exchange; the only shuffle left is
    * the map-side-combined |vocab|-group df aggregate. Identical
    * output to the window form (spec-diffed): same IEEE arithmetic
    * (tf.toDouble * ln(n/df), the window form's exact op sequence)
    * and the same (tfidf desc, term asc) tie-break.
    *
    * Use when the vocabulary is driver/broadcast-bounded — the SAME
    * assumption [[tfidfTopTerms]]'s `broadcast(dfreq)` already makes —
    * enforced here by `maxVocab` (fails loudly rather than silently
    * collecting an unbounded vocab; for open vocabularies use the
    * window form, whose df table can stay distributed by dropping the
    * broadcast hint).
    *
    * REQUIRES a deterministic input: `docs` is scanned twice (df fold,
    * then scoring) with no materialization between — a source that
    * yields different rows per scan (`sample()`, `limit()` over an
    * unordered input, an unstable upstream shuffle) can surface a
    * token at scoring time that the vocab pass never saw. That case
    * fails loudly (below) instead of a bare NoSuchElementException;
    * for such inputs use [[tfidfTopTerms]], whose checkpointed
    * profile is scanned once. */
  def tfidfTopTermsRowLocal(docs: DataFrame, idCol: String, textCol: String,
                            k: Int, maxVocab: Int = 1 << 20): DataFrame = {
    // two direct corpus passes (df fold, then scoring) instead of
    // one checkpointed pass: materializing 10⁵⁺ per-doc profile
    // arrays through block storage measured SLOWER at the 100× point
    // than simply tokenizing twice with the scanner tokenizer
    // (localCheckpoint added 0.7-2 s; a tokenize pass costs 0.4 s).
    // The window form keeps its checkpoint — it fans the profile out
    // to more consumers. The df table comes from [[vocabMap]]'s
    // bounded one-job fold (loud in-executor maxVocab guard).
    val n = docs.count() // = profile count: null text still yields a profile row
    val dfMap = vocabMap(docs, textCol, maxVocab, weighted = false)
    val nD = n.toDouble
    // r20 (guide §4): the fused tokenize+score+rank runs as the
    // in-place codegen kernel (plans/TfidfExpressions.scala) instead
    // of a scalar UDF — no UTF8String→String decode of the corpus, no
    // per-occurrence substring/toLowerCase/boxing, the df table probes
    // by folded bytes. Bit-identity preserved (same StrictMath.log op
    // sequence per token, same (score desc, token asc) total order);
    // TfidfKernelSpec fuzz-pins kernel == the UDF form this replaces,
    // the test-scope TextReference.tfidfTopKUdfReference.
    docs.select(col(idCol),
        explode(graft.plans.Tfidf.topKCol(col(textCol),
          TokenTable.of(dfMap), nD, k)).as("t"))
      .select(col(idCol), col("t._2").as("tok"), col("t._3").as("tf"),
        col("t._4").as("tfidf"), col("t._1").as("rnk"))
  }

  /** [[corpusLmScore]] with the scoring computed ROW-LOCALLY: the
    * unigram log-probs ride the closure as a map (vocab-bounded,
    * loudly guarded like [[tfidfTopTermsRowLocal]]) and each document
    * folds its own tf profile — no pair explode into a join, no
    * per-doc groupBy shuffle. Two direct corpus passes total (vocab
    * build, then scoring). Output matches the join form EXACTLY
    * (spec-diffed, doubles included): both accumulate
    * Σ tf·ln(cnt/total) / Σ tf over the same profile in the same
    * order, with ln through StrictMath like Catalyst's Log. Documents
    * with an empty profile (null/empty text) are absent from both.
    * Use the join form for open vocabularies.
    *
    * REQUIRES a deterministic input (same contract as
    * [[tfidfTopTermsRowLocal]]): two direct scans with no
    * materialization between — a token the vocab pass never saw fails
    * loudly at scoring time; use [[corpusLmScore]] for inputs that
    * vary across scans. */
  def corpusLmScoreRowLocal(docs: DataFrame, idCol: String, textCol: String,
                            maxVocab: Int = 1 << 20): DataFrame = {
    val vocab = vocabMap(docs, textCol, maxVocab, weighted = true)
    val total = vocab.valuesIterator.sum.toDouble
    val logpBits = vocab.map { case (tok, cnt) =>
      (tok, java.lang.Double.doubleToRawLongBits(
        java.lang.StrictMath.log(cnt / total)))
    }
    // r20 (guide §4): the fused tokenize+score runs as the in-place
    // codegen kernel (plans/TfidfExpressions.scala) — no
    // UTF8String→String decode, no per-occurrence substring/
    // toLowerCase/boxing. n_tokens is exact; the Σ tf·ln(p)
    // accumulates over distinct tokens in table order where the UDF
    // used scala-HashMap order — both arbitrary; the sums agree to
    // reassociation ulps and the DECLARED contract (the lm_score
    // query, the DuckDB oracle, LmScoreSpec) compares at round(·, 4).
    // The UDF form is the test-scope TextReference.lmScoreUdfReference.
    // empty-doc drop BEFORE the scorer: filtering on r._1 > 0 after
    // would push `lm_score(text)._1 > 0` below the projection and
    // evaluate the kernel twice per row (§4.4 — seen live in the
    // plan). hasToken(text) > 0 ⟺ n_tokens > 0 by construction
    // (a token is a maximal non-ws byte run), null text drops either
    // way.
    docs.filter(graft.plans.Tfidf.hasTokenCol(col(textCol)))
      .select(col(idCol),
        graft.plans.Tfidf.lmScoreCol(col(textCol),
          TokenTable.of(logpBits)).as("r"))
      .select(col(idCol), col("r._1").as("n_tokens"), col("r._2").as("avg_logp"))
  }

  /** One compiled pass per document: doc length + per-query-term
    * counts. A HOF formulation (size(filter(ts, ...)) per term) would
    * re-tokenize per lambda after project-collapse — the measured
    * 20-70× hazard documented in README. Returns a plain tuple
    * (struct<_1,_2>): the earlier nested case class made whole-stage
    * codegen emit a call to its private accessor, which janino cannot
    * compile — the stage silently fell back to interpreted mode
    * (round-4 audit). */
  private def bm25ProfileUdf(terms: Seq[String]) = {
    val idx = terms.zipWithIndex.toMap
    udf((text: String) => {
      val tf = new Array[Long](idx.size)
      var dl = 0L
      if (text != null)
        text.toLowerCase(java.util.Locale.ROOT).split("\\s+").foreach { t =>
          if (t.nonEmpty) {
            dl += 1
            idx.get(t) match { case Some(i) => tf(i) += 1; case None => }
          }
        }
      (dl, tf)
    })
  }

  /** BM25-ranked keyword retrieval (Robertson/Sparck Jones; the
    * textbook k1/b form) — the lexical half of a RAG retriever next to
    * the vector half in VectorSearch (ref rag_service.py:208-241
    * retrieves by embedding only; BM25 is the standard hybrid
    * complement).
    *
    * Scale shape: NO wide shuffle at all. One compiled UDF pass
    * projects each doc to (id, dl, tf[terms]); that narrow profile is
    * localCheckpoint'd once so the corpus is scanned ONCE; corpus
    * stats (N, Σdl, per-term df) come from a single partial-agg
    * `.head` — the same driver-scalar discipline as lm_score's
    * normalizer (a one-row DataFrame would fold back in as a
    * nested-loop join). Scoring is then pure column arithmetic with
    * idf inlined as literals, and top-k is TakeOrderedAndProject.
    *
    * Returns docs with at least one query term, scored in `bm25`
    * (raw double — callers round for presentation). */
  def bm25Rank(docs: DataFrame, idCol: String, textCol: String,
               terms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val prof = docs
      .select(col(idCol), bm25ProfileUdf(terms)(col(textCol)).as("p"))
      .select(col(idCol) +: col("p._1").as("dl") +:
        terms.indices.map(i => col("p._2")(i).as(s"tf_$i")): _*)
      .localCheckpoint()
    val stats = prof.agg(
      count(lit(1)).as("n"),
      coalesce(sum(col("dl")), lit(0L)).as("tot") +:
        terms.indices.map(i =>
          sum(when(col(s"tf_$i") > 0, 1L).otherwise(0L)).as(s"df_$i")): _*).head
    val n = stats.getLong(0)
    val avgdl = if (n == 0) 1.0 else stats.getLong(1).toDouble / n
    val score = terms.indices.map { i =>
      val df = stats.getLong(2 + i).toDouble
      val idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
      lit(idf) * col(s"tf_$i") * (k1 + 1.0) /
        (col(s"tf_$i") + lit(k1) * (lit(1.0 - b) + lit(b / avgdl) * col("dl")))
    }.reduce(_ + _)
    prof.filter(terms.indices.map(i => col(s"tf_$i") > 0).reduce(_ || _))
      .select(col(idCol), col("dl"), score.as("bm25"))
  }
}

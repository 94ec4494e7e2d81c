package graft
package catalog

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, TextAnalysis}
import graft.functions.TextFunctions

import Helpers.{t, tp, orderedSmall}

/** LLM-data-pipeline operators: dedup, text analysis, chunking. */
object LlmOps {
  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("dedup_exact", ((s, d) =>
      // hash in the scan stage, shuffle only the distinct digests:
      // the partial aggregate dedups map-side, so the exchange carries
      // 32-char hashes, never document text (~20× narrower; the round-5
      // audit flagged the earlier repartition-first shape for shuffling
      // the full text column)
      t(s, d, "documents").agg(
        count(lit(1)).as("n_rows"),
        countDistinct(Dedup.contentHash(col("text"))).as("n_unique"))),
      "SELECT count(*) AS n_rows, count(DISTINCT md5(text)) AS n_unique FROM documents"),
    QuerySpec("percentiles", ((s, d) =>
      // exact interpolated quantiles (corpus length stats); Spark
      // percentile == DuckDB quantile_cont by definition
      t(s, d, "documents").groupBy("lang")
        .agg(round(expr("percentile(n_chars, 0.5)"), 4).as("p50"),
          round(expr("percentile(n_chars, 0.9)"), 4).as("p90"))
        .orderBy("lang")),
      ("SELECT lang, round(quantile_cont(n_chars, 0.5), 4) AS p50, " +
        "round(quantile_cont(n_chars, 0.9), 4) AS p90 FROM documents GROUP BY lang ORDER BY lang")),
    QuerySpec("rollup_stats", ((s, d) =>
      // multi-granularity corpus stats (grouping-sets family — the
      // 100 TB training-data reporting shape)
      t(s, d, "documents")
        .rollup("lang", "source")
        .agg(count(lit(1)).as("n"), sum("n_chars").as("chars"))
        .orderBy(asc_nulls_first("lang"), asc_nulls_first("source"))),
      ("SELECT lang, source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars FROM documents " +
        "GROUP BY ROLLUP (lang, source) ORDER BY lang NULLS FIRST, source NULLS FIRST")),
    QuerySpec("cube_stats", ((s, d) =>
      // full cube: every (lang, source) marginal in one pass — the
      // other grouping-sets family member
      t(s, d, "documents")
        .cube("lang", "source")
        .agg(count(lit(1)).as("n"),
          round(avg("n_chars"), 4).as("avg_chars"))
        .orderBy(asc_nulls_first("lang"), asc_nulls_first("source"))),
      ("SELECT lang, source, count(*) AS n, round(avg(n_chars), 4) AS avg_chars FROM documents " +
        "GROUP BY CUBE (lang, source) ORDER BY lang NULLS FIRST, source NULLS FIRST")),
    QuerySpec("text_tokens", ((s, d) =>
      // r19: token count as pure length arithmetic — the same
      // `#separators + 1 == size(split(text,' '))` identity
      // pack_sequences and text_quality already ride (split keeps
      // empty fields, so the identity is exact for empty strings,
      // leading/trailing and consecutive spaces; both forms
      // null-propagate). The split form allocated a UTF8String array
      // per document just to take its size — the in-place codegen
      // CountByte loop counts the 0x20 bytes with zero allocation
      // (ASCII bytes never occur inside multi-byte UTF-8 sequences).
      // sum(long) == sum(int widened) — column type unchanged.
      tp(s, d, "documents")
        .groupBy("lang")
        .agg(sum(graft.plans.StringCount.countChar(col("text"), ' ') + 1)
          .as("n_tokens"),
          count(lit(1)).as("n_docs"))
        .orderBy("lang")),
      "SELECT lang, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens, count(*) AS n_docs FROM documents GROUP BY lang ORDER BY lang"),
    QuerySpec("text_quality", ((s, d) => {
      // mean word length via pure length arithmetic — no regex, no
      // array allocation: space count from the in-place codegen
      // CountByte loop (ASCII bytes never occur inside multi-byte
      // UTF-8 sequences, so byte count == codepoint count), non-space
      // chars = length - #spaces, and split-on-' ' token count =
      // #spaces + 1 (split keeps empty fields, so the identity is
      // exact, not approximate). Same values as the
      // regexp_replace/split form, zero per-row allocation.
      val nSpaces = graft.plans.StringCount.countChar(col("text"), ' ')
      val nonSpace = length(col("text")) - nSpaces
      val nTokens = nSpaces + 1
      orderedSmall(tp(s, d, "documents")
        .groupBy("source")
        .agg(round(sum(nonSpace).cast("double") /
            sum(nTokens).cast("double"), 6)
          .as("mean_word_len")),
        "source")
    }),
      ("SELECT source, round(sum(length(replace(text, ' ', ''))) / CAST(sum(len(string_split(text, ' '))) AS DOUBLE), 6) AS mean_word_len " +
        "FROM documents GROUP BY source ORDER BY source")),
    QuerySpec("lang_stopwords", ((s, d) =>
      tp(s, d, "documents")
        .groupBy("lang")
        .agg(sum(TextAnalysis.stopwordHits(col("text"), "en")).as("en_hits"))
        .orderBy("lang")),
      ("SELECT lang, CAST(sum(len(list_filter(string_split(lower(text), ' '), t -> t IN ('the','and','of','to','is','a','in','that')))) AS BIGINT) AS en_hits " +
        "FROM documents GROUP BY lang ORDER BY lang")),
    QuerySpec("chunk_count", ((s, d) => {
      val chunk = TextFunctions.chunkTextUdf(200, 40)
      tp(s, d, "documents")
        .select(col("source"), explode(chunk(col("text"))).as("c"))
        .groupBy("source").agg(count(lit(1)).as("total_chunks"))
        .orderBy("source")
    }),
      ("SELECT source, CAST(sum(n_chunks) AS BIGINT) AS total_chunks FROM " +
        "(SELECT source, 1 + CASE WHEN length(text) > 41 THEN CAST(floor((length(text)-41)/160.0) AS BIGINT) ELSE 0 END AS n_chunks FROM documents) " +
        "GROUP BY source ORDER BY source")),
    QuerySpec("doc_fingerprint", ((s, d) => // real oracle: HUGEINT mod-2^64 hash
      tp(s, d, "documents")
        .select(col("doc_id"), TextFunctions.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")),
      // real oracle for the rolling polynomial hash (base 31, 64-bit
      // wraparound): DuckDB recomputes it in HUGEINT with an explicit
      // mod 2^64 per step (BIGINT would raise on overflow where the JVM
      // wraps), then converts to signed two's complement. Parity caveat:
      // JVM charAt is a UTF-16 unit, unicode() a codepoint — identical
      // for all BMP text (the corpus; no surrogate pairs).
      ("WITH t AS (SELECT doc_id, list_reduce(list_prepend(CAST(0 AS HUGEINT), " +
        "list_transform(string_split(text, ''), c -> CAST(unicode(c) AS HUGEINT))), " +
        "(h, c) -> (h * 31 + c) % CAST('18446744073709551616' AS HUGEINT)) AS m FROM documents) " +
        "SELECT doc_id, CAST(CASE WHEN m >= CAST('9223372036854775808' AS HUGEINT) " +
        "THEN m - CAST('18446744073709551616' AS HUGEINT) ELSE m END AS BIGINT) AS fp FROM t ORDER BY doc_id")),
    QuerySpec("simhash_sketch", ((s, d) => // real oracle: DuckDB HUGEINT recompute (SketchOracleSql)
      // sort-early shape (the pii_scrub treatment): order on doc_id is
      // established BEFORE the sketch UDF, so the range sampler probes
      // only the scan, not the UDF chain, and the explicit partition
      // count keeps the UDF stage wide under AQE
      tp(s, d, "documents")
        .repartitionByRange(
          s.conf.get("spark.sql.shuffle.partitions").toInt, col("doc_id"))
        .sortWithinPartitions("doc_id")
        .select(col("doc_id"), Dedup.simhash(col("text")).as("sketch"))),
      SketchOracleSql.simhashSketch),
    QuerySpec("minhash_bands", ((s, d) => // real oracle: DuckDB HUGEINT recompute (SketchOracleSql)
      orderedSmall(tp(s, d, "documents")
        .select(col("doc_id"), posexplode(Dedup.minhashBands(
          Dedup.shingleSet(col("text"), 3), 16, 4)).as(Seq("band", "bucket")))
        .groupBy(col("band"))
        .agg(countDistinct(col("bucket")).as("n_buckets"),
          count(lit(1)).as("n_docs")), "band")),
      // The five sketch oracles are REAL DuckDB recomputations since
      // round 11 — HUGEINT mod-2^64 arithmetic re-derives every text
      // sketch, and embed_neardups' sign-LSH buckets come from IEEE-
      // deterministic double folds (see SketchOracleSql's scaladoc for
      // the per-query equivalence arguments). The ann_* pins remain:
      // the seeded k-means fit has no bit-exact SQL form.
      SketchOracleSql.minhashBands),
  )
}

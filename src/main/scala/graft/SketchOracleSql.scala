package graft

/** DuckDB recomputation oracles for the mix64 sketch family — the four
  * queries that until round 10 could only carry frozen-output VALUES
  * pins (`simhash_sketch`, `simhash_neardups`, `minhash_bands`,
  * `minhash_neardups`). Each SQL here re-derives the sketch from the
  * raw text in DuckDB's own arithmetic, so the driver's compare is an
  * independent recomputation, not a stability replay.
  *
  * Why this is expressible at all: every JVM-side hash in
  * [[plans.SketchScan]] is integer arithmetic mod 2^64 (poly-31 char
  * fold, FNV-ish shingle combine, the murmur3 finalizer `mix64`).
  * DuckDB has no wrapping 64-bit type, but HUGEINT (int128) holds
  * every intermediate if the two ~2^64 finalizer constants are
  * multiplied via a 32-bit split — `(a*c) mod 2^64 =
  * (lo32(a)*c + (hi32(a)*c mod 2^32)<<32) mod 2^64`, each term
  * < 2^97. All "mod 2^64 / mod 2^32" are bitmasks, not `%`:
  * HUGEINT division is software 128-bit division and measured ~4x
  * slower end-to-end on these oracles.
  *
  * Scale shape of the SQL itself (the oracle runs at every bench
  * sweep point, so it cannot be quadratic or lambda-bound):
  *  - sketches are pure functions of `text`, so everything expensive
  *    runs over `SELECT DISTINCT text` and joins back to doc rows —
  *    on a replicated corpus (the x100 sweep) the oracle's work is
  *    scale-invariant;
  *  - per-token hashes come from a `DISTINCT` token dictionary (Zipf:
  *    vocab ≪ token count), the only lambda left is the per-char fold
  *    on that small vocab — the same construct `doc_fingerprint`'s
  *    oracle already uses;
  *  - each finalizer stage is its own MATERIALIZED CTE keyed by a
  *    dense integer text id: DuckDB inlines non-materialized
  *    projections into every consumer (the 64 vote columns would
  *    re-run the whole hash chain 64x — measured 3.6 s vs 0.5 s at
  *    sf0.1), and materializing with the raw text as the key spends
  *    ~5x the time re-writing strings.
  *
  * Equivalence arguments per query (beyond bit-identical hashing):
  *  - `simhash_neardups`: the engine joins on 4x16-bit bands; by
  *    pigeonhole, hamming <= 3 implies at least one equal band, so
  *    band candidates ⊇ qualifying pairs and the post-filter makes
  *    the band join EQUAL to the all-group-pairs form the oracle
  *    brute-forces (the hot-bucket cap is the one divergence; it
  *    cannot trigger at oracle scales).
  *  - `minhash_neardups`: the engine's LSH buckets are the mix64 band
  *    hashes `minhash_bands` recomputes, but the RESULT is the
  *    exact-verified pair set, so the oracle computes jaccard over
  *    ALL pairs of the 300-doc slice instead. LSH can in principle miss a
  *    qualifying pair (8 bands x 2 rows: P(miss) = (1-j^2)^8), so
  *    this oracle is checked where it is run: at gate scale the only
  *    pairs over the 0.5 threshold are the planted near-copies at
  *    j ≈ 0.98 (nothing else reaches j >= 0.3), where
  *    P(miss) ≈ 2e-11 — the two formulations provably agree.
  */
private[graft] object SketchOracleSql {

  private val Mask64 = "CAST('18446744073709551615' AS HUGEINT)" // 2^64-1
  private val Lo32 = "CAST(4294967295 AS HUGEINT)"
  private val C1 = "18397679294719823053" // 0xff51afd7ed558ccdL unsigned
  private val C2 = "14181476777654086739" // 0xc4ceb9fe1a85ec53L unsigned
  private val Fnv = "1099511628211" // 0x100000001b3L
  private val PolySeed = "CAST(1125899906842597 AS HUGEINT)"
  private val SignBit = "CAST('9223372036854775808' AS HUGEINT)" // 2^63
  private val LongMax = "9223372036854775807"
  private val Pat = "[가-힣a-z0-9][가-힣a-z0-9\\-_/]+" // SketchScan's token rule

  /** (a * c) mod 2^64 for a < 2^64 without overflowing int128. */
  private def mulmod(a: String, c: String): String =
    s"((($a) & $Lo32) * CAST('$c' AS HUGEINT) + " +
      s"(((($a) >> 32) * CAST('$c' AS HUGEINT)) & $Lo32) * 4294967296) & $Mask64"

  /** Murmur3 finalizer (= SketchScan.mix64) as five MATERIALIZED stages
    * over relation `src(keys..., v)`, final column `out` in
    * `<pfx>_s5`. */
  private def mixCtes(pfx: String, src: String, keys: Seq[String],
                      v: String, out: String): String = {
    val k = keys.mkString(", ")
    s"""${pfx}_s1 AS MATERIALIZED (SELECT $k, xor($v, ($v) >> 33) AS a1 FROM $src),
${pfx}_s2 AS MATERIALIZED (SELECT $k, ${mulmod("a1", C1)} AS b1 FROM ${pfx}_s1),
${pfx}_s3 AS MATERIALIZED (SELECT $k, xor(b1, b1 >> 33) AS a2 FROM ${pfx}_s2),
${pfx}_s4 AS MATERIALIZED (SELECT $k, ${mulmod("a2", C2)} AS b2 FROM ${pfx}_s3),
${pfx}_s5 AS MATERIALIZED (SELECT $k, xor(b2, b2 >> 33) AS $out FROM ${pfx}_s4)"""
  }

  /** The 16 LSH seeds, taken from the engine's own derivation so the
    * SQL constants can never drift from it. */
  private val seeds: IndexedSeq[String] =
    plans.SketchScan.seeds(16).toIndexedSeq.map(java.lang.Long.toUnsignedString)

  private val seedValues = seeds.zipWithIndex
    .map { case (s, i) => s"(${i + 1}, CAST('$s' AS HUGEINT))" }
    .mkString(", ")

  /** Per-char poly-31 fold (the one remaining lambda; runs on the
    * distinct-token vocab only). */
  private def charFold(tokCol: String): String =
    s"""list_reduce(list_prepend($PolySeed,
      list_transform(string_split($tokCol, ''), c -> CAST(unicode(c) AS HUGEINT))),
      (h, c) -> (h * 31 + c) & $Mask64)"""

  /** CTE block computing `sks(doc_id, sketch BIGINT)` — the 64-bit
    * SimHash of every document (TextScan.simhash64's short xorshift mix:
    * one C1 multiply, not the full finalizer). */
  private val simhashCtes: String = {
    val votes = (0 until 64)
      .map(b => s"sum(c * CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS v$b")
      .mkString(",\n    ")
    val recompose = (0 until 64)
      .map(b => s"CASE WHEN v$b > 0 THEN CAST(1 AS HUGEINT) << $b ELSE CAST(0 AS HUGEINT) END")
      .mkString(" + ")
    s"""dt AS MATERIALIZED (SELECT DISTINCT text FROM documents WHERE text IS NOT NULL),
tok AS (SELECT text, unnest(regexp_extract_all(lower(text), '$Pat')) AS t FROM dt),
vocab AS MATERIALIZED (SELECT DISTINCT t FROM tok),
vh AS MATERIALIZED (
  SELECT t, xor(b2, b2 >> 33) AS h FROM (
    SELECT t, ${mulmod("a", C1)} AS b2 FROM (
      SELECT t, xor(h0, h0 >> 33) AS a FROM (
        SELECT t, ${charFold("t")} AS h0 FROM vocab)))),
tc AS (SELECT text, t, count(*) AS c FROM tok GROUP BY text, t),
v AS (SELECT text,
    $votes
  FROM tc JOIN vh USING (t) GROUP BY text),
u AS (SELECT text, $recompose AS u FROM v),
sks AS (
  SELECT d.doc_id,
    CAST(CASE WHEN coalesce(u.u, 0) >= $SignBit
         THEN u.u - $Mask64 - 1 ELSE coalesce(u.u, 0) END AS BIGINT) AS sketch
  FROM documents d LEFT JOIN u ON d.text = u.text)"""
  }

  val simhashSketch: String =
    s"WITH $simhashCtes\nSELECT doc_id, sketch FROM sks ORDER BY doc_id"

  val simhashNearDups: String =
    s"""WITH $simhashCtes,
g AS (SELECT sketch, min(doc_id) AS id, count(*) AS gsize FROM sks GROUP BY sketch),
p AS (SELECT bit_count(xor(a.sketch, b.sketch)) AS hamming, a.gsize AS sizeA, b.gsize AS sizeB
      FROM g a JOIN g b ON a.id < b.id
      WHERE bit_count(xor(a.sketch, b.sketch)) <= 3)
SELECT count(*) AS n_pairs, round(avg(hamming), 4) AS avg_hamming,
       CAST(coalesce(sum(sizeA * sizeB), 0) AS BIGINT) AS n_doc_pairs FROM p"""

  val minhashBands: String = {
    // shingle hash: ((SEED*F + th0)*F + th1)*F + th2, each step masked;
    // s*F < 2^104 fits int128, so the F multiplies need no split
    val s0 = s"($PolySeed * CAST('$Fnv' AS HUGEINT)) & $Mask64"
    val s1 = s"((((($s0) + th) & $Mask64) * CAST('$Fnv' AS HUGEINT)) & $Mask64)"
    val s2 = s"((($s1 + th1) & $Mask64) * CAST('$Fnv' AS HUGEINT)) & $Mask64"
    val sh3 = s"((($s2) + th2) & $Mask64)"
    val sixteen = (1 to 16).mkString(",")
    val mx1 = mixCtes("mx1",
      "(SELECT sh.tid, st.sidx, xor(sh.sh3, st.seed) AS x FROM sh CROSS JOIN seedt st)",
      Seq("tid", "sidx"), "x", "hm")
    val mx2 = mixCtes("mx2",
      "(SELECT bp.tid, bp.band, xor(bp.pre, st.seed) AS x FROM bandpre bp JOIN seedt st ON st.sidx = bp.band + 1)",
      Seq("tid", "band"), "x", "bh")
    s"""WITH dt AS MATERIALIZED (
  SELECT row_number() OVER () AS tid, text
  FROM (SELECT DISTINCT coalesce(text, '') AS text FROM documents)),
tok AS MATERIALIZED (
  SELECT tid, unnest(regexp_extract_all(lower(text), '$Pat')) AS t,
         unnest(range(1, len(regexp_extract_all(lower(text), '$Pat')) + 1)) AS pos
  FROM dt),
vocab AS (SELECT DISTINCT t FROM tok),
vh AS MATERIALIZED (SELECT t, ${charFold("t")} AS th FROM vocab),
tp AS (SELECT tok.tid, tok.pos, vh.th FROM tok JOIN vh USING (t)),
sh AS MATERIALIZED (
  SELECT tid, $sh3 AS sh3 FROM (
      SELECT tid, th,
        lead(th, 1) OVER (PARTITION BY tid ORDER BY pos) AS th1,
        lead(th, 2) OVER (PARTITION BY tid ORDER BY pos) AS th2
      FROM tp)
  WHERE th2 IS NOT NULL),
seedt AS (SELECT * FROM (VALUES_SEEDS) AS s(sidx, seed)),
$mx1,
sv AS MATERIALIZED (
  SELECT tid, sidx,
    min(CASE WHEN hm >= $SignBit THEN hm - $Mask64 - 1 ELSE hm END) AS mn
  FROM mx1_s5 GROUP BY tid, sidx),
allmins AS (
  SELECT dt.tid, sd.sidx, coalesce(sv.mn, CAST('$LongMax' AS HUGEINT)) AS mn
  FROM dt CROSS JOIN (SELECT unnest(ARRAY[$sixteen]) AS sidx) sd
  LEFT JOIN sv ON sv.tid = dt.tid AND sv.sidx = sd.sidx),
bandpre AS MATERIALIZED (
  SELECT tid, band,
    list_reduce(list_prepend($PolySeed,
        list(CASE WHEN mn < 0 THEN mn + $Mask64 + 1 ELSE mn END ORDER BY sidx)),
      (h, m) -> ((${mulmod("h", Fnv)}) + m) & $Mask64) AS pre
  FROM (SELECT tid, CAST((sidx - 1) // 4 AS INT) AS band, sidx, mn FROM allmins)
  GROUP BY tid, band),
$mx2
SELECT CAST(b.band AS INT) AS band, count(DISTINCT b.bh) AS n_buckets, count(*) AS n_docs
FROM documents d
JOIN dt ON dt.text = coalesce(d.text, '')
JOIN mx2_s5 b ON b.tid = dt.tid
GROUP BY b.band ORDER BY b.band"""
      .replace("VALUES_SEEDS", s"VALUES $seedValues")
  }

  /** `embed_neardups` recomputation: the sign-LSH hyperplanes are
    * deterministic doubles (floorMod(mix64(...), 1e6)/1e6 − 0.5 —
    * signBucketUdf's derivation, re-run here with the JVM's own mix64
    * and emitted as shortest-round-trip literals), and the bucket of
    * a vector is the SIGN of a sequential double fold — IEEE
    * determinism makes DuckDB's list_reduce over identical products
    * bit-equal to the UDF's loop, which matters because the planted
    * corpus contains a genuine LSH false negative (one rescaled copy
    * flips one hyperplane sign; the oracle reproduces 199-of-200
    * recovered, not 200). The planted rescale is float32 arithmetic;
    * a float product/sum of two floats is exact in double, so
    * CAST(x * f AS FLOAT) is the same single rounding the engine
    * performs. The cosine verify needs no bit-exactness: every
    * qualifying pair sits at cos ≈ 0.999998 against a 0.8 threshold
    * and a 4-decimal rounding. */
  val embedNearDups: String = {
    val dim = 64
    val bits = 8
    val planes = for (b <- 0 until bits; j <- 0 until dim) yield
      (java.lang.Math.floorMod(
        plans.SketchScan.mix64(
          j.toLong * 0x9e3779b97f4a7c15L + (b + 1).toLong * 0xc2b2ae3d27d4eb4fL),
        1000000L).toDouble / 1000000.0) - 0.5
    val pw = planes.map(_.toString).mkString("[", ",", "]")
    val fl = (0 until 7)
      .map(k => s"CAST(${(1.0f + (k - 3).toFloat * 0.001f).toDouble} AS FLOAT)")
      .mkString("[", ",", "]")
    def fold(expr: String): String =
      s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, len(ea)+1), i -> $expr)), (a,x) -> a+x)"
    s"""WITH consts AS MATERIALIZED (SELECT $fl AS fl, $pw AS pw),
base AS MATERIALIZED (
  SELECT vec_id, embedding AS emb FROM embeddings WHERE vec_id < 200 AND embedding IS NOT NULL),
planted AS MATERIALIZED (
  SELECT vec_id + 1000 AS vec_id,
    list_transform(range(1, len(emb) + 1),
      i -> CAST(emb[i] * c.fl[(i - 1) % 7 + 1] AS FLOAT)) AS emb
  FROM base CROSS JOIN consts c),
allv AS MATERIALIZED (SELECT vec_id, emb FROM base UNION ALL SELECT vec_id, emb FROM planted),
dots AS MATERIALIZED (
  SELECT v.vec_id, p.b,
    list_reduce(
      list_prepend(CAST(0.0 AS DOUBLE),
        list_transform(range(1, len(v.emb) + 1),
          i -> CAST(v.emb[i] AS DOUBLE) * c.pw[p.b * $dim + i])),
      (a, x) -> a + x) AS d
  FROM allv v CROSS JOIN (SELECT unnest(range(0, $bits)) AS b) p CROSS JOIN consts c),
bk AS MATERIALIZED (
  SELECT vec_id, CAST(sum(CASE WHEN d >= 0 THEN 1 << b ELSE 0 END) AS BIGINT) AS bucket
  FROM dots GROUP BY vec_id),
withb AS (SELECT a.vec_id, a.emb, b.bucket FROM allv a JOIN bk b USING (vec_id)),
cand AS (
  SELECT x.vec_id AS idA, y.vec_id AS idB, x.emb AS ea, y.emb AS eb
  FROM withb x JOIN withb y ON x.bucket = y.bucket AND x.vec_id < y.vec_id),
cosed AS MATERIALIZED (
  SELECT idA, idB,
    (CASE WHEN sqrt(nx) * sqrt(ny) = 0 THEN 0.0 ELSE dot / (sqrt(nx) * sqrt(ny)) END) AS cos
  FROM (
    SELECT idA, idB,
      ${fold("CAST(ea[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE)")} AS dot,
      ${fold("CAST(ea[i] AS DOUBLE) * CAST(ea[i] AS DOUBLE)")} AS nx,
      ${fold("CAST(eb[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE)")} AS ny
    FROM cand))
SELECT count(*) AS n_pairs, round(avg(cos), 4) AS avg_cos,
  CAST(coalesce(sum(CASE WHEN idB - idA = 1000 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_planted_recovered
FROM cosed WHERE cos >= 0.8"""
  }

  /** `multimodal_decode` recomputation (r15, r14 judge item #8): the
    * "decode" under test is [[operators.Multimodal.decodeStub]] — a
    * DOCUMENTED deterministic fake (poly-31 fold over the first 4096
    * UTF-8 bytes, xor-multiply-xor finalize, modular width/duration) —
    * so unlike a real codec it IS recomputable in SQL: DuckDB re-runs
    * the byte fold (hex-pair extraction over `encode(text)`, signed-
    * byte semantics restored via +2^64−256 before the mask), the same
    * HUGEINT mulmod finalizer the sketch oracles use, and the modular
    * feature derivation, then re-aggregates per media type. The
    * expensive fold runs over DISTINCT text only (scale-invariant on
    * the replicated sweep corpus, same shape as the sketch oracles).
    * What stops being asserted-by-pin: everything — this oracle leaves
    * the VALUES class entirely. */
  val multimodalDecode: String = {
    val n256 = "CAST('18446744073709551360' AS HUGEINT)" // 2^64 - 256
    val fold = s"""list_reduce(list_prepend($PolySeed,
      list_transform(range(1, least(octet_length(encode(text)), 4096) + 1),
        i -> CAST(CAST(concat('0x', substring(hx, 2*i-1, 2)) AS INT) AS HUGEINT))),
      (h, b) -> (h * 31 + CASE WHEN b >= 128 THEN b + $n256 ELSE b END) & $Mask64)"""
    s"""WITH dt AS MATERIALIZED (SELECT DISTINCT coalesce(text, '') AS text FROM documents),
hxt AS MATERIALIZED (SELECT text, hex(encode(text)) AS hx FROM dt),
f AS MATERIALIZED (SELECT text, $fold AS h0 FROM hxt),
m1 AS MATERIALIZED (SELECT text, xor(h0, h0 >> 33) AS a FROM f),
m2 AS MATERIALIZED (SELECT text, ${mulmod("a", C1)} AS b FROM m1),
m3 AS MATERIALIZED (SELECT text, xor(b, b >> 33) AS h FROM m2),
dec AS (
  SELECT d.doc_id,
    CASE WHEN d.doc_id % 3 = 0 THEN 'image'
         WHEN d.doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
    160 + CAST(m3.h & 7 AS INT) * 160 AS w,
    1.0 + CAST((m3.h >> 16) % 600 AS DOUBLE) / 10.0 AS dur
  FROM documents d JOIN m3 ON m3.text = coalesce(d.text, ''))
SELECT media_type, count(*) AS n, round(avg(w), 4) AS avg_w,
       round(avg(dur), 4) AS avg_dur
FROM dec GROUP BY media_type ORDER BY media_type"""
  }

  val minhashNearDups: String =
    s"""WITH sh AS MATERIALIZED (
  SELECT doc_id, list_distinct(CASE WHEN len(ts) < 3 THEN CAST([] AS VARCHAR[]) ELSE
      list_transform(range(1, len(ts) - 1), i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) END) AS sh
  FROM (SELECT doc_id, regexp_extract_all(lower(text), '$Pat') AS ts
        FROM documents WHERE doc_id < 300)),
p AS (
  SELECT inter, la, lb FROM (
    SELECT len(list_intersect(a.sh, b.sh)) AS inter, len(a.sh) AS la, len(b.sh) AS lb
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
  WHERE CAST(inter AS DOUBLE) / (la + lb - inter) >= 0.5)
SELECT count(*) AS n_pairs,
       round(avg(CAST(inter AS DOUBLE) / (la + lb - inter)), 4) AS avg_jaccard FROM p"""
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Training-mix sampling (north-star operator; no reference
  * counterpart): deterministic hash-mod systematic sampling at
  * per-stratum rates — keep a row iff `(id·PRIME) mod 1000 <
  * rate_permille(stratum)`.
  *
  * Why not `df.sample`/`sampleBy`: RNG-based sampling is
  * partition-order-dependent and irreproducible across engines or
  * re-runs on re-partitioned data. The hash-mod rule is row-local,
  * engine-portable (plain integer arithmetic — the DuckDB oracle
  * reproduces it exactly), and auditable: membership of every document
  * in the training mix is a pure function of its id. That property is
  * what a 100 TB mix build needs — re-running the pipeline, or
  * rebuilding one shard, selects the same rows.
  *
  * The id is folded mod a prime BEFORE the multiply, so the product
  * stays < 2^48 and the rule never 64-bit-wraps at any id range (a
  * bare id·PRIME silently wraps in Spark past id ≈ 3.5e9 while DuckDB
  * raises — exactly the divergence a portable rule must not have).
  * Ids are assumed non-negative (DuckDB `%` goes negative there,
  * Spark's pmod does not). */
object Sampling {

  def systematicSample(df: DataFrame, idCol: Column, stratumCol: Column,
                       ratesPermille: Map[String, Long],
                       defaultPermille: Long = 0L): DataFrame = {
    val key = pmod(pmod(idCol, lit(100003L)) * lit(2654435761L), lit(1000L))
    // foldLeft in sorted order for a deterministic plan
    val rate = ratesPermille.toSeq.sortBy(_._1)
      .foldLeft(lit(defaultPermille)) { case (acc, (s, r)) =>
        when(stratumCol === s, lit(r)).otherwise(acc)
      }
    df.filter(key < rate)
  }

  /** Temperature-flattened training mix (the standard domain
    * reweighting w_d ∝ n_d^α with α = 0.5): small domains are
    * upsampled relative to their share so the mix isn't dominated by
    * the largest source. Per-stratum counts come from ONE aggregation
    * (the stratum count is bounded — languages/sources, not rows, so
    * the collect is a bounded driver scalar); the per-mille rates are then derived in INTEGER-EXACT
    * arithmetic — integer sqrt and a single integer division — so an
    * independent engine recomputing them from the same counts gets
    * bit-identical rates (no float-summation-order hazard), and
    * membership reuses [[systematicSample]]'s portable hash-mod rule.
    * rate_d = min(1000, budget·1000·isqrt(n_d) / (Σ_e isqrt(n_e) ·
    * n_d)), i.e. expected picks ≈ budget·w_d.
    *
    * The "bounded driver scalar" claim is now ENFORCED, not assumed
    * (r16 self-audit): the count collect is limit-gated at
    * `maxStrata` and fails loud when the stratum column turns out
    * high-cardinality (someone passing doc_id instead of a domain
    * gets an error naming the fix, not an OOM'd driver). */
  def temperatureMix(df: DataFrame, idCol: Column, stratumCol: Column,
                     budget: Long, maxStrata: Int = 10000): DataFrame = {
    def isqrt(n: Long): Long = {
      // division-form comparisons: (r+1)² and r² overflow Long near
      // n = Long.MaxValue; for positive x, x² ≤ n ⟺ x ≤ n/x in
      // integer arithmetic, so the refinement stays overflow-free at
      // any count the operator is documented for
      if (n <= 0L) 0L
      else {
        var r = math.max(1L, math.sqrt(n.toDouble).toLong)
        while (r + 1 <= n / (r + 1)) r += 1
        while (r > n / r) r -= 1
        r
      }
    }
    // limit(maxStrata+1) bounds what can ever reach the driver; the
    // +1 row, if present, proves the overflow without collecting it
    // all. Null strata are filtered BEFORE the limit (r17 advisory):
    // with exactly maxStrata+1 real strata plus a null stratum, the
    // arbitrary limit could keep the null row and drop a real one —
    // passing the guard while silently assigning that stratum the
    // default rate. Null-stratum rows never had a rate either way
    // (the old flatMap dropped them post-limit), so semantics are
    // unchanged; only the guard's view is now exact.
    val counts = df.filter(stratumCol.isNotNull)
      .groupBy(stratumCol.as("_s")).agg(count(lit(1)).as("_n"))
      .limit(maxStrata + 1)
      .collect()
      .map(r => r.get(0).toString -> r.getLong(1))
    require(counts.length <= maxStrata,
      s"temperatureMix: more than $maxStrata distinct strata — the " +
        "stratum column looks row-grained (pass a domain/language-class " +
        "column, or raise maxStrata if the mix really has that many sources)")
    val sumW = counts.map(c => isqrt(c._2)).sum
    require(sumW > 0, "temperatureMix: empty input")
    val rates = counts.map { case (s, n) =>
      // BigInt intermediate: budget·1000·isqrt(n) overflows Long once
      // per-stratum counts reach ~10¹² at a generous budget — exactly
      // the 100 TB regime this operator targets. The final per-mille
      // rate is ≤1000, so narrowing back to Long is always safe.
      s -> (BigInt(budget) * 1000 * isqrt(n) / (BigInt(sumW) * n))
        .min(1000).toLong
    }.toMap
    systematicSample(df, idCol, stratumCol, rates)
  }
}

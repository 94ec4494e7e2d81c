package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector scalar functions over `array<float>` embedding columns
  * (SURVEY.md §2.8-math; ref embedding_handler.py:45-73).
  *
  * Built from Spark higher-order functions (`zip_with`, `aggregate`,
  * `transform`) — native Catalyst expressions, no UDF serialization,
  * null-safe, and the math is IEEE-double sequential sum which matches
  * DuckDB's list functions for oracle parity.
  *
  * Scale notes: all row-local; the query vector in a k-NN scan is a
  * `lit` array. It ships with the plan (not a shuffle), and generated
  * code reads it as a reference object rather than inlining its
  * values, so one compiled class serves every query vector. For
  * 1024-dim floats at 100 TB the scan is bandwidth-bound — see
  * operators.VectorSearch for the pruned-scan/LSH paths.
  */
object VectorFunctions {

  private def toD(a: Column): Column = transform(a, x => x.cast("double"))

  /** Dot product in double precision, sequential sum. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(toD(a), toD(b), (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** L2 norm. */
  def l2Norm(a: Column): Column =
    sqrt(aggregate(toD(a), lit(0.0), (acc, x) => acc + x * x))

  /** Cosine similarity; 0.0 for zero-norm inputs (no NaN leakage).
    * Ref: embedding_handler.py:61-73. Built-in HOF formulation —
    * the reference/oracle-parity baseline. */
  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val n = l2Norm(a) * l2Norm(b)
    when(n === 0.0, 0.0).otherwise(d / n)
  }

  /** Same math as [[cosine]] through the native codegen expression
    * (graft.plans.CosineSimilarity) — one fused loop inside
    * whole-stage codegen instead of interpreted HOF lambdas; 5-100×
    * faster on 1024-dim scans than the HOF form, which a session with
    * Sessions.extensions rewrites into this expression anyway
    * (RewriteHofCosine). Bench's `vector` block times it. Identical results
    * (sequential double accumulation over float inputs). Built
    * directly from the expression so it resolves on any classic
    * session; `graft_cosine` is also in the registry for SQL use
    * (Sessions.extensions). */
  def cosineFast(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.plans.CosineSimilarity(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** Codegen dot product (see [[cosineFast]]). */
  def dotFast(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.plans.DotProduct(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** Codegen Euclidean distance (see [[cosineFast]]). */
  def l2DistFast(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.plans.L2Distance(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** Euclidean (L2) distance. */
  def l2Dist(a: Column, b: Column): Column =
    sqrt(aggregate(zip_with(toD(a), toD(b), (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x))

  /** L2-normalize an embedding to unit length (ref
    * embedding_handler.py:45-49 normalize_embeddings=True); zero
    * vectors pass through unchanged. */
  def l2Normalize(a: Column): Column = {
    val n = l2Norm(a)
    when(n === 0.0, toD(a)).otherwise(transform(toD(a), x => x / n))
  }

  /** FAISS L2-branch score: distance → similarity `1/(1+d)`.
    * Ref: enhanced_internal_db_service.py:702-714. */
  def l2ToSimilarity(dist: Column): Column = lit(1.0) / (lit(1.0) + dist)
}

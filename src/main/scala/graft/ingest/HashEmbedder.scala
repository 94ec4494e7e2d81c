package graft.ingest

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** Deterministic hash-projection text embedder — the engine's
  * pluggable stand-in for the reference's dense embedding model
  * (BAAI/bge-m3, 1024-dim L2-normalized, embedding_handler.py:41-55).
  *
  * Feature hashing (the standard hashing trick): each token and token
  * bigram contributes ±1 to one of `dim` buckets (bucket and sign both
  * from a 64-bit mix of the token bytes), then the vector is
  * L2-normalized. Deterministic across JVMs/executors, no model
  * download, and texts sharing vocabulary land near each other in
  * cosine space — which is exactly what the retrieval tests need.
  *
  * Scale: row-local, one pass over the tokens, no shuffle. A real
  * model backend would replace [[embed]] behind the same UDF boundary
  * (mapPartitions-batched for GPU efficiency).
  */
object HashEmbedder extends Embedder {

  val DefaultDim = 1024

  /** [[Embedder]] boundary: the hash projection at the default dim.
    * (Other dims stay available via the explicit [[embed]]/[[embedCol]]
    * overloads — the trait models the fixed-dim model interface.) */
  override def dim: Int = DefaultDim
  override def embedBatch(texts: Seq[String]): Seq[Array[Float]] =
    texts.map(embed(_, DefaultDim))

  private val tokenRe = "[가-힣a-z0-9][가-힣a-z0-9\\-_/]*".r

  private def mix(h0: Long): Long = {
    var h = h0
    h ^= (h >>> 33); h *= 0xff51afd7ed558ccdL
    h ^= (h >>> 33); h *= 0xc4ceb9fe1a85ec53L
    h ^= (h >>> 33); h
  }

  private def tokenHash(t: String): Long = {
    var h = 1125899906842597L
    var i = 0
    while (i < t.length) { h = h * 31L + t.charAt(i); i += 1 }
    mix(h)
  }

  def tokensOf(text: String): Seq[String] =
    tokenRe.findAllIn(text.toLowerCase(java.util.Locale.ROOT)).toSeq

  /** Embed one text into a unit-length `dim`-vector. */
  def embed(text: String, dim: Int = DefaultDim): Array[Float] = {
    val v = new Array[Float](dim)
    if (text != null && text.nonEmpty) {
      val toks = tokensOf(text)
      def add(h: Long): Unit = {
        val idx = java.lang.Math.floorMod(h, dim.toLong).toInt
        val sign = if (((h >>> 62) & 1L) == 1L) 1f else -1f
        v(idx) += sign
      }
      toks.foreach(t => add(tokenHash(t)))
      toks.sliding(2).withFilter(_.length == 2)
        .foreach(p => add(mix(tokenHash(p.head) * 31L + tokenHash(p(1)))))
      var s = 0.0
      var i = 0
      while (i < dim) { s += v(i).toDouble * v(i); i += 1 }
      if (s > 0) {
        val inv = (1.0 / math.sqrt(s)).toFloat
        i = 0
        while (i < dim) { v(i) *= inv; i += 1 }
      }
    }
    v
  }

  def embedUdf(dim: Int = DefaultDim): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((s: String) => embed(s, dim))

  def embedCol(c: Column, dim: Int = DefaultDim): Column = embedUdf(dim)(c)
}

package graft.search

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, map_keys}
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.ingest.HashEmbedder

/** `SearchPipeline.search`'s post-top-k pass against the DataFrame
  * composition it replaced (`SearchReference.search`): on random
  * indexes of at most fetch_k chunks, both give the same schema and
  * the same rows in the same order, markers and map entry order
  * included. */
class SearchPassFuzzSpec extends SparkSpec {

  private val dim = 8

  private val schema = StructType(Seq(
    StructField("chunk_id", LongType, nullable = false),
    StructField("doc_id", LongType),
    StructField("title", StringType),
    StructField("oo", StringType),
    StructField("content", StringType),
    StructField("metadata", MapType(StringType, StringType)),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))

  private val titles = Seq(null, "", "Transformer", "transformer",
    "ＴＲＡＮＳＦＯＲＭＥＲ", "İstanbul", "i̇stanbul", "ISTANBUL", "ﬁle", "file",
    "셀프 어텐션", "Self-Attention", "ＦＡＩＳＳ")
  private val oos = Seq(null, "", "FAISS", "ｆａｉｓｓ", "RAG", "Self-Attention")
  private val words = Seq("attention", "ATTENTION", "passage:", "faiss",
    "ＦＡＩＳＳ", "어텐션", "셀프어텐션", "rag", "retrieval", "vector",
    "İstanbul", "ﬁle", "Ｓｅｌｆ-Ａｔｔｅｎｔｉｏｎ", "index", "모델")
  private val questions = Seq("Self-Attention이 뭐야?", "FAISS가 뭐야?",
    "RAG 기술을 설명해", "뭐야?", "what 정의", "Transformer 구조를 설명해",
    "istanbul file", "attention vector index")

  /** One partition: a local relation, whose row count the optimizer
    * knows; more: an RDD split that many ways. */
  private def index(rows: Seq[Row], partitions: Int): DataFrame =
    if (partitions == 1) spark.createDataFrame(rows.asJava, schema)
    else spark.createDataFrame(spark.sparkContext.parallelize(rows, partitions), schema)

  private def check(label: String, idx: DataFrame, q: String, topK: Int,
                    margin: Double, simFloor: Double, cap: Int): Int = {
    val exp = SearchReference.search(idx, q, topK, margin, simFloor, cap, dim = dim)
    val got = SearchPipeline.search(idx, q, topK, margin, simFloor, cap, dim = dim)
    assert(got.schema == exp.schema, label)
    // Row equality compares maps as sets; `_keys` pins their entry order
    def run(df: DataFrame) = df.withColumn("_keys", map_keys(col("metadata"))).collect().toSeq
    val e = run(exp)
    assert(run(got) == e, s"$label q=$q topK=$topK margin=$margin floor=$simFloor cap=$cap")
    e.length
  }

  private def randomRows(rnd: scala.util.Random, n: Int, q: String): Seq[Row] = {
    val qv = HashEmbedder.embed("query: " + q.trim, dim)
    val vecs = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.length))
    (0 until n).map { i =>
      val emb: Array[Float] = rnd.nextInt(12) match {
        case 0 => null // null score
        case 1 | 2 if vecs.nonEmpty => pick(vecs.toSeq) // tied score
        case 3 => qv.map(x => (x * (0.5 + rnd.nextInt(3))).toFloat)
        case 4 => Array.fill(dim)(0f) // cosine 0.0
        case _ => Array.fill(dim)((rnd.nextInt(21) - 10) / 10f)
      }
      if (emb != null) vecs += emb
      val content =
        if (rnd.nextInt(10) == 0) null
        else Seq.fill(1 + rnd.nextInt(4))(pick(words)).mkString(" ")
      val meta = (0 until rnd.nextInt(7)).map(j => s"k$j" -> s"v$i.$j").toMap
      Row(i.toLong * 7 + rnd.nextInt(3), if (rnd.nextBoolean()) null else i.toLong,
        pick(titles), pick(oos), content, meta, if (emb == null) null else emb.toSeq)
    }
  }

  test("search equals the DataFrame composition on 60 random indexes of at most fetch_k rows") {
    val rnd = new scala.util.Random(6)
    var kept = 0
    (1 to 60).foreach { trial =>
      val topK = 1 + rnd.nextInt(6)
      val fetchK = math.max(topK * 4, topK + 5)
      val q = questions(rnd.nextInt(questions.length))
      val rows = randomRows(rnd, rnd.nextInt(fetchK + 1), q)
      val margin = Seq(0.0, 0.05, 0.12, 0.5, 1.0, rnd.nextDouble())(rnd.nextInt(6))
      val floor = Seq(0.0, 0.35, 0.6, rnd.nextDouble())(rnd.nextInt(4))
      kept += check(s"trial $trial", index(rows, 1 + rnd.nextInt(3)), q, topK,
        margin, floor, 1 + rnd.nextInt(3))
    }
    assert(kept > 60, s"the trials kept only $kept rows in all")
  }

  test("edge cases: empty, all below the floor, ties, null and NaN scores, null titles, NFKC and Turkish titles, no strong anchors") {
    val rnd = new scala.util.Random(7)
    val q = "Self-Attention이 뭐야?"
    val qv = HashEmbedder.embed("query: " + q, dim).toSeq
    def row(id: Long, title: String, oo: String, content: String,
            emb: Seq[Float]): Row =
      Row(id, id, title, oo, content, Map("id" -> id.toString), emb)
    check("empty", index(Seq.empty, 1), q, 5, 0.12, 0.35, 3)
    val some = randomRows(rnd, 12, q)
    assert(check("all below the floor", index(some, 1), q, 5, 1.0, 1.01, 3) == 0)
    val tied = (1L to 10L).map(i => row(i, if (i % 2 == 0) "A" else "B", "o",
      "attention", qv))
    assert(check("tied scores", index(tied, 2), q, 5, 0.12, 0.35, 2) == 4)
    val nulls = (1L to 8L).map(i => row(i, "t", "o", "attention",
      if (i % 2 == 0) null else qv.map(_ * i)))
    check("null scores", index(nulls, 1), q, 5, 1.0, 0.0, 3)
    check("a NaN score", index(tied.take(3) :+
      row(11L, "C", "o", "attention", Seq.fill(dim)(Float.NaN)), 1), q, 5, 0.12, 0.35, 3)
    check("only null scores", index(nulls.filter(_.isNullAt(6)), 1), q, 5, 1.0, 0.0, 3)
    // null or empty title falls back to oo, then "unknown"; full-width
    // and ligature titles fold under NFKC; Turkish dotted capital I
    val groups = Seq(null, "", "ＡＢＣ", "abc", "İ", "i̇", "I", "ﬁ", "fi")
      .zipWithIndex.flatMap { case (t, i) =>
        Seq(row(2L * i, t, if (i % 2 == 0) null else "oo", "attention", qv),
          row(2L * i + 1, t, null, "attention", qv.map(_ * 0.9f)))
      }
    assert(check("titles", index(groups, 1), q, 6, 1.0, 0.0, 1) == 6)
    check("no strong anchors", index(some, 1), "뭐야?", 5, 1.0, 0.0, 2)
  }
}

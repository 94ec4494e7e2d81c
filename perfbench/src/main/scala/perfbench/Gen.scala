package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded inputs. Every corpus, query pool and batch schedule the
  * benchmark feeds the engine comes from here; the same seed always
  * gives the same inputs. Document texts come from the sf0.1
  * `documents` table; the seed picks their titles and the questions. */
object Gen {

  /** The words the sf0.1 `documents` texts are made of. */
  val Vocab: Array[String] = Array("fast", "spark", "line", "small", "customer",
    "group", "row", "the", "query", "stream", "value", "hash", "batch", "sort",
    "data", "big", "filter", "key", "agg", "scan", "slow", "table", "part", "a",
    "merge", "window", "order", "column", "join", "vector")
  /** Title stems of the search corpus: ASCII and Hangul/Han stems so the
    * anchor predicate's non-ASCII branch runs on titles too. */
  val TitleStems: Array[String] = Array("spark", "vector", "index", "stream",
    "검색", "벡터", "색인", "数据", "向量", "join", "window", "batch")

  def rnd(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + salt)

  final case class Doc(id: Long, title: String, text: String, lang: String)

  /** The `documents` table's (text, lang) pairs in doc_id order. */
  def documents(spark: SparkSession, data: String): Array[(String, String)] =
    spark.read.parquet(s"$data/documents.parquet").orderBy("doc_id")
      .select("text", "lang").collect().map(r => (r.getString(0), r.getString(1)))

  /** The search corpus: `n` documents replicating `texts` in order, each
    * under a seeded title (stem + salt number), so replicated texts land
    * in distinct per-title diversification groups. */
  def searchDocs(texts: Array[(String, String)], seed: Long, n: Int): Array[Doc] = {
    val r = rnd(seed, 11)
    Array.tabulate(n) { i =>
      val (text, lang) = texts(i % texts.length)
      Doc(i, s"${TitleStems(r.nextInt(TitleStems.length))} ${r.nextInt(1000000)}", text, lang)
    }
  }

  val DocSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("title", StringType),
    StructField("body", StringType), StructField("lang", StringType)))

  def docsFrame(spark: SparkSession, docs: Seq[Doc], parts: Int): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        docs.map(d => Row(d.id, d.title, d.text, d.lang)), parts),
      DocSchema)

  /** Search questions: a title stem plus one or two vocabulary words,
    * in the corpus's languages (Korean/Chinese question frames too). */
  def questions(seed: Long, n: Int, salt: Long = 21): Array[String] = {
    val r = rnd(seed, salt)
    val frames = Array("what is %s", "explain %s", "%s 무엇인가", "%s 설명", "%s 是什么")
    Array.fill(n) {
      val stem = TitleStems(r.nextInt(TitleStems.length))
      val w = Vocab(r.nextInt(Vocab.length)) + " " + Vocab(r.nextInt(Vocab.length))
      frames(r.nextInt(frames.length)).format(s"$stem $w")
    }
  }
}

object Files {
  def sizeOf(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles()).map(_.map(c => sizeOf(c.getPath)).sum).getOrElse(0L)
    else f.length()
  }
  def delete(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(c => delete(c.getPath)))
    f.delete()
  }
}

package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** The ingest/index-build path (SURVEY §3.2, ref
  * enhanced_internal_db_service.py:167-228): table scan → schema
  * inference → row→expanded-document → chunk split → embed → write
  * partitioned parquet index.
  *
  * Spark shape: every stage is a row-local DataFrame transform
  * (expansion = projections + small UDFs, chunking = posexplode of a
  * pure-JVM splitter, embedding = one UDF pass). The one shuffle hashes
  * the chunks by `doc_id` before they are embedded ([[buildIndex]]).
  */
object Ingest {

  /** Inferred ingest schema: which columns carry id/title/text.
    * Ref: enhanced_internal_db_service.py:454-473. */
  final case class IngestSchema(idCol: Option[String], titleCol: Option[String],
                                textCols: Seq[String], allCols: Seq[String])

  private val TitleCandidates = Set("title", "name", "term", "keyword", "subject", "heading")
  private val TextCandidates = Set("body", "content", "description", "details",
    "text", "summary", "note", "notes", "paragraph", "article")
  private val IdCandidates = Set("id", "pk", "gid", "uid")

  /** Pure schema-inference port: explicit overrides win; otherwise
    * first column whose lowercase name is a candidate; id falls back
    * to the first column, text to every non-title column. */
  def inferSchema(columns: Seq[String], idCol: Option[String] = None,
                  titleCol: Option[String] = None,
                  textCols: Option[Seq[String]] = None): IngestSchema = {
    def lower(c: String) = c.toLowerCase(java.util.Locale.ROOT)
    def pick(cands: Set[String]) = columns.find(c => cands.contains(lower(c)))
    val id = idCol.orElse(pick(IdCandidates)).orElse(columns.headOption)
    val title = titleCol.orElse(pick(TitleCandidates))
    val texts0 = textCols.getOrElse(columns.filter(c => TextCandidates.contains(lower(c))))
    val texts = if (texts0.nonEmpty) texts0 else columns.filterNot(title.contains)
    IngestSchema(id, title, texts, columns)
  }

  /** Two-sentence guarantee (ref :581-589): first two sentences of the
    * text, padded with a fixed filler when shorter. */
  def ensureTwoSentences(text: String): String = {
    val parts = text.split("(?<=[.!?。])\\s+").map(_.trim).filter(_.nonEmpty)
    if (parts.length >= 2) parts.take(2).mkString(" ")
    else if (parts.length == 1) parts(0) + " 추가적인 설명은 본문에 포함되어 있다."
    else "이 항목은 데이터베이스에 기술되어 있으며, 세부 내용은 본문을 참조한다."
  }

  private val twoSentencesUdf = udf(ensureTwoSentences _)

  /** Row→expanded-document transform (ref :542-579): joins the text
    * columns, derives the topic term OO (title, else first word, else
    * "항목"), builds the Q&A-style expanded text with the "passage: "
    * prefix, and a string metadata map (text cols truncated to 3000).
    * Output: doc_id, title, oo, content, metadata. */
  def expandDocuments(df: DataFrame, schema: IngestSchema): DataFrame = {
    val stringTextCols = schema.textCols.filter(c =>
      df.schema.fields.exists(f => f.name == c && f.dataType == StringType))
    val baseArr = filter(
      array(stringTextCols.map(c => trim(col(c))): _*),
      x => x.isNotNull && length(x) > 0)
    val base = coalesce(array_join(baseArr, " "), lit(""))
    val titleC = schema.titleCol.map(c => coalesce(col(c).cast("string"), lit("")))
      .getOrElse(lit(""))
    val oo = when(length(trim(titleC)) > 0, trim(titleC))
      .when(length(base) > 0, element_at(split(base, "\\s+"), 1))
      .otherwise(lit("항목"))
    val twoBase = twoSentencesUdf(base)
    val twoDef = twoSentencesUdf(
      when(length(base) > 0, base)
        .otherwise(concat(oo, lit("에 대한 설명이 데이터베이스에 포함되어 있다."))))
    val expanded = concat(
      lit("[정의] "), oo, lit("는 무엇인가? "), twoDef, lit("\n"),
      lit("[역할] "), oo, lit("의 역할은 무엇인가? "), twoBase, lit("\n"),
      lit("[설명] "), oo, lit("를 설명하라: "), twoBase, lit("\n"),
      lit("[키워드] "), oo, lit(", 정의, 역할, 설명, 개요, 특징, 장점, 한계"))
    val metaPairs: Seq[Column] =
      Seq(lit("OO"), oo) ++
        schema.idCol.toSeq.flatMap(c => Seq(lit("id"), col(c).cast("string"))) ++
        schema.titleCol.toSeq.flatMap(c => Seq(lit("title"), col(c).cast("string"))) ++
        stringTextCols.flatMap(c => Seq(lit(c), substring(col(c), 1, 3000)))
    df.select(
      schema.idCol.map(c => col(c).cast("long")).getOrElse(lit(null)).as("doc_id"),
      titleC.as("title"),
      oo.as("oo"),
      concat(lit("passage: "), expanded, lit("\n\n"), base).as("content"),
      map(metaPairs: _*).as("metadata"))
  }

  def chunkUdf(chunkSize: Int, overlap: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((s: String) => Chunker.split(s, chunkSize, overlap))

  /** Full index build: expand → chunk (posexplode) → hash-partition by
    * doc_id → embed → stamp save_name. Write with
    * `.write.partitionBy("save_name").parquet(dir)` (S9/S10: the
    * engine's replacement for the FAISS index directory). Chunk ids
    * are (doc_id, chunk_seq)-derived and deterministic.
    * Defaults mirror the reference config: 700/120, 1024-dim.
    *
    * Partitioning: `repartition(doc_id)` with no count, so Spark's
    * shuffle partitions (the core count under `Sessions.local`) decide
    * it, and the embedding work is spread evenly where posexplode's
    * per-document chunk counts are not. It also cuts the lineage: a
    * task over the cached index carries a shuffle partition's spec,
    * not the partition of the input it reads through, which for a
    * parallelized input holds that share of the source rows (over
    * 200 KB per task at 5,000 documents). */
  def buildIndex(df: DataFrame, schema: IngestSchema, saveName: String,
                 chunkSize: Int = 700, overlap: Int = 120,
                 dim: Int = HashEmbedder.DefaultDim): DataFrame = {
    val chunked = expandDocuments(df, schema)
      .select(col("doc_id"), col("title"), col("oo"), col("metadata"),
        posexplode(chunkUdf(chunkSize, overlap)(col("content")))
          .as(Seq("chunk_seq", "content")))
    chunked
      .repartition(col("doc_id"))
      .withColumn("chunk_id", col("doc_id") * 10000 + col("chunk_seq"))
      .withColumn("embedding", HashEmbedder.embedCol(col("content"), dim))
      .withColumn("save_name", lit(saveName))
      .select("save_name", "chunk_id", "doc_id", "chunk_seq", "title", "oo",
        "content", "metadata", "embedding")
  }
}

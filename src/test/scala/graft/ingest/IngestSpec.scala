package graft.ingest

import graft.SparkSpec
import graft.fixtures.Fixtures
import graft.functions.VectorFunctions
import org.apache.spark.sql.functions._

class IngestSpec extends SparkSpec {
  import spark.implicits._

  test("inferSchema: knowledge columns → id/term/[description,role,details]") {
    val s = Ingest.inferSchema(Seq("id", "term", "description", "role", "details", "updated_at"))
    assert(s.idCol.contains("id"))
    assert(s.titleCol.contains("term"))
    assert(s.textCols == Seq("description", "details")
      || s.textCols == Seq("description", "role", "details"))
  }

  test("inferSchema fallbacks: no candidates → first col id, all non-title text") {
    val s = Ingest.inferSchema(Seq("c1", "c2", "c3"))
    assert(s.idCol.contains("c1"))
    assert(s.titleCol.isEmpty)
    assert(s.textCols == Seq("c1", "c2", "c3"))
  }

  test("inferSchema overrides win") {
    val s = Ingest.inferSchema(Seq("a", "b", "c"), idCol = Some("c"),
      titleCol = Some("a"), textCols = Some(Seq("b")))
    assert(s == Ingest.IngestSchema(Some("c"), Some("a"), Seq("b"), Seq("a", "b", "c")))
  }

  test("ensureTwoSentences: 2+ → first two; 1 → padded; empty → default") {
    assert(Ingest.ensureTwoSentences("One. Two. Three.") == "One. Two.")
    assert(Ingest.ensureTwoSentences("Only one.")
      == "Only one. 추가적인 설명은 본문에 포함되어 있다.")
    assert(Ingest.ensureTwoSentences("")
      == "이 항목은 데이터베이스에 기술되어 있으며, 세부 내용은 본문을 참조한다.")
  }

  test("expandDocuments: OO from title, passage prefix, metadata map") {
    val schema = Ingest.inferSchema(Fixtures.knowledge(spark).columns.toSeq)
    val docs = Ingest.expandDocuments(Fixtures.knowledge(spark), schema)
    assert(docs.count() == 7)
    val row = docs.filter($"doc_id" === 2).head
    assert(row.getAs[String]("oo") == "Self-Attention")
    val content = row.getAs[String]("content")
    assert(content.startsWith("passage: [정의] Self-Attention는 무엇인가?"))
    assert(content.contains("[키워드] Self-Attention, 정의, 역할, 설명"))
    val meta = row.getAs[Map[String, String]]("metadata")
    assert(meta("OO") == "Self-Attention" && meta("id") == "2")
  }

  test("buildIndex end-to-end: chunks exist, embeddings unit-norm, partition column stamped") {
    val schema = Ingest.inferSchema(Fixtures.knowledge(spark).columns.toSeq)
    val idx = Ingest.buildIndex(Fixtures.knowledge(spark), schema, "knowledge", dim = 256)
    val n = idx.count()
    assert(n >= 7) // at least one chunk per row
    val norms = idx.select(VectorFunctions.l2Norm($"embedding")).as[Double].collect()
    assert(norms.forall(x => math.abs(x - 1.0) < 1e-5))
    assert(idx.select("save_name").distinct().as[String].head() == "knowledge")
    // deterministic chunk ids
    val ids = idx.select("chunk_id").as[Long].collect().sorted
    assert(ids.distinct.length == ids.length)
  }

  test("index round-trips through partitioned parquet (S9/S10)") {
    val dir = tempDir("graft_idx_")
    val schema = Ingest.inferSchema(Fixtures.knowledge(spark).columns.toSeq)
    Ingest.buildIndex(Fixtures.knowledge(spark), schema, "knowledge", dim = 64)
      .write.mode("overwrite").partitionBy("save_name").parquet(dir)
    val back = spark.read.parquet(dir)
    assert(back.filter($"save_name" === "knowledge").count() > 0)
    assert(back.schema.fieldNames.contains("embedding"))
  }
}

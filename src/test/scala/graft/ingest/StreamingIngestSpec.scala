package graft.ingest

import graft.SparkSpec
import graft.fixtures.Fixtures
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** S10 as a stream: documents arriving as files are expanded, chunked
  * and embedded incrementally (every ingest stage is row-local, so the
  * batch pipeline IS the streaming pipeline) and appended to the
  * parquet index — the continuous-indexing shape a 100 TB corpus
  * needs instead of full rebuilds. */
class StreamingIngestSpec extends SparkSpec {
  import spark.implicits._

  test("file-stream ingest appends chunks+embeddings to the index") {
    val inDir = tempDir("graft_sin_")
    val outDir = tempDir("graft_sout_") + "/index"
    val ckDir = tempDir("graft_sck_")

    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("term", StringType),
      StructField("description", StringType), StructField("role", StringType),
      StructField("details", StringType)))
    val ingestSchema = Ingest.inferSchema(schema.fieldNames.toSeq)

    val stream = spark.readStream.schema(schema).parquet(inDir)
    val indexed = Ingest.buildIndex(stream, ingestSchema, "knowledge_stream", dim = 64)
    val q = indexed.writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckDir)
      .outputMode("append").start()
    try {
      // batch 1: first 3 knowledge rows arrive
      Fixtures.knowledge(spark).filter($"id" <= 3)
        .select("id", "term", "description", "role", "details")
        .write.mode("append").parquet(inDir)
      q.processAllAvailable()
      val n1 = spark.read.parquet(outDir).count()
      assert(n1 >= 3)
      // batch 2: the rest arrive, index grows incrementally
      Fixtures.knowledge(spark).filter($"id" > 3)
        .select("id", "term", "description", "role", "details")
        .write.mode("append").parquet(inDir)
      q.processAllAvailable()
      val idx = spark.read.parquet(outDir)
      assert(idx.count() > n1)
      assert(idx.select(countDistinct("doc_id")).head.getLong(0) == 7)
      // the streamed index is immediately queryable
      val kept = graft.search.SearchPipeline.search(idx, "FAISS가 뭐야?",
        topK = 3, margin = 0.8, simFloor = 0.0, dim = 64)
      assert(kept.select("oo").as[String].collect().contains("FAISS"))
    } finally q.stop()
  }
}

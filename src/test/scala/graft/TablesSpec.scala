package graft

/** `loadParallel` sizes its input through Hadoop's FileSystem: a table
  * named by a plain path and by a `file://` URI has the same, non-zero
  * size, for a single parquet file and for a parquet directory. */
class TablesSpec extends SparkSpec {

  test("inputBytes: a plain path and a file:// URI give equal, non-zero sizes") {
    val dir = tempDir("graft_tables_")
    spark.range(2000).write.parquet(s"$dir/t.parquet")
    val local = new java.io.File(s"$dir/t.parquet").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    val plain = Tables.inputBytes(spark, dir, "t")
    assert(plain >= local && local > 0)
    assert(Tables.inputBytes(spark, s"file://$dir", "t") == plain)
    val sf = "/root/testdata/sf0.001"
    val region = Tables.inputBytes(spark, sf, "region")
    assert(region == new java.io.File(s"$sf/region.parquet").length() && region > 0)
    assert(Tables.inputBytes(spark, s"file://$sf", "region") == region)
  }
}

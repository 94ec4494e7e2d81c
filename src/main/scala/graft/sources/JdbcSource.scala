package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** S2 — the JDBC table-scan front door (ref
  * enhanced_internal_db_service.py:475-510, db_llm_service.py:25-35:
  * the reference ingests straight from a live relational DB). Spark's
  * JDBC source gives partitioned parallel reads and predicate pushdown
  * for free; the engine only needs to standardize the options.
  *
  * Tests and the registered query use embedded Derby (on the Spark
  * classpath) as the stand-in database; any JDBC URL works the same.
  *
  * Scale notes:
  *  - predicates on numeric/date columns reach the remote DB as
  *    `PushedFilters` in the JDBC scan (asserted in PlanSpec) — the
  *    database does the filtering, not the cluster;
  *  - a production read of a large table should also set
  *    `partitionColumn/lowerBound/upperBound/numPartitions` so the scan
  *    issues N range-bounded queries in parallel instead of one cursor
  *    ([[readPartitioned]]).
  */
object JdbcSource {

  /** Derby's error log goes to [[derbyLog]] instead of a `derby.log`
    * file in the working dir. Derby reads the setting once, when its
    * engine boots, so it is set before the first connection. */
  private lazy val quietDerby: Unit =
    System.setProperty("derby.stream.error.method", "graft.sources.JdbcSource.derbyLog")

  /** Derby's error log sink (named by [[quietDerby]]; Derby calls it by
    * reflection): discarded, since every failure also reaches the
    * caller as a `SQLException`. */
  def derbyLog: java.io.OutputStream = java.io.OutputStream.nullOutputStream()

  /** Embedded-Derby URL rooted at `dir` (created on first use). */
  def derbyUrl(dir: String): String = {
    quietDerby
    s"jdbc:derby:$dir/db;create=true"
  }

  /** Run DDL/DML statements over a raw connection (fixture setup for
    * dialect tests; the engine's data path never goes through here). */
  def execute(url: String, statements: Seq[String]): Unit = {
    val conn = java.sql.DriverManager.getConnection(url)
    try statements.foreach { sql =>
      val st = conn.createStatement()
      try st.executeUpdate(sql) finally st.close()
    } finally conn.close()
  }

  def writeTable(df: DataFrame, url: String, table: String): Unit =
    df.write.format("jdbc")
      .option("url", url).option("dbtable", table)
      .mode(SaveMode.Overwrite).save()

  def readTable(spark: SparkSession, url: String, table: String): DataFrame =
    spark.read.format("jdbc")
      .option("url", url).option("dbtable", table).load()

  /** Range-partitioned parallel read — the 100 TB shape: `num` executors
    * each issue one bounded query on `partCol`. */
  def readPartitioned(spark: SparkSession, url: String, table: String,
                      partCol: String, lower: Long, upper: Long,
                      num: Int): DataFrame =
    spark.read.format("jdbc")
      .option("url", url).option("dbtable", table)
      .option("partitionColumn", partCol)
      .option("lowerBound", lower).option("upperBound", upper)
      .option("numPartitions", num).load()
}

package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Relational

/** The per-session engine state: entries follow their input files,
  * `close()` releases every dir and Derby database the state made,
  * and concurrent requests for one key share one build. */
class EngineStateSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq

  /** A session of its own (own state) over the shared context. */
  private def withSession[T](body: SparkSession => T): T = {
    val s = spark.newSession()
    try body(s) finally EngineState.of(s).close()
  }

  test("a table rewritten under the same dir gives new results from every cached path") {
    val dir = tempDir("engine_state_spec_")
    try withSession { s =>
      import s.implicits._
      val emb = s.read.parquet(s"$sf/embeddings.parquet")
      def writeAll(shift: Long, keysFrom: Long): Unit = {
        // vec 0 (the queryVec probe) takes vec `shift`'s embedding
        emb.withColumn("vec_id",
            when(col("vec_id") === 0L, shift).when(col("vec_id") === shift, 0L)
              .otherwise(col("vec_id")))
          .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
        s.range(keysFrom, keysFrom + 10).select(col("id").as("kk"))
          .write.mode("overwrite").parquet(s"$dir/keys.parquet")
      }
      val fact = s.range(40).select(col("id").as("k"))
      def probe(): Seq[Long] =
        Relational.bitmapSemiJoin(fact, Tables.load(s, dir, "keys"), "k", "kk", reuse = true)
          .as[Long].collect().toSeq.sorted
      def knn(session: SparkSession): Seq[String] =
        rows(SparkEntry.queries("v2_knn_norm")(session, dir))

      writeAll(shift = 1L, keysFrom = 1L)
      val knn1 = knn(s)
      assert(probe() == (1L to 10L))

      writeAll(shift = 2L, keysFrom = 20L)
      assert(Tables.load(s, dir, "keys").as[Long].collect().toSeq.sorted == (20L to 29L))
      val knn2 = knn(s)
      assert(knn2 != knn1, "the probe vector changed, so must the neighbours")
      withSession(cold => assert(knn2 == knn(cold)))
      assert(probe() == (20L to 29L))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("close() leaves no dir the state created and shuts its Derby databases down") {
    val s = spark.newSession()
    val state = EngineState.of(s)
    Seq("ann_autoswap", "ann_pq", "s2_jdbc", "s2_mysql_types", "s10_append",
        "s11_crud", "index_append_dedup")
      .foreach(q => SparkEntry.queries(q)(s, sf).collect())
    val root = state.tempRoot.getOrElse(fail("no temp root was made"))
    val made = new java.io.File(root).list().toSeq
    Seq("annidx_", "s2_jdbc_", "medication_db_", "s10_", "s11_", "apdedup_")
      .foreach(p => assert(made.exists(_.startsWith(p)), s"$p missing from $made"))
    val derbyDirs = made.filter(d => d.startsWith("s2_jdbc_") || d.startsWith("medication_db_"))
      .map(d => s"$root/$d")
    state.close()
    assert(!Files.exists(Paths.get(root)), s"$root survived close()")
    derbyDirs.foreach { d =>
      // a database still booted would accept a connection after its
      // files are gone
      intercept[java.sql.SQLException](
        java.sql.DriverManager.getConnection(s"jdbc:derby:$d/db").close())
    }
    assert(!(EngineState.of(s) eq state), "a closed state is not handed out again")
    EngineState.of(s).close()
  }

  test("a new temp root sweeps the roots of dead processes and keeps live ones") {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val child = new ProcessBuilder("true").start()
    child.waitFor()
    val dead = Files.createTempDirectory(tmp, s"graft_state_${child.pid}_")
    Files.createFile(dead.resolve("left_behind"))
    val live = Files.createTempDirectory(tmp, s"graft_state_${ProcessHandle.current.pid}_")
    val unstamped = Files.createTempDirectory(tmp, "graft_state_")
    try withSession { s =>
      val made = Paths.get(EngineState.of(s).newDir("sweep_"))
      assert(made.getParent.getFileName.toString
        .startsWith(s"graft_state_${ProcessHandle.current.pid}_"))
      assert(!Files.exists(dead), s"$dead survived the sweep")
      assert(Files.isDirectory(live) && Files.isDirectory(unstamped))
    } finally Seq(dead, live, unstamped).foreach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(d.toFile))
  }

  test("8 threads asking for one ANN index see exactly one build") {
    withSession { s =>
      val pool = Executors.newFixedThreadPool(8)
      val go = new CountDownLatch(1)
      try {
        val results = (1 to 8).map(_ => pool.submit(() => {
          go.await()
          rows(SparkEntry.annSwappedSearch(s, sf))
        }))
        go.countDown()
        val out = results.map(_.get(5, TimeUnit.MINUTES))
        assert(out.distinct.size == 1)
        val root = EngineState.of(s).tempRoot.getOrElse(fail("no temp root was made"))
        assert(new java.io.File(root).list().count(_.startsWith("annidx_")) == 1)
      } finally pool.shutdownNow()
    }
  }
}

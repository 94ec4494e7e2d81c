package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

import graft.operators.VectorIndex

/** The engine's derived state for one `SparkSession`: loaded tables,
  * query vectors, built probes, ANN indexes and fixtures, plus the
  * temp dirs and embedded Derby databases they live in. Reached
  * through [[EngineState.of]]; released by [[close]], which also runs
  * when the session's `SparkContext` stops.
  *
  * Every entry is keyed by its logical key plus a snapshot of its
  * input files (name, size and mtime of each, listed through Hadoop's
  * `FileSystem`), so a table rewritten under the same path is a new
  * key: the next request rebuilds instead of serving the old result.
  * A key is built at most once, however many threads ask for it at
  * the same time; different keys build concurrently. */
final class EngineState private (spark: SparkSession) {

  /** One entry: the snapshot it was built from, and its value, built
    * on first read (the lazy val's lock is what makes concurrent
    * requesters of one key share a single build). */
  private final class Cell(val snapshot: Seq[(String, Long, Long)], build: () => Any) {
    var used = 0L
    lazy val value: Any = build()
  }

  // guarded by `this`
  private val cells = new java.util.HashMap[Any, Cell]()
  private var clock = 0L
  private var root: Path = null
  private val derbyDirs = scala.collection.mutable.ArrayBuffer.empty[String]
  private var closed = false

  private val indexes =
    new java.util.concurrent.ConcurrentHashMap[String, (VectorIndex.Model, Int)]()

  private val onStop = new SparkListener {
    override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = release()
  }
  spark.sparkContext.addSparkListener(onStop)

  /** The value for `key` built over the current contents of `inputs`
    * (table or dir paths), building it if the key is new or an input
    * changed. `bound` > 0 keeps at most that many entries of the key's
    * class, dropping the least recently used. A build that throws
    * leaves no entry. */
  def getOrBuild[V](key: Any, inputs: Seq[String] = Nil, bound: Int = 0)
                   (build: => V): V = {
    val snap = snapshot(inputs)
    val cell = synchronized {
      requireOpen()
      val hit = cells.get(key)
      val c =
        if (hit != null && hit.snapshot == snap) hit
        else {
          val c = new Cell(snap, () => build)
          cells.put(key, c)
          if (bound > 0) evict(key.getClass, bound)
          c
        }
      clock += 1
      c.used = clock
      c
    }
    try cell.value.asInstanceOf[V]
    catch { case e: Throwable =>
      synchronized { if (cells.get(key) eq cell) cells.remove(key) }
      throw e
    }
  }

  private def evict(kind: Class[_], bound: Int): Unit = {
    val same = cells.asScala.toSeq.filter(_._1.getClass == kind)
    same.sortBy(_._2.used).take(same.size - bound).foreach(e => cells.remove(e._1))
  }

  private def snapshot(inputs: Seq[String]): Seq[(String, Long, Long)] =
    inputs.flatMap { p =>
      val path = new HPath(p)
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      def walk(st: FileStatus): Seq[(String, Long, Long)] =
        if (st.isDirectory) fs.listStatus(st.getPath).sortBy(_.getPath.getName).toSeq.flatMap(walk)
        else Seq((st.getPath.toString, st.getLen, st.getModificationTime))
      try walk(fs.getFileStatus(path))
      catch { case _: java.io.FileNotFoundException => Seq((p, -1L, -1L)) }
    }

  /** A new empty dir under this state's temp root, deleted by [[close]].
    * The root is `graft_state_<pid>_…`; making it first sweeps the
    * roots that dead processes left beside it. */
  def newDir(prefix: String): String = synchronized {
    requireOpen()
    if (root == null) {
      root = Files.createTempDirectory(s"${EngineState.RootPrefix}${ProcessHandle.current.pid}_")
      EngineState.sweepStaleRoots(root.getParent)
    }
    Files.createTempDirectory(root, prefix).toString
  }

  /** The temp root, once a dir has been made under it. */
  private[graft] def tempRoot: Option[String] = synchronized(Option(root).map(_.toString))

  /** URL of a new embedded Derby database under the temp root; [[close]]
    * shuts it down before deleting its files. */
  def newDerbyUrl(prefix: String): String = {
    val dir = newDir(prefix)
    synchronized(derbyDirs += dir)
    graft.sources.JdbcSource.derbyUrl(dir)
  }

  /** Opts the cluster-partitioned table at `path` into the ANN probe
    * swap ([[graft.plans.RewriteCosineTopKToProbes]]) for this session:
    * top-k cosine queries over it are answered by probing the `nprobe`
    * nearest of `model`'s clusters. */
  def registerIndex(path: String, model: VectorIndex.Model, nprobe: Int): Unit =
    indexes.put(normPath(path), (model, nprobe))

  /** The registration of the first of `rootPaths` that has one. */
  def indexFor(rootPaths: Seq[String]): Option[(VectorIndex.Model, Int)] =
    rootPaths.iterator.flatMap(p => Option(indexes.get(normPath(p)))).nextOption()

  private def normPath(path: String): String = new HPath(path).toUri.getPath

  private def requireOpen(): Unit =
    if (closed) throw new IllegalStateException("engine state is closed")

  /** Shuts down the Derby databases this state booted, drops every
    * entry and index registration, and deletes the temp root. The next
    * [[EngineState.of]] for the session starts an empty state. */
  def close(): Unit = {
    spark.sparkContext.removeSparkListener(onStop)
    release()
  }

  // also the stop listener's body, which must not remove itself: it
  // runs on the listener bus thread while the bus is stopping
  private def release(): Unit = {
    val (dbs, dir) = synchronized {
      if (closed) return
      closed = true
      cells.clear()
      indexes.clear()
      (derbyDirs.toList, Option(root))
    }
    EngineState.forget(spark, this)
    dbs.foreach { d =>
      try java.sql.DriverManager.getConnection(s"jdbc:derby:$d/db;shutdown=true").close()
      catch { case _: java.sql.SQLException => () } // 08006: shut down
    }
    dir.foreach(d => org.apache.commons.io.FileUtils.deleteQuietly(d.toFile))
  }
}

object EngineState {
  private val RootPrefix = "graft_state_"
  private val StampedRoot = s"$RootPrefix(\\d+)_.*".r

  /** Deletes the `graft_state_<pid>_*` dirs in `parent` whose pid names
    * no live process: roots left by a JVM that ended without stopping
    * its `SparkContext`. A root whose pid is alive, or whose name
    * carries no pid, is kept. */
  private def sweepStaleRoots(parent: Path): Unit =
    Option(parent.toFile.listFiles()).toSeq.flatten.foreach { dir =>
      dir.getName match {
        case StampedRoot(pid) if pid.toLongOption.exists(ProcessHandle.of(_).isEmpty) =>
          org.apache.commons.io.FileUtils.deleteQuietly(dir)
        case _ => ()
      }
    }

  // guarded by itself; SparkSession keeps identity equality
  private val states = new java.util.HashMap[SparkSession, EngineState]()

  /** The session's state, created on first use. */
  def of(spark: SparkSession): EngineState = states.synchronized {
    states.computeIfAbsent(spark, s => new EngineState(s))
  }

  private def forget(spark: SparkSession, state: EngineState): Unit =
    states.synchronized { states.remove(spark, state) }
}

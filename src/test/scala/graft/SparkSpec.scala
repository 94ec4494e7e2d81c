package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (small core count — suites run in
  * one JVM via sbt's forked test run). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** A new temp dir, deleted with its contents when the JVM exits. */
  def tempDir(prefix: String): String = SparkSpec.tempDir(prefix)
}

object SparkSpec {
  lazy val session: SparkSession = Sessions.local("4")

  private val dirs = new ConcurrentLinkedQueue[Path]()
  private lazy val deleteOnExit: Unit =
    sys.addShutdownHook(dirs.forEach(d => FileUtils.deleteQuietly(d.toFile)))

  def tempDir(prefix: String): String = {
    deleteOnExit
    val dir = Files.createTempDirectory(prefix)
    dirs.add(dir)
    dir.toString
  }
}

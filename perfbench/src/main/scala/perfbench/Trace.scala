package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One traced call: name, start, end, parent span and operation id. */
final case class Span(id: Long, name: String, startNs: Long, endNs: Long,
                      parent: Long, op: String)

/** In-memory span recorder. Spans are kept in memory and written out
  * once at exit. With tracing off, [[span]] only runs its body. */
final class Trace(val enabled: Boolean) {

  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val currentOp = ThreadLocal.withInitial[String](() => "")

  def withOp[T](op: String)(body: => T): T = {
    val prev = currentOp.get
    currentOp.set(op)
    try body finally currentOp.set(prev)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        spans.add(Span(id, name, t0, t1, parent, currentOp.get))
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  def durationsMs(name: String): Seq[Double] =
    all.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e6)

  /** Self time per span name (duration minus direct children), in ms. */
  def selfTimesMs: Map[String, Double] = {
    val ss = all
    val childSum = mutable.Map.empty[Long, Long].withDefaultValue(0L)
    ss.foreach(s => if (s.parent != 0L) childSum(s.parent) += s.endNs - s.startNs)
    ss.groupBy(_.name).map { case (n, xs) =>
      n -> xs.map(s => (s.endNs - s.startNs - childSum(s.id)) / 1e6).sum
    }
  }

  def writeJsonl(path: String): Unit = {
    val base = all.map(_.startNs).minOption.getOrElse(0L)
    val lines = all.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"start_us":${(s.startNs - base) / 1000},""" +
        s""""end_us":${(s.endNs - base) / 1000},"parent":${s.parent},"op":${Json.str(s.op)}}"""
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), lines.mkString("", "\n", "\n"))
  }
}

/** Per-operation Spark counters. Every benchmark call runs under a job
  * group naming its operation; this listener attributes jobs, stages
  * and tasks to that group. */
final class OpCounters extends SparkListener {
  final class C {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, gcMs = 0L
    var inputBytes, shuffleWrite, shuffleRead, spill, outputBytes, recordsOut = 0L
    def fields: Seq[(String, Long)] = Seq("jobs" -> jobs, "stages" -> stages,
      "tasks" -> tasks, "run_ms" -> runMs, "cpu_ms" -> cpuNs / 1000000L, "gc_ms" -> gcMs,
      "input_bytes" -> inputBytes, "shuffle_write_bytes" -> shuffleWrite,
      "shuffle_read_bytes" -> shuffleRead, "spill_bytes" -> spill,
      "output_bytes" -> outputBytes, "records_out" -> recordsOut)
  }
  private val byGroup = mutable.Map.empty[String, C]
  private val jobGroup = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val started = new AtomicLong(0)
  private val ended = new AtomicLong(0)
  /** (group, start ns, end ns) of every finished job, for the
    * driver-only share of an operation's wall. */
  val jobSpans = new ConcurrentLinkedQueue[(String, Long, Long)]()

  private def c(g: String): C = byGroup.getOrElseUpdate(g, new C)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    started.incrementAndGet()
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobGroup(e.jobId) = g
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(s => stageGroup(s) = g)
    c(g).jobs += 1
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val g = jobGroup.getOrElse(e.jobId, "")
    // event times (ms), not delivery times: the listener bus runs behind
    jobSpans.add((g, jobStart.getOrElse(e.jobId, e.time) * 1000000L, e.time * 1000000L))
    ended.incrementAndGet()
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    c(stageGroup.getOrElse(e.stageInfo.stageId, "")).stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val x = c(stageGroup.getOrElse(e.stageId, ""))
    x.tasks += 1
    if (m != null) {
      x.runMs += m.executorRunTime
      x.cpuNs += m.executorCpuTime
      x.gcMs += m.jvmGCTime
      x.inputBytes += m.inputMetrics.bytesRead
      x.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      x.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      x.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      x.outputBytes += m.outputMetrics.bytesWritten
      x.recordsOut += m.outputMetrics.recordsWritten
    }
  }

  /** Waits until every started job's end event has been delivered. */
  def drain(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var stable = 0
    while (stable < 3 && System.currentTimeMillis() < deadline) {
      Thread.sleep(50)
      if (started.get == ended.get) stable += 1 else stable = 0
    }
  }

  def get(group: String): Option[C] = synchronized(byGroup.get(group))
}

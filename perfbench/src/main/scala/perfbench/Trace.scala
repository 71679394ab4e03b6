package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._

/** One timed interval around a call into a layer. `stmt` is the statement
  * occurrence it belongs to (0 for set-up), `parent` the enclosing span's
  * id (0 at the top). Times are epoch milliseconds with sub-ms digits, on
  * the same clock as Spark's task launch and finish times. */
final case class Span(id: Long, parent: Long, stmt: Long, name: String,
    startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** Span recorder. Disabled, it runs the body and records nothing; enabled,
  * it keeps every span in memory until [[write]] at the end of the run. */
final class Tracer(val enabled: Boolean) {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  private val ids = new AtomicLong(0)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val stmtOf = ThreadLocal.withInitial[java.lang.Long](() => 0L)
  val spans = new ConcurrentLinkedQueue[Span]()
  /** Counts recorded at layer boundaries, per (statement, name). */
  val counts = new java.util.concurrent.ConcurrentHashMap[(Long, String), Double]()

  def add(name: String, v: Double): Unit =
    if (enabled) counts.merge((stmtOf.get, name), v, _ + _)

  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  def setStmt(stmt: Long): Unit = stmtOf.set(stmt)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get
      stack.set(id :: parents)
      val t0 = nowMs
      try body
      finally {
        spans.add(Span(id, parents.headOption.getOrElse(0L), stmtOf.get, name, t0, nowMs))
        stack.set(parents)
      }
    }

  /** Spans as JSON lines, one per span. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.asScala.toSeq.sortBy(_.id).map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"stmt":${s.stmt},"name":"${s.name}",""" +
        f""""start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Execution counters per statement occurrence, fed by a benchmark-owned
  * listener. Jobs are attributed through the `perfbench.stmt` and
  * `perfbench.phase` local properties the client thread sets before it
  * calls into the engine. */
final class ExecCounters {
  var jobs, constructionJobs, stages, tasks, failedTasks = 0L
  var runMs, busyMs, waitMs, singleTaskStageMs = 0.0
  var inputRows, shuffleWriteBytes, spillBytes, peakExecMem = 0L
  var bytesWritten, rowsWritten = 0L
  val taskIntervals = mutable.ArrayBuffer.empty[(Double, Double)]
}

final class ExecListener extends SparkListener {
  private val byStmt = new java.util.concurrent.ConcurrentHashMap[Long, ExecCounters]()
  private val stageStmt = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stageSubmit = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stageTaskMs = new java.util.concurrent.ConcurrentHashMap[Int, (Double, Double)]()

  def counters(stmt: Long): ExecCounters = byStmt.computeIfAbsent(stmt, _ => new ExecCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val stmt = props.flatMap(p => Option(p.getProperty("perfbench.stmt"))).map(_.toLong).getOrElse(0L)
    val c = counters(stmt)
    c.synchronized {
      c.jobs += 1
      if (props.flatMap(p => Option(p.getProperty("perfbench.phase"))).contains("build"))
        c.constructionJobs += 1
    }
    e.stageIds.foreach(stageStmt.put(_, stmt))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmit.put(e.stageInfo.stageId,
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = counters(stageStmt.getOrDefault(e.stageId, 0L))
    val info = e.taskInfo
    val dur = (info.finishTime - info.launchTime).toDouble
    stageTaskMs.merge(e.stageId, (dur, dur),
      (a, b) => (a._1 + b._1, math.max(a._2, b._2)))
    c.synchronized {
      c.tasks += 1
      if (e.reason != Success) c.failedTasks += 1
      c.busyMs += dur
      c.taskIntervals += ((info.launchTime.toDouble, info.finishTime.toDouble))
      c.waitMs += math.max(0L, info.launchTime - stageSubmit.getOrDefault(e.stageId, info.launchTime))
      Option(e.taskMetrics).foreach { m =>
        c.runMs += m.executorRunTime
        c.inputRows += m.inputMetrics.recordsRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
        c.bytesWritten += m.outputMetrics.bytesWritten
        c.rowsWritten += m.outputMetrics.recordsWritten
      }
    }
  }

  /** A stage counts as single-task bound when one task did more than 80%
    * of the stage's task time; its wall time is then charged to
    * `single_task_stage_ms`. */
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val id = e.stageInfo.stageId
    val c = counters(stageStmt.getOrDefault(id, 0L))
    val (sum, max) = Option(stageTaskMs.remove(id)).getOrElse((0.0, 0.0))
    val wall = for (s <- e.stageInfo.submissionTime; f <- e.stageInfo.completionTime) yield f - s
    c.synchronized {
      c.stages += 1
      if (sum > 0 && max > 0.8 * sum) c.singleTaskStageMs += wall.getOrElse(0L)
    }
    stageSubmit.remove(id)
  }
}

object Intervals {
  /** Length of `[from, to]` not covered by any of `xs`. */
  def uncovered(from: Double, to: Double, xs: Seq[(Double, Double)]): Double = {
    var covered, reach = 0.0
    reach = from
    xs.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
    math.max(0.0, (to - from) - covered)
  }
}

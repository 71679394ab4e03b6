package org.apache.spark.sql.graft

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** What one query did at run time (reference
  * `operator/ExplainAnalyzeOperator.java`): build it, drain its own
  * QueryExecution, and render
  *
  *   - the planning phase times of `QueryExecution.tracker`;
  *   - the Spark jobs started while building and while executing;
  *   - one line per completed stage: tasks, span, the busiest task's
  *     share of the summed task run time, input rows, shuffle read and
  *     write bytes, spill and peak execution memory;
  *   - the FINAL (post-AQE) operator tree with each operator's non-zero
  *     SQLMetrics.
  *
  * `EXPLAIN ANALYZE` (`graft.sqlcompat.Statements`) and `graft.Analyze`
  * both render this text. The listener is attached only while one
  * profiled call runs, and it records only the jobs that carry the
  * call's own job tag, so a concurrent or earlier query never leaks
  * into the profile and an unprofiled statement pays nothing.
  */
object QueryProfile {

  def of(spark: SparkSession)(build: => DataFrame): String = {
    val sc = spark.sparkContext
    // a job tag, not a job group: tags add to whatever group the caller
    // set instead of replacing it
    val tag = s"graft-profile-${java.util.UUID.randomUUID}"
    sc.addJobTag(tag)
    try {
      val rec = new Recorder(tag)
      val df = PlanExec.listening(spark, rec)(build)
      val constructionJobs = rec.jobs
      val t0 = System.nanoTime()
      PlanExec.listening(spark, rec)(
        df.queryExecution.toRdd.foreachPartition(it => while (it.hasNext) it.next()))
      val wallMs = (System.nanoTime() - t0) / 1000000
      val phases = df.queryExecution.tracker.phases
      val sb = new StringBuilder
      sb ++= Seq(QueryPlanningTracker.PARSING, QueryPlanningTracker.ANALYSIS,
        QueryPlanningTracker.OPTIMIZATION, QueryPlanningTracker.PLANNING)
        .flatMap(p => phases.get(p).map(s => s"$p=${s.durationMs} ms"))
        .mkString("phases: ", ", ", "\n")
      sb ++= s"jobs: construction=$constructionJobs, " +
        s"execution=${rec.jobs - constructionJobs}, execution wall=$wallMs ms\n"
      rec.stages.foreach { case (id, s) => sb ++= s"stage $id: ${s.render}\n" }
      sb ++= "operators:\n"
      walk(df.queryExecution.executedPlan, 0, sb)
      sb.toString
    } finally sc.removeJobTag(tag)
  }

  /** The operator tree below `p`, AQE query stages expanded, one line
    * per operator with its non-zero metrics. */
  private def walk(p: SparkPlan, depth: Int, sb: StringBuilder): Unit = {
    val shown = p.metrics.toSeq.sortBy(_._1)
      .filter(_._2.value > 0)
      .map { case (k, m) => s"$k=${m.value}" }
    sb.append("  " * depth).append(p.nodeName)
    if (shown.nonEmpty) sb.append("  [").append(shown.mkString(", ")).append("]")
    sb.append('\n')
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, depth + 1, sb)
      case q: QueryStageExec => walk(q.plan, depth + 1, sb)
      case other => other.children.foreach(walk(_, depth + 1, sb))
    }
  }

  /** Task totals of one stage, summed from its task-end events. */
  private final class StageTotals {
    var span, tasks, runSum, runMax, inputRows, shuffleRead, shuffleWrite, spill, peakMem = 0L

    def render: String = {
      val busiest = if (runSum > 0) runMax.toDouble / runSum else 1.0 / math.max(tasks, 1L)
      f"tasks=$tasks span=$span ms busiest=${busiest * 100}%.0f%% " +
        s"input_rows=$inputRows shuffle_read=$shuffleRead B shuffle_write=$shuffleWrite B " +
        s"spill=$spill B peak_mem=$peakMem B"
    }
  }

  /** Jobs, stages and tasks of the jobs tagged `tag`. Events arrive on
    * the listener-bus thread; readers synchronize on the recorder. */
  private final class Recorder(tag: String) extends SparkListener {
    private var jobCount = 0
    private val stageIds = mutable.Set[Int]()
    private val totals = mutable.TreeMap[Int, StageTotals]()

    def jobs: Int = synchronized(jobCount)
    def stages: Seq[(Int, StageTotals)] = synchronized(totals.toSeq)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val tags = Option(e.properties).flatMap(p => Option(p.getProperty(SparkContext.SPARK_JOB_TAGS)))
      if (tags.exists(_.split(SparkContext.SPARK_JOB_TAGS_SEP).contains(tag))) {
        jobCount += 1
        stageIds ++= e.stageIds
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      if (stageIds(e.stageId) && e.taskMetrics != null) {
        val s = totals.getOrElseUpdate(e.stageId, new StageTotals)
        val m = e.taskMetrics
        s.tasks += 1
        s.runSum += m.executorRunTime
        s.runMax = math.max(s.runMax, m.executorRunTime)
        s.inputRows += m.inputMetrics.recordsRead
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled
        s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      if (stageIds(i.stageId))
        totals.getOrElseUpdate(i.stageId, new StageTotals).span =
          (for (s <- i.submissionTime; c <- i.completionTime) yield c - s).getOrElse(0L)
    }
  }
}

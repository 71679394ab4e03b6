package graft

import java.nio.file.{Files, Paths}

/** Plan-snapshot harness (SURVEY §5.4 — the light version of the
  * reference's golden plan tests, `testing/trino-tests/.../tpch/q01.plan
  * .txt`): dumps `explain("formatted")` for every SparkEntry query so
  * plan regressions (broadcast vs shuffle flips, lost filter pushdown,
  * lost WindowGroupLimit) show up in review diffs. The session has a
  * fixed 4 local cores, not `SparkEntry.cpus`: the snapshots must not
  * depend on the host they are regenerated on.
  *
  * Usage: runMain graft.Explain [sfDir] [outDir]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val outDir = if (args.length > 1) args(1) else "plans"
    val spark = graft.engine.Graft.session("graft-explain", 4)
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        // Expression/plan ids are session-global counters, so adding one
        // query shifts every later snapshot — normalize them away so a
        // plan diff only shows STRUCTURAL change (join strategy flips,
        // lost pushdown), which is what the snapshots exist to catch.
        val stable = plan
          .replaceAll("#\\d+", "#N")
          .replaceAll("plan_id=\\d+", "plan_id=N")
          // JVM lambda identities (class counter + metaspace address +
          // identity hash) change every run for closure-based aggregates
          .replaceAll("Lambda\\$\\d+/0x[0-9a-f]+@[0-9a-f]+", "Lambda@N")
          // lambda variable names carry a session-global counter too
          // (lambda x_32#N): registering one more query shifts them all.
          // The 'lambda ' prefix is REQUIRED: an optional prefix would
          // also rewrite genuinely distinct user columns like a_1#N and
          // a_2#N to the same a_N#N, masking real plan differences.
          .replaceAll("\\b(lambda\\s+)([A-Za-z]\\w*)_\\d+#N", "$1$2_N#N")
          .replaceAll("(?i)(subquery|cte|scalar-subquery)#N, \\[id=#N\\]", "$1#N")
          // streaming operators embed run-scoped identity: processor
          // object hashes, the query runId, and a wall-clock batch
          // timestamp — pure regen noise, never structural.
          .replaceAll("(\\w)@[0-9a-f]{6,10}\\b", "$1@N")
          .replaceAll("runId = [0-9a-f-]{36}", "runId = N")
          // RDD ids are session-global counters too (checkpointed
          // scans print MapPartitionsRDD[<id>])
          .replaceAll("RDD\\[\\d+\\]", "RDD[N]")
          // derived-fixture names embed Graft.srcTag (mtime^size folded
          // over the source parquet files): re-provisioned testdata gets
          // a new tag even though the plan is identical — normalize the
          // tag but keep the sf-dir part, which IS meaningful. This rule
          // runs BEFORE the TS and PATHHASH rules so the sf-dir-prefixed
          // context always wins: otherwise a tag that happens to start
          // 'fff' (or be all digits) normalizes to PATHHASH/TS instead,
          // making the snapshot token value-dependent (regen noise when
          // re-provisioned testdata changes a tag's leading chars). No
          // upper bound on the hex run: bucketed-table keys concatenate
          // two 16-char srcTags into one 32-hex run with no inner word
          // boundary, which a {6,16} bound can never match.
          .replaceAll("(_sf[0-9_.]+_)[0-9a-f]{6,}\\b", "$1SRCTAG")
          .replaceAll("\\b1[0-9]{12}\\b", "TS")
          // sink/bucketed-table temp names embed path+nanotime hashCodes
          // (graft_sink/del1_..._fffd59064cf67911, lineitem_bkt_..._fff6...)
          // — fresh every regen, never structural
          .replaceAll("fff[0-9a-f]{13}", "PATHHASH")
        Files.writeString(Paths.get(s"$outDir/$name.plan.txt"), stable)
      } catch {
        case e: Throwable =>
          System.err.println(s"[explain] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}

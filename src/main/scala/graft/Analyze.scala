package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.graft.QueryProfile

/** Writes the `EXPLAIN ANALYZE` profile ([[QueryProfile]]) of declared
  * queries to `<outDir>/<name>.metrics.txt`: planning phase times, job
  * counts, one line per stage and the post-AQE operator tree with its
  * run-time metrics. Static plan snapshots (graft.Explain) show the
  * intended shape; these show what ran.
  *
  * Usage: runMain graft.Analyze [sfDir] [outDir] [nameRegex]
  * Default set: the bench headline queries ([[SparkEntry.headline]]).
  */
object Analyze {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outDir = args.lift(1).getOrElse("plans/analyze")
    val selected = args.lift(2).fold(
      SparkEntry.queries.keys.filter(SparkEntry.headline).toSeq.sorted)(
      SparkEntry.select("analyze", _))
    val cpus = SparkEntry.cpus
    val spark = graft.engine.Graft.session("graft-analyze", cpus)
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    selected.foreach { name =>
      try {
        val profile = QueryProfile.of(spark)(SparkEntry.queries(name)(spark, sfDir))
        Files.writeString(Paths.get(s"$outDir/$name.metrics.txt"),
          s"== $name  sf=$sfDir\n$profile")
        System.err.println(s"[analyze] $name")
      } catch {
        case e: Throwable =>
          System.err.println(s"[analyze] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}

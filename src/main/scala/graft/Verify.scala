package graft
import java.nio.file.{Files, Paths}

/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB oracle compare
  * (`tools/local_oracle.py`). Each query runs once, under the session
  * defaults a user's statement gets, so the oracle checks the plan
  * users actually run. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Local-iteration aid (driver passes 2 args): an optional regex
    // restricts the dump to the query names it matches in full, for fast
    // targeted oracle checks. oracle_sql.json is filtered to match so
    // tools/local_oracle.py only replays the selected queries.
    val keep: String => Boolean = args.lift(2).fold((_: String) => true)(
      SparkEntry.select("verify", _).toSet)
    val selected = SparkEntry.queries.filter(e => keep(e._1))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = graft.engine.Graft.session("graft-verify", cpus)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    selected.foreach { case (name, fn) =>
      // repartition(1) (not coalesce) keeps the single-file write
      // behind an exchange, so the query itself still runs at full
      // parallelism; coalesce(1) propagated up the plan and
      // single-threaded every verify query's final stage.
      try fn(spark, sfDir).repartition(1).write.mode("overwrite").parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        e.printStackTrace()
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(e => keep(e._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.multimodal.Multimodal
import graft.queries.{Aggregates, Analytics, CatalogOps, Decimals, DialectQueries, Functions, MutationQueries, Patterns, Pipeline, Relational, Scalars, SetOps, Sketches, Temporal, Windows}
import graft.streaming.Streams

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` maps operator names (SURVEY.md §2 inventory) to DataFrame
  * builders; `oracleSql` gives the equivalent ANSI SQL the driver runs in
  * DuckDB over the same parquet tables. Column names/aliases are kept
  * identical on both sides (the driver's compare sorts columns by name).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q3(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Relational.queries ++ Windows.queries ++ SetOps.queries ++
      Aggregates.queries ++ Pipeline.queries ++ Functions.queries ++
      Streams.queries ++ Scalars.queries ++ Patterns.queries ++
      Sketches.queries ++ Multimodal.queries ++ Analytics.queries ++
      CatalogOps.queries ++ Temporal.queries ++ DialectQueries.queries ++
      Decimals.queries ++ MutationQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Relational.oracle ++ Windows.oracle ++ SetOps.oracle ++
      Aggregates.oracle ++ Pipeline.oracle ++ Functions.oracle ++
      Streams.oracle ++ Scalars.oracle ++ Patterns.oracle ++
      Sketches.oracle ++ Multimodal.oracle ++ Analytics.oracle ++
      CatalogOps.oracle ++ Temporal.oracle ++ DialectQueries.oracle ++
      Decimals.oracle ++ MutationQueries.oracle

  /** Local cores for the sessions of the harness mains (`Bench`,
    * `Verify`, `Analyze`, `Isolate`): `SPARK_GRAFT_CPUS`, default 4.
    * `Explain` keeps a fixed 4 so its snapshots do not depend on it. */
  lazy val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** The bench headline set: the 22 TPC-H shapes and the composite
    * pipelines. `Bench` reports these one by one and rolls the rest up
    * per family; `Analyze` profiles them by default. */
  def headline(name: String): Boolean =
    name.matches("q\\d+_.*") ||
      Set("p9_corpus_pipeline", "x1_yoy_growth", "x2_market_basket")(name)

  /** The declared query names `pattern` matches in full, sorted, for the
    * harness mains (`Bench`, `Analyze`, `Verify`, `Isolate`). An empty
    * selection exits 2 and lists the known names: a run over nothing
    * would read as a pass. */
  def select(tool: String, pattern: String): Seq[String] = {
    val known = queries.keys.toSeq.sorted
    val selected = known.filter(_.matches(pattern))
    if (selected.isEmpty) {
      System.err.println(s"[$tool] no query matches '$pattern' in full — " +
        s"known: ${known.mkString(", ")}")
      sys.exit(2)
    }
    selected
  }
}

package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StructType}

import graft.SparkEntry
import graft.engine.Graft
import graft.operators.Mutations
import graft.queries.{DialectQueries, Scalars}
import graft.sqlcompat.{Dialect, MutationSql, Statements}

/** What a statement hands back: the drained rows of a read, or the
  * fingerprint of a write's post-state. `hash` is computed after the
  * latency clock stops. */
sealed trait Drained { def rows: Long; def hash: Long }
final class RowsDrained(val schema: StructType, val data: Array[Row]) extends Drained {
  def rows: Long = data.length.toLong
  lazy val hash: Long = Stats.rowHash(schema, data)
}
final case class Fingerprinted(rows: Long, hash: Long) extends Drained

/** Everything a statement needs to call into the engine. */
final class Ctx(val spark: SparkSession, val dir: String, val tracer: Tracer,
    val workDir: java.nio.file.Path) {
  private val sc = spark.sparkContext

  def phase[T](name: String)(body: => T): T = {
    sc.setLocalProperty("perfbench.phase", name)
    tracer.span(name)(body)
  }

  /** Optimize, plan and drain `df` on the user's path (`collect`), with a
    * span around each plan accessor so the traced run can split them. */
  def drain(df: DataFrame): Drained = {
    val qe = df.queryExecution
    phase("optimize")(qe.optimizedPlan)
    phase("physical")(qe.executedPlan)
    val rows = phase("drain")(df.collect())
    if (tracer.enabled) {
      val phases = qe.tracker.phases
      def ms(p: String) = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      tracer.add("plans.parse_ms", ms("parsing"))
      tracer.add("plans.analyze_ms", ms("analysis"))
      tracer.add("plans.graft_rules_ms", qe.tracker.rules.collect {
        case (rule, r) if rule.startsWith("graft.") => r.totalTimeNs / 1e6
      }.sum)
    }
    new RowsDrained(df.schema, rows)
  }
}

sealed trait Kind
case object Read extends Kind
case object Write extends Kind

/** One runnable statement; `id` keys the expected-results file. */
final case class Stmt(id: String, kind: Kind, run: Ctx => Drained)

/** A statement with its parameter grid: the schedule draws one point per
  * occurrence. */
final case class Family(name: String, points: IndexedSeq[Stmt])

object Workloads {

  /** Results depend on the random number generator or on ties. */
  val nondeterministic: Set[String] = Set("smp1_tablesample", "mm1_frame_sample",
    "uid1_assign_unique_id", "dx6_tablesample_sql", "w1_ranking", "w2_ntile_pct",
    "w8_topn_per_group")

  /** Builders that write to fixed paths outside the benchmark's tree. */
  val writesOutside: Set[String] = Set("p10_write_roundtrip", "p12_dpp",
    "p15_format_roundtrip", "cat1_colocated_join", "cat2_view_ctas",
    "cat3_materialized_view", "del1_delete", "upd1_update", "mrg1_merge", "trc1_truncate")

  // ---------------------------------------------------------- reads

  def builder(name: String): Stmt = {
    val fn = SparkEntry.queries(name)
    Stmt(name, Read, c => c.drain(c.phase("build")(fn(c.spark, c.dir))))
  }

  /** Query text through the reference-dialect front end: the route
    * `Statements.execute` takes for a plain query. */
  def sqlText(c: Ctx, text: String): DataFrame = c.phase("front") {
    val translated = c.tracer.span("translate")(Dialect.translate(text))
    c.tracer.span("sql")(c.spark.sql(translated))
  }

  def oracleText(name: String): Stmt =
    Stmt(s"sql:$name", Read, c => c.drain(sqlText(c, SparkEntry.oracleSql(name))))

  /** `dx*Reference` / `sc16Reference` texts whose builders run
    * `spark.sql(Dialect.translate(text))` over the registered views. */
  val dialectTexts: Seq[(String, String)] = Seq(
    "dx1_reference_dialect" -> DialectQueries.dx1Reference,
    "dx2_quantified_cmp" -> DialectQueries.dx2Reference,
    "dx8_constructors" -> DialectQueries.dx8Reference,
    "dx20_quantified_subscripts" -> DialectQueries.dx20Reference,
    "dx21_unnest_join_sql" -> DialectQueries.dx21Reference,
    "dx23_nan_minmax" -> DialectQueries.dx23Reference,
    "dx24_composed_grouping" -> DialectQueries.dx24Reference,
    "dx25_full_join_residual" -> DialectQueries.dx25Reference,
    "dx26_projected_in_null" -> DialectQueries.dx26Reference,
    "dx27_join_using_derived" -> DialectQueries.dx27Reference,
    "dx28_groups_frame_sql" -> DialectQueries.dx28Reference,
    "dx29_range_null_keys" -> DialectQueries.dx29Reference,
    "dx30_dynamic_rows_frame" -> DialectQueries.dx30Reference,
    "dx32_integer_division" -> DialectQueries.dx32Reference,
    "dx33_char_uuid_ip" -> DialectQueries.dx33Reference,
    "dx34_listagg_overflow" -> DialectQueries.dx34Reference,
    "sc16_timezone" -> Scalars.sc16Reference)

  /** `dx*Reference` texts whose builders hand the text to
    * `MatchRecognizeSql.translate`, `RelationSql.translate` or a
    * catalog-qualified `Dialect.translate`: the builder call is the
    * front-end call. */
  val builderTexts: Seq[String] = Seq(
    "dx3_match_recognize_sql", "dx4_mr_sql_all_rows", "dx7_mr_sql_funnel",
    "dx9_mr_sql_unmatched", "dx10_mr_sql_show_empty", "dx14_mr_sql_final",
    "dx15_mr_sql_var_measures", "dx16_mr_sql_nav_offsets", "dx17_mr_sql_define_arith",
    "dx18_mr_sql_string_measures", "dx19_mr_sql_measure_exprs",
    "dx5_unnest_sql", "dx11_fetch_ties_sql", "dx12_unnest_zip_sql",
    "dx13_unnest_outer_sql", "dx22_three_part_names")

  def dialectStmts: Seq[Stmt] =
    dialectTexts.map { case (n, text) =>
      Stmt(s"dx:$n", Read, c => c.drain(sqlText(c, text)))
    } ++ builderTexts.map { n =>
      val fn = SparkEntry.queries(n)
      Stmt(s"dx:$n", Read, c => c.drain(c.phase("front")(fn(c.spark, c.dir))))
    }

  // ------------------------------------------------------- session

  private def exec(c: Ctx, sql: String): DataFrame =
    c.phase("front")(Statements.execute(c.spark, sql))

  /** The prepared statement's text; `?` is bound by EXECUTE USING. */
  val preparedText: String =
    "SELECT o_orderpriority, count(*) AS n, max(o_totalprice) AS top " +
      "FROM orders WHERE o_orderkey < ? GROUP BY o_orderpriority"
  val preparedGrid: IndexedSeq[Int] = IndexedSeq(1000, 2500, 5000, 10000)

  def sessionFamilies: Seq[Family] = Seq(
    Family("session:set_show_reset", for {
      (k, v) <- IndexedSeq("task_concurrency" -> "2", "task_concurrency" -> "8",
        "join_distribution_type" -> "'PARTITIONED'", "join_distribution_type" -> "'BROADCAST'")
    } yield Stmt(s"session:set_show_reset@$k=${v.replace("'", "")}", Read, { c =>
      exec(c, s"SET SESSION $k = $v")
      try c.drain(exec(c, "SHOW SESSION"))
      finally exec(c, s"RESET SESSION $k")
    })),
    Family("session:prepare_execute", preparedGrid.map { v =>
      Stmt(s"session:prepare_execute@$v", Read, { c =>
        exec(c, s"PREPARE bench_q FROM $preparedText")
        c.drain(exec(c, s"EXECUTE bench_q USING $v"))
      })
    }),
    Family("session:describe_output", IndexedSeq(
      Stmt("session:describe_output", Read, { c =>
        exec(c, s"PREPARE bench_d FROM $preparedText")
        c.drain(exec(c, s"DESCRIBE OUTPUT bench_d"))
      }))),
    Family("session:explain", IndexedSeq("LOGICAL", "DISTRIBUTED", "IO").map { t =>
      Stmt(s"session:explain@$t", Read,
        c => c.drain(exec(c, s"EXPLAIN (TYPE $t) ${preparedText.replace("?", "5000")}")))
    }))

  /** The oracle SQL of a prepared-statement grid point. */
  def preparedOracle(v: Int): String = preparedText.replace("?", v.toString)

  // ---------------------------------------------------------- writes

  /** Mutations applied to a private copy of a pristine table:
    * (kind, table, statement grid). */
  val mutationGrid: Seq[(String, String, IndexedSeq[String])] = Seq(
    ("write:delete", "orders", for {
      st <- IndexedSeq("F", "O", "P"); cut <- IndexedSeq(100000, 250000)
    } yield s"DELETE FROM orders WHERE o_orderstatus = '$st' AND o_totalprice < $cut.0"),
    ("write:update", "customer", for {
      seg <- IndexedSeq("BUILDING", "MACHINERY"); add <- IndexedSeq(50, 100)
    } yield s"UPDATE customer SET c_acctbal = c_acctbal + $add.0 WHERE c_mktsegment = '$seg'"),
    ("write:merge", "customer", IndexedSeq(7, 11).map { m =>
      "MERGE INTO customer AS t USING (SELECT c_custkey AS key, c_acctbal + 500.0 AS new_bal " +
        s"FROM customer WHERE c_custkey % $m = 0) AS s ON t.c_custkey = s.key " +
        "WHEN MATCHED THEN UPDATE SET c_acctbal = s.new_bal"
    }))

  /** Order-independent fingerprint of a table state, computed in the
    * engine: row count plus the sum of per-row xxhash64 values. */
  def fingerprint(df: DataFrame): Fingerprinted = {
    val r = df.agg(count(lit(1)), coalesce(sum(xxhash64(df.columns.sorted.map(col).toIndexedSeq: _*)
      .cast(DecimalType(38, 0))), lit(0).cast(DecimalType(38, 0)))).head()
    Fingerprinted(r.getLong(0), r.getDecimal(1).longValue)
  }

  /** One write per occurrence: copy the pristine table to the run's own
    * path with `Mutations.overwriteInPlace`, apply one mutation grid point
    * through `MutationSql.translate`, and fingerprint the post-state. */
  def writeFamily: Family = Family("write", for {
    (kind, table, grid) <- mutationGrid.toIndexedSeq
    (sql, i) <- grid.zipWithIndex
  } yield Stmt(s"$kind@$i", Write, { c =>
    val path = c.workDir.resolve(table).toString
    c.phase("copy")(Mutations.overwriteInPlace(c.spark, Graft.load(c.spark, c.dir, table), path))
    val after = c.phase("mutate")(MutationSql.translate(c.spark, sql, _ => path))
    val fp = c.phase("check")(fingerprint(after))
    c.tracer.add("write.files_written", Option(new java.io.File(path).listFiles)
      .map(_.count(_.getName.endsWith(".parquet"))).getOrElse(0).toDouble)
    fp
  }))

  // ------------------------------------------------------- workloads

  /** Execution-bound builders at sf0.1: each spends at least 80% of its
    * latency executing and takes under 300 ms on 4 cores, so a 20 s run
    * reaches the 100 samples its p90 needs. perfbench/README.md gives the
    * measurements. */
  val analyticsNames: Seq[String] = Seq(
    "q2_top_orders", "q6_forecast_revenue", "ag1_minmax_by", "ag6_histogram",
    "ag9_numeric_histogram", "f1_cosine_expr", "f2_width_bucket", "f4_heavy_hitters",
    "p2_dedup_keeper", "p19_sequence_packing", "p20_domain_mix", "w7_value_fns")

  /** Oracle SQL texts run unchanged through the front end, and reference
    * texts through their builders' front ends: those under ~160 ms at
    * sf0.01 on 4 cores. */
  val sqlTextIds: Seq[String] = Seq(
    "mm2_media_probe", "sc23_json_path", "sc15_url_extract", "lim1_offset",
    "nv2_null_ordering", "lim2_with_ties", "f7_sketch_reagg", "q6_forecast_revenue",
    "lim3_distinct_limit", "w7_value_fns", "f2_width_bucket").map("sql:" + _) ++ Seq(
    "dx13_unnest_outer_sql", "dx12_unnest_zip_sql", "dx1_reference_dialect",
    "dx8_constructors", "dx5_unnest_sql").map("dx:" + _)

  /** Every builder the analytics list was cut from. */
  def analyticsCandidates: Seq[String] = SparkEntry.queries.keys.toSeq.sorted.filter { n =>
    "^(q|p|w|x|ag|f|mr|srt)[0-9]".r.findFirstIn(n).isDefined &&
      !nondeterministic(n) && !writesOutside(n)
  }

  /** Every text statement the sql_text list was cut from. */
  def textCandidates: Seq[Stmt] = SparkEntry.oracleSql.keys.toSeq.sorted
    .filterNot(n => nondeterministic(n) || writesOutside(n)).map(oracleText) ++ dialectStmts

  private def single(s: Stmt) = Family(s.id, IndexedSeq(s))

  private def texts: Seq[Family] = {
    val byId = textCandidates.map(s => s.id -> s).toMap
    sqlTextIds.map(id => single(byId(id)))
  }

  /** The statement families of a workload; `probe_builders` and
    * `probe_text` hold every candidate, for sizing the lists. */
  def families(workload: String): Seq[Family] = workload match {
    case "analytics" => analyticsNames.map(n => single(builder(n)))
    case "sql_text" => texts ++ sessionFamilies :+ writeFamily
    case "probe_builders" => analyticsCandidates.map(n => single(builder(n)))
    case "probe_text" => textCandidates.map(single) ++ sessionFamilies
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Duration of one timed round on a 4-core host (`nproc`=4): a run of
    * `--seconds` measures ceil(seconds / roundSeconds) rounds, so the
    * amount of work per run does not depend on timing. */
  def roundSeconds(workload: String): Double =
    if (workload == "sql_text") 3.0 else 2.5

  /** Scale factor each workload runs at. */
  def scale(workload: String): String =
    if (workload == "sql_text" || workload == "probe_text") "sf0.01" else "sf0.1"
}

/** The seeded schedule: round r is a permutation of the workload's
  * families, each occurrence with a grid point drawn from the same
  * generator, so a seed fixes every round. */
object Schedule {
  def round(families: Seq[Family], seed: Long, r: Int): Seq[Stmt] = {
    val rng = new scala.util.Random(seed * 1000003L + r)
    rng.shuffle(families.toIndexedSeq).map(f => f.points(rng.nextInt(f.points.length)))
  }
}

package graft.queries

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Graft
import graft.operators.MatchRecognize
import graft.sqlcompat.MatchRecognizeSql

/** MATCH_RECOGNIZE fixture queries (reference: grammar
  * `SqlBase.g4:360-399`, `operator/window/matcher/Matcher.java:28`).
  *
  * mr1 detects V-shapes (a falling run followed by a rising run —
  * pattern `D+ U+` with PREV()-style DEFINE predicates) in each user's
  * event-value series. The oracle replays the same semantics
  * relationally: under greedy leftmost matching with AFTER MATCH SKIP
  * PAST LAST ROW, the number of `D+ U+` matches equals the number of
  * D→U direction flips (valleys) — a lag()-based rewrite DuckDB can
  * run, giving the pattern operator a real cross-engine gate.
  *
  * Every table-form builder (mr1–mr10, mr12, mr13) is `MATCH_RECOGNIZE`
  * SQL text lowered by [[MatchRecognizeSql.translate]] over the events
  * columns `user_id`, `event_id`, `value`, partitioned by user and
  * ordered by event id; mr11 is the window-frame form, which has no SQL
  * spelling. */
object Patterns {

  private def events(s: SparkSession, dir: String): DataFrame =
    Graft.load(s, dir, "events").select(col("user_id"), col("event_id"), col("value"))

  /** `SELECT * FROM events MATCH_RECOGNIZE (PARTITION BY user_id ORDER
    * BY event_id <clauses>)` over `ev`. */
  private def matchEvents(ev: DataFrame, clauses: String): DataFrame =
    MatchRecognizeSql.translate(
      "SELECT * FROM events MATCH_RECOGNIZE (\n" +
        "  PARTITION BY user_id ORDER BY event_id\n" + clauses + ")",
      _ => ev)

  /** Unpivot ONE ROW PER MATCH measures named `<prefix>_<field>` into
    * one row per pattern variable: `vars` pairs each output `var_name`
    * with its measure prefix; `keep` columns repeat on every row. */
  private def perVariable(m: DataFrame, keep: Seq[String],
      vars: Seq[(String, String)], fields: Seq[String]): DataFrame = {
    val args = vars.map { case (name, prefix) =>
      (s"'$name'" +: fields.map(f => s"${prefix}_$f")).mkString(", ")
    }
    m.selectExpr(keep :+ s"stack(${vars.size}, ${args.mkString(", ")}) " +
      s"AS (var_name, ${fields.mkString(", ")})": _*)
  }

  def mr1(s: SparkSession, dir: String): DataFrame =
    matchEvents(events(s, dir),
      """  ONE ROW PER MATCH
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (D+ U+)
        |  DEFINE D AS value < PREV(value), U AS value > PREV(value)""".stripMargin)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_matches"))

  val mr1Sql: String =
    """WITH d AS (
      |  SELECT user_id, event_id,
      |    CASE WHEN value < lag(value) OVER w THEN 'D'
      |         WHEN value > lag(value) OVER w THEN 'U'
      |         ELSE 'F' END AS dir
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY event_id)),
      |v AS (
      |  SELECT user_id,
      |    CASE WHEN dir = 'U' AND lag(dir) OVER (PARTITION BY user_id ORDER BY event_id) = 'D'
      |         THEN 1 ELSE 0 END AS valley
      |  FROM d)
      |SELECT user_id, CAST(sum(valley) AS BIGINT) AS n_matches
      |FROM v GROUP BY user_id
      |HAVING sum(valley) > 0""".stripMargin

  /** mr2: ONE ROW PER MATCH with FINAL measures — maximal rising runs
    * (pattern `U{2,}`, U: value > PREV(value)) per user, reporting
    * FIRST/LAST/MAX(value) and the run's gain. The oracle rebuilds the
    * same maximal runs relationally: a run id from the cumulative
    * count of non-rising rows, then per-run aggregates (arg_min/
    * arg_max by event_id ≡ FIRST/LAST). Greedy leftmost + SKIP PAST
    * LAST ROW makes matches exactly the maximal runs, so the two
    * shapes agree row-for-row. gain = one IEEE subtraction of stored
    * doubles, min/max are exact picks — deterministic cross-engine. */
  def mr2(s: SparkSession, dir: String): DataFrame =
    matchEvents(events(s, dir),
      """  MEASURES FIRST(event_id) AS start_ord, LAST(event_id) AS end_ord,
        |           COUNT(*) AS n_steps,
        |           FIRST(value) AS first_val, LAST(value) AS last_val,
        |           MAX(value) AS peak, LAST(value) - FIRST(value) AS gain
        |  ONE ROW PER MATCH
        |  PATTERN (U{2,})
        |  DEFINE U AS value > PREV(value)""".stripMargin)

  val mr2Sql: String =
    """WITH d AS (
      |  SELECT user_id, event_id, value,
      |    CASE WHEN value > lag(value) OVER w THEN 1 ELSE 0 END AS isu
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY event_id)),
      |r AS (
      |  SELECT user_id, event_id, value, isu,
      |    CAST(sum(1 - isu) OVER (PARTITION BY user_id ORDER BY event_id) AS BIGINT) AS run_id
      |  FROM d)
      |SELECT user_id,
      |  min(event_id) AS start_ord, max(event_id) AS end_ord,
      |  count(*) AS n_steps,
      |  arg_min(value, event_id) AS first_val,
      |  arg_max(value, event_id) AS last_val,
      |  max(value) AS peak,
      |  arg_max(value, event_id) - arg_min(value, event_id) AS gain
      |FROM r WHERE isu = 1
      |GROUP BY user_id, run_id
      |HAVING count(*) >= 2""".stripMargin

  /** mr3: ALL ROWS PER MATCH over the same rising runs, with RUNNING
    * COUNT(*)/MAX(value) and FINAL COUNT(*)/LAST(value) side by side —
    * the RUNNING/FINAL semantics split as observable output. Oracle:
    * per-run window functions (running = ORDER BY frame, final =
    * whole-partition frame) over the relational run reconstruction. */
  def mr3(s: SparkSession, dir: String): DataFrame =
    matchEvents(events(s, dir),
      """  MEASURES CLASSIFIER() AS classifier,
        |           COUNT(*) AS running_cnt, FINAL COUNT(*) AS final_cnt,
        |           MAX(value) AS running_max, FINAL LAST(value) AS final_last
        |  ALL ROWS PER MATCH
        |  PATTERN (U{2,})
        |  DEFINE U AS value > PREV(value)""".stripMargin)
      .select(col("user_id"), col("event_id").as("ord"), col("classifier"),
        col("running_cnt"), col("final_cnt"), col("running_max"), col("final_last"))

  val mr3Sql: String =
    """WITH d AS (
      |  SELECT user_id, event_id, value,
      |    CASE WHEN value > lag(value) OVER w THEN 1 ELSE 0 END AS isu
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY event_id)),
      |r AS (
      |  SELECT user_id, event_id, value, isu,
      |    CAST(sum(1 - isu) OVER (PARTITION BY user_id ORDER BY event_id) AS BIGINT) AS run_id
      |  FROM d)
      |SELECT user_id, event_id AS ord, 'U' AS classifier,
      |  row_number() OVER pr AS running_cnt,
      |  count(*) OVER pw AS final_cnt,
      |  max(value) OVER (pr ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_max,
      |  last_value(value) OVER (pw ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS final_last
      |FROM r WHERE isu = 1
      |WINDOW pr AS (PARTITION BY user_id, run_id ORDER BY event_id),
      |       pw AS (PARTITION BY user_id, run_id)
      |QUALIFY count(*) OVER pw >= 2""".stripMargin

  /** mr4: multi-character pattern variables + FIRST/LAST(V.value, n)
    * logical navigation (reference `sql/planner/rowpattern/
    * LogicalIndexNavigation.java`) — V-shapes as `DOWN+ UP+`, one
    * output row per (match, variable) with offset-0 and offset-1
    * first/last values (offset past the variable's rows → null).
    * Oracle: greedy leftmost + SKIP PAST LAST ROW makes each match
    * exactly a maximal falling run plus the adjacent maximal rising
    * run, so DuckDB rebuilds matches from direction-run ids and
    * navigates with 1-based/negative list indexing (out-of-range →
    * NULL, the same semantics). Values are exact picks of stored
    * doubles — deterministic cross-engine. */
  def mr4(s: SparkSession, dir: String): DataFrame = {
    val navigation = Seq("DOWN", "UP").map { v =>
      s"COUNT($v.*) AS ${v}_var_rows, FIRST($v.value) AS ${v}_first_val, " +
        s"LAST($v.value) AS ${v}_last_val, FIRST($v.value, 1) AS ${v}_first_off, " +
        s"LAST($v.value, 1) AS ${v}_last_off"
    }
    val m = matchEvents(events(s, dir),
      s"""  MEASURES MATCH_NUMBER() AS match_no,
         |           FIRST(event_id) AS start_ord, LAST(event_id) AS end_ord,
         |           ${navigation.mkString(",\n           ")}
         |  ONE ROW PER MATCH
         |  PATTERN (DOWN+ UP+)
         |  DEFINE DOWN AS value < PREV(value), UP AS value > PREV(value)""".stripMargin)
    perVariable(m, Seq("user_id", "match_no", "start_ord", "end_ord"),
      Seq("DOWN" -> "DOWN", "UP" -> "UP"),
      Seq("var_rows", "first_val", "last_val", "first_off", "last_off"))
  }

  val mr4Sql: String =
    """WITH d AS (
      |  SELECT user_id, event_id, value,
      |    CASE WHEN value < lag(value) OVER w THEN 'DOWN'
      |         WHEN value > lag(value) OVER w THEN 'UP'
      |         ELSE 'FLAT' END AS dir
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY event_id)),
      |c AS (
      |  SELECT user_id, event_id, value, dir,
      |    CASE WHEN dir = lag(dir) OVER (PARTITION BY user_id ORDER BY event_id)
      |         THEN 0 ELSE 1 END AS chg
      |  FROM d),
      |r AS (
      |  SELECT user_id, event_id, value, dir,
      |    CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY event_id) AS BIGINT) AS run_id
      |  FROM c),
      |runs AS (
      |  SELECT user_id, run_id, any_value(dir) AS dir,
      |    min(event_id) AS s, max(event_id) AS e,
      |    count(*) AS n,
      |    list(value ORDER BY event_id) AS vals
      |  FROM r GROUP BY user_id, run_id),
      |seq AS (
      |  SELECT user_id, dir, s, e, n, vals,
      |    lead(dir) OVER u AS nx_dir, lead(e) OVER u AS nx_e,
      |    lead(n) OVER u AS nx_n, lead(vals) OVER u AS nx_vals
      |  FROM runs WINDOW u AS (PARTITION BY user_id ORDER BY s)),
      |m AS (
      |  SELECT user_id,
      |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY s) AS BIGINT) AS match_no,
      |    s AS start_ord, nx_e AS end_ord,
      |    n AS down_rows, vals AS down_vals, nx_n AS up_rows, nx_vals AS up_vals
      |  FROM seq WHERE dir = 'DOWN' AND nx_dir = 'UP')
      |SELECT user_id, match_no, start_ord, end_ord, 'DOWN' AS var_name,
      |  CAST(down_rows AS BIGINT) AS var_rows,
      |  down_vals[1] AS first_val, down_vals[-1] AS last_val,
      |  down_vals[2] AS first_off, down_vals[-2] AS last_off
      |FROM m
      |UNION ALL
      |SELECT user_id, match_no, start_ord, end_ord, 'UP' AS var_name,
      |  CAST(up_rows AS BIGINT) AS var_rows,
      |  up_vals[1] AS first_val, up_vals[-1] AS last_val,
      |  up_vals[2] AS first_off, up_vals[-2] AS last_off
      |FROM m""".stripMargin

  /** mr5: reluctant quantifier + DEFINE-side navigation. Pattern
    * `D+? U` (reluctant: the fewest falls before the FIRST viable U)
    * where U needs BOTH a one-back rise and a two-back rise —
    * `PREV(value, 2)` physical navigation inside DEFINE (reference
    * `sql/planner/rowpattern/LogicalIndexNavigation.java` /
    * `Matcher.java:28`; reluctant quantifiers per `SqlBase.g4`
    * patternQuantifier). Under leftmost matching the reluctant prefix
    * consumes exactly the maximal fall run, and U is the run's first
    * successor iff it rises above rows 1 and 2 back — so the oracle
    * rebuilds matches from direction-run ids with a lag(value, 2)
    * carried per row, no sequential state needed. */
  def mr5(s: SparkSession, dir: String): DataFrame =
    matchEvents(events(s, dir),
      """  MEASURES MATCH_NUMBER() AS match_no,
        |           FIRST(event_id) AS start_ord, LAST(event_id) AS end_ord,
        |           COUNT(*) AS n_rows, FIRST(value) AS first_val,
        |           LAST(value) AS last_val, MIN(value) AS min_val,
        |           MAX(value) AS max_val
        |  ONE ROW PER MATCH
        |  PATTERN (D+? U)
        |  DEFINE D AS value < PREV(value),
        |         U AS value > PREV(value) AND value > PREV(value, 2)""".stripMargin)

  val mr5Sql: String =
    """WITH d AS (
      |  SELECT user_id, event_id, value,
      |    lag(value, 2) OVER w AS l2,
      |    CASE WHEN value < lag(value) OVER w THEN 'DOWN'
      |         WHEN value > lag(value) OVER w THEN 'UP'
      |         ELSE 'FLAT' END AS dir
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY event_id)),
      |c AS (
      |  SELECT *, CASE WHEN dir = lag(dir) OVER (PARTITION BY user_id ORDER BY event_id)
      |       THEN 0 ELSE 1 END AS chg
      |  FROM d),
      |r AS (
      |  SELECT *, CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY event_id) AS BIGINT) AS run_id
      |  FROM c),
      |runs AS (
      |  SELECT user_id, run_id, any_value(dir) AS dir,
      |    min(event_id) AS s, count(*) AS n,
      |    list(value ORDER BY event_id) AS vals,
      |    list(event_id ORDER BY event_id) AS ids,
      |    list(l2 ORDER BY event_id) AS l2s
      |  FROM r GROUP BY user_id, run_id),
      |seq AS (
      |  SELECT user_id, dir, s, n, vals,
      |    lead(dir) OVER u AS nx_dir, lead(vals) OVER u AS nx_vals,
      |    lead(ids) OVER u AS nx_ids, lead(l2s) OVER u AS nx_l2s
      |  FROM runs WINDOW u AS (PARTITION BY user_id ORDER BY s)),
      |m AS (
      |  SELECT user_id, s AS start_ord, nx_ids[1] AS end_ord,
      |    CAST(n + 1 AS BIGINT) AS n_rows,
      |    vals[1] AS first_val, nx_vals[1] AS last_val,
      |    least(list_min(vals), nx_vals[1]) AS min_val,
      |    greatest(vals[1], nx_vals[1]) AS max_val
      |  FROM seq
      |  WHERE dir = 'DOWN' AND nx_dir = 'UP'
      |    AND nx_l2s[1] IS NOT NULL AND nx_vals[1] > nx_l2s[1])
      |SELECT user_id,
      |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY start_ord) AS BIGINT) AS match_no,
      |  start_ord, end_ord, n_rows, first_val, last_val, min_val, max_val
      |FROM m""".stripMargin

  /** mr6: aggregates in MEASURES over variable row sets (reference
    * `sql/planner/rowpattern/` aggregate value pointers — e.g.
    * `MEASURES sum(D.value), avg(U.value), sum(value)`): V-shapes as
    * `D+ U+`, one output row per (match, variable) plus the universal
    * `*` row (unqualified aggregate over the whole match), each with
    * FINAL COUNT/SUM/AVG/MIN/MAX of value. Determinism: values are
    * 2-dp fixed-point, summed exactly (the measures sum a scaled-long
    * `value_c` = round(value · 100) column, DECIMAL(12,2) oracle-side),
    * AVG is one IEEE division of the exact sum by the count. Oracle:
    * the mr4 run-id rebuild, with per-run decimal sums/min/max merged
    * per match (the `*` row merges the two runs' exact partials). */
  def mr6(s: SparkSession, dir: String): DataFrame = {
    // value · 100 rounded half-up to a long: 2-dp values sit within an
    // ulp of an integer, so the per-variable sums are exact
    val ev = events(s, dir)
      .withColumn("value_c", floor(col("value") * 100.0 + 0.5))
    val aggs = Seq("D" -> "D.", "U" -> "U.", "ALL" -> "").map { case (p, q) =>
      val n = if (q.isEmpty) "COUNT(*)" else s"COUNT(${q}*)"
      s"$n AS ${p}_var_rows, SUM(${q}value_c) AS ${p}_sum_c, " +
        s"MIN(${q}value) AS ${p}_min_val, MAX(${q}value) AS ${p}_max_val"
    }
    val m = matchEvents(ev,
      s"""  MEASURES MATCH_NUMBER() AS match_no,
         |           FIRST(event_id) AS start_ord, LAST(event_id) AS end_ord,
         |           ${aggs.mkString(",\n           ")}
         |  ONE ROW PER MATCH
         |  PATTERN (D+ U+)
         |  DEFINE D AS value < PREV(value), U AS value > PREV(value)""".stripMargin)
    perVariable(m, Seq("user_id", "match_no", "start_ord", "end_ord"),
      Seq("D" -> "D", "U" -> "U", "*" -> "ALL"),
      Seq("var_rows", "sum_c", "min_val", "max_val"))
      .withColumn("sum_val", col("sum_c").cast("double") / 100.0)
      .select(col("user_id"), col("match_no"), col("start_ord"), col("end_ord"),
        col("var_name"), col("var_rows"), col("sum_val"),
        (col("sum_val") / col("var_rows")).as("avg_val"),
        col("min_val"), col("max_val"))
  }

  val mr6Sql: String =
    """WITH d AS (
      |  SELECT user_id, event_id, value,
      |    CASE WHEN value < lag(value) OVER w THEN 'D'
      |         WHEN value > lag(value) OVER w THEN 'U'
      |         ELSE 'F' END AS dir
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY event_id)),
      |c AS (
      |  SELECT *, CASE WHEN dir = lag(dir) OVER (PARTITION BY user_id ORDER BY event_id)
      |       THEN 0 ELSE 1 END AS chg
      |  FROM d),
      |r AS (
      |  SELECT *, CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY event_id) AS BIGINT) AS run_id
      |  FROM c),
      |runs AS (
      |  SELECT user_id, run_id, any_value(dir) AS dir,
      |    min(event_id) AS s, max(event_id) AS e, count(*) AS n,
      |    sum(CAST(value AS DECIMAL(12,2))) AS sm,
      |    min(value) AS mn, max(value) AS mx
      |  FROM r GROUP BY user_id, run_id),
      |seq AS (
      |  SELECT user_id, dir, s, e, n, sm, mn, mx,
      |    lead(dir) OVER u AS nx_dir, lead(e) OVER u AS nx_e,
      |    lead(n) OVER u AS nx_n, lead(sm) OVER u AS nx_sm,
      |    lead(mn) OVER u AS nx_mn, lead(mx) OVER u AS nx_mx
      |  FROM runs WINDOW u AS (PARTITION BY user_id ORDER BY s)),
      |m AS (
      |  SELECT user_id,
      |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY s) AS BIGINT) AS match_no,
      |    s AS start_ord, nx_e AS end_ord,
      |    n AS d_n, sm AS d_sm, mn AS d_mn, mx AS d_mx,
      |    nx_n AS u_n, nx_sm AS u_sm, nx_mn AS u_mn, nx_mx AS u_mx
      |  FROM seq WHERE dir = 'D' AND nx_dir = 'U')
      |SELECT user_id, match_no, start_ord, end_ord, 'D' AS var_name,
      |  CAST(d_n AS BIGINT) AS var_rows, CAST(d_sm AS DOUBLE) AS sum_val,
      |  CAST(d_sm AS DOUBLE) / d_n AS avg_val, d_mn AS min_val, d_mx AS max_val
      |FROM m
      |UNION ALL
      |SELECT user_id, match_no, start_ord, end_ord, 'U',
      |  CAST(u_n AS BIGINT), CAST(u_sm AS DOUBLE),
      |  CAST(u_sm AS DOUBLE) / u_n, u_mn, u_mx
      |FROM m
      |UNION ALL
      |SELECT user_id, match_no, start_ord, end_ord, '*',
      |  CAST(d_n + u_n AS BIGINT), CAST(d_sm + u_sm AS DOUBLE),
      |  CAST(d_sm + u_sm AS DOUBLE) / (d_n + u_n),
      |  least(d_mn, u_mn), greatest(d_mx, u_mx)
      |FROM m""".stripMargin

  /** mr7: ALL ROWS PER MATCH WITH UNMATCHED ROWS (reference
    * `SqlBase.g4` rowsPerMatch WITH UNMATCHED) over mr3's rising runs
    * `U{2,}`: every event row appears exactly once — matched rows
    * with match number, classifier, and RUNNING/FINAL measures,
    * unmatched rows (non-rising rows and length-1 rising runs) with
    * nulls throughout, the reference's null MATCH_NUMBER/CLASSIFIER
    * contract. Oracle: mr3's run-id rebuild for the matched side,
    * UNION ALL the complement with NULL-typed columns. */
  def mr7(s: SparkSession, dir: String): DataFrame =
    matchEvents(events(s, dir),
      """  MEASURES MATCH_NUMBER() AS match_no, CLASSIFIER() AS classifier,
        |           COUNT(*) AS running_cnt, FINAL COUNT(*) AS final_cnt,
        |           MAX(value) AS running_max, FINAL LAST(value) AS final_last
        |  ALL ROWS PER MATCH WITH UNMATCHED ROWS
        |  PATTERN (U{2,})
        |  DEFINE U AS value > PREV(value)""".stripMargin)
      .select(col("user_id"), col("event_id").as("ord"), col("match_no"),
        col("classifier"), col("running_cnt"), col("final_cnt"),
        col("running_max"), col("final_last"))

  val mr7Sql: String =
    """WITH d AS (
      |  SELECT user_id, event_id, value,
      |    CASE WHEN value > lag(value) OVER w THEN 1 ELSE 0 END AS isu
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY event_id)),
      |r AS (
      |  SELECT *, CAST(sum(1 - isu) OVER (PARTITION BY user_id ORDER BY event_id) AS BIGINT) AS run_id
      |  FROM d),
      |r2 AS (
      |  SELECT *, sum(isu) OVER (PARTITION BY user_id, run_id) AS urows
      |  FROM r),
      |m AS (
      |  SELECT user_id, event_id, value, run_id,
      |    row_number() OVER pr AS rcnt,
      |    count(*) OVER pw AS rlen,
      |    max(value) OVER (pr ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rmax,
      |    last_value(value) OVER (pw ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS rlast
      |  FROM r2 WHERE isu = 1 AND urows >= 2
      |  WINDOW pr AS (PARTITION BY user_id, run_id ORDER BY event_id),
      |         pw AS (PARTITION BY user_id, run_id))
      |SELECT user_id, event_id AS ord,
      |  CAST(dense_rank() OVER (PARTITION BY user_id ORDER BY run_id) AS BIGINT) AS match_no,
      |  'U' AS classifier,
      |  CAST(rcnt AS BIGINT) AS running_cnt, CAST(rlen AS BIGINT) AS final_cnt,
      |  rmax AS running_max, rlast AS final_last
      |FROM m
      |UNION ALL
      |SELECT user_id, event_id, CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
      |  CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
      |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
      |FROM r2 WHERE NOT (isu = 1 AND urows >= 2)""".stripMargin

  /** mr8: SHOW EMPTY MATCHES (reference `SqlBase.g4`
    * emptyMatchHandling, the ONE ROW PER MATCH default) with the
    * zero-width-capable pattern `D*`: every maximal falling run is one
    * match (classifier = the concatenated 'D' sequence), and every
    * other row anchors an EMPTY match — numbered, null classifier,
    * zero rows. Oracle: falling runs from direction run-ids (one
    * anchor at each run start, repeat('D', len) classifier) UNION ALL
    * each non-falling row as an empty anchor, renumbered in anchor
    * order — exactly the scan the engine performs. Engine side: ALL
    * ROWS PER MATCH SHOW EMPTY MATCHES gives every match — empty ones
    * included — a row carrying its anchor row's event_id; the match's
    * first row (RUNNING COUNT(*) ≤ 1) is its one output row. */
  def mr8(s: SparkSession, dir: String): DataFrame =
    matchEvents(events(s, dir),
      """  MEASURES MATCH_NUMBER() AS match_no, COUNT(*) AS pos,
        |           FINAL COUNT(*) AS n_rows,
        |           FINAL array_agg(CLASSIFIER()) AS labels
        |  ALL ROWS PER MATCH SHOW EMPTY MATCHES
        |  PATTERN (D*)
        |  DEFINE D AS value < PREV(value)""".stripMargin)
      .filter(col("pos") <= 1)
      .select(col("user_id"), col("match_no"), col("event_id").as("anchor_ord"),
        col("n_rows"), array_join(col("labels"), "").as("classifier"))

  val mr8Sql: String =
    """WITH d AS (
      |  SELECT user_id, event_id,
      |    CASE WHEN value < lag(value) OVER w THEN 'D' ELSE 'O' END AS dir
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY event_id)),
      |c AS (
      |  SELECT *, CASE WHEN dir = lag(dir) OVER (PARTITION BY user_id ORDER BY event_id)
      |       THEN 0 ELSE 1 END AS chg
      |  FROM d),
      |r AS (
      |  SELECT *, CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY event_id) AS BIGINT) AS run_id
      |  FROM c),
      |runs AS (
      |  SELECT user_id, run_id, any_value(dir) AS dir,
      |    min(event_id) AS s, count(*) AS len
      |  FROM r GROUP BY user_id, run_id),
      |anchors AS (
      |  SELECT user_id, s AS anchor_ord, len AS n_rows,
      |    repeat('D', CAST(len AS INT)) AS classifier
      |  FROM runs WHERE dir = 'D'
      |  UNION ALL
      |  SELECT user_id, event_id, 0, CAST(NULL AS VARCHAR)
      |  FROM r WHERE dir <> 'D')
      |SELECT user_id,
      |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY anchor_ord) AS BIGINT) AS match_no,
      |  anchor_ord, CAST(n_rows AS BIGINT) AS n_rows, classifier
      |FROM anchors""".stripMargin

  /** mr9: pattern exclusion `{- ... -}` (SQL:2016; reference
    * `SqlBase.g4` patternPrimary `'{-' rowPattern '-}'`) under ALL
    * ROWS PER MATCH: `A {- B+ -} C` over rising runs emits only the
    * first and last row of each maximal rising run of length ≥ 3 —
    * the excluded middle rows still participate in matching and in
    * the RUNNING/FINAL measures (running_cnt at the C row counts the
    * whole run; running_max spans the excluded rows). Oracle: rising
    * runs from direction run-ids, keep rows ranked first or last in
    * runs of length ≥ 3 — rcnt/rmax computed BEFORE the rank filter,
    * exactly the engine's measure-over-all-rows contract. */
  def mr9(s: SparkSession, dir: String): DataFrame =
    matchEvents(events(s, dir),
      """  MEASURES MATCH_NUMBER() AS match_no, CLASSIFIER() AS classifier,
        |           COUNT(*) AS running_cnt, FINAL COUNT(*) AS final_cnt,
        |           MAX(value) AS running_max, FINAL LAST(value) AS final_last
        |  ALL ROWS PER MATCH
        |  PATTERN (A {- B+ -} C)
        |  DEFINE A AS value > PREV(value), B AS value > PREV(value),
        |         C AS value > PREV(value)""".stripMargin)
      .select(col("user_id"), col("event_id").as("ord"), col("match_no"),
        col("classifier"), col("running_cnt"), col("final_cnt"),
        col("running_max"), col("final_last"))

  val mr9Sql: String =
    """WITH d AS (
      |  SELECT user_id, event_id, value,
      |    CASE WHEN value > lag(value) OVER w THEN 1 ELSE 0 END AS isu
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY event_id)),
      |r AS (
      |  SELECT *, CAST(sum(1 - isu) OVER (PARTITION BY user_id ORDER BY event_id) AS BIGINT) AS run_id
      |  FROM d),
      |r2 AS (
      |  SELECT *, sum(isu) OVER (PARTITION BY user_id, run_id) AS urows
      |  FROM r),
      |m AS (
      |  SELECT user_id, event_id, value, run_id,
      |    row_number() OVER pr AS rcnt,
      |    count(*) OVER pw AS rlen,
      |    max(value) OVER (pr ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rmax,
      |    last_value(value) OVER (pw ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS rlast
      |  FROM r2 WHERE isu = 1 AND urows >= 3
      |  WINDOW pr AS (PARTITION BY user_id, run_id ORDER BY event_id),
      |         pw AS (PARTITION BY user_id, run_id))
      |SELECT user_id, event_id AS ord,
      |  CAST(dense_rank() OVER (PARTITION BY user_id ORDER BY run_id) AS BIGINT) AS match_no,
      |  CASE WHEN rcnt = 1 THEN 'A' ELSE 'C' END AS classifier,
      |  CAST(rcnt AS BIGINT) AS running_cnt,
      |  CAST(rlen AS BIGINT) AS final_cnt,
      |  rmax AS running_max, rlast AS final_last
      |FROM m WHERE rcnt = 1 OR rcnt = rlen""".stripMargin

  /** mr10: partition anchors `^` / `$` (reference `SqlBase.g4:744-745`
    * partitionStartAnchor / partitionEndAnchor) — the last row-pattern
    * grammar production. Two anchored matches per user over the event
    * series: `^ U+` (U: first row or value > PREV(value)) pins a match
    * to the PARTITION START, yielding exactly the maximal rising
    * prefix; `D+ $` (D: value < PREV(value)) pins the match end to the
    * PARTITION END, yielding the maximal falling suffix (absent when
    * the series doesn't end falling — hence the left join with 0/-1
    * defaults). Without the anchors the same patterns would match
    * interior runs; the oracle rebuilds both boundary runs
    * relationally (prefix = rows before the first non-rising step,
    * suffix = rows after the last non-falling step). */
  def mr10(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val pre = matchEvents(ev,
      """  MEASURES COUNT(*) AS pre_rows, LAST(event_id) AS pre_end_ord,
        |           LAST(value) AS pre_last
        |  ONE ROW PER MATCH
        |  PATTERN (^ U+)
        |  DEFINE U AS PREV(value) IS NULL OR value > PREV(value)""".stripMargin)
    val suf = matchEvents(ev,
      """  MEASURES COUNT(*) AS suf_rows, FIRST(event_id) AS suf_start_ord
        |  ONE ROW PER MATCH
        |  PATTERN (D+ $)
        |  DEFINE D AS value < PREV(value)""".stripMargin)
    pre.join(suf, Seq("user_id"), "left")
      .select(col("user_id"), col("pre_rows"), col("pre_end_ord"),
        col("pre_last"),
        coalesce(col("suf_rows"), lit(0L)).as("suf_rows"),
        coalesce(col("suf_start_ord"), lit(-1L)).as("suf_start_ord"))
  }

  val mr10Sql: String =
    """WITH d AS (
      |  SELECT user_id, event_id, value,
      |    row_number() OVER w AS rn,
      |    CASE WHEN lag(value) OVER w IS NULL THEN 1
      |         WHEN value > lag(value) OVER w THEN 1 ELSE 0 END AS risestep,
      |    CASE WHEN lag(value) OVER w IS NOT NULL AND value < lag(value) OVER w
      |         THEN 1 ELSE 0 END AS fallstep
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY event_id)),
      |pre AS (
      |  SELECT user_id,
      |    coalesce(min(CASE WHEN risestep = 0 THEN rn END) - 1, max(rn)) AS pre_rows
      |  FROM d GROUP BY user_id),
      |pre2 AS (
      |  SELECT d.user_id, CAST(pre.pre_rows AS BIGINT) AS pre_rows,
      |    d.event_id AS pre_end_ord, d.value AS pre_last
      |  FROM d JOIN pre ON d.user_id = pre.user_id AND d.rn = pre.pre_rows),
      |fs AS (
      |  SELECT user_id, max(CASE WHEN fallstep = 0 THEN rn END) AS lastnf,
      |    max(rn) AS n FROM d GROUP BY user_id),
      |suf2 AS (
      |  SELECT d.user_id, CAST(fs.n - fs.lastnf AS BIGINT) AS suf_rows,
      |    d.event_id AS suf_start_ord
      |  FROM d JOIN fs ON d.user_id = fs.user_id AND d.rn = fs.lastnf + 1
      |    AND fs.lastnf < fs.n)
      |SELECT p.user_id, p.pre_rows, p.pre_end_ord, p.pre_last,
      |  CAST(coalesce(s.suf_rows, 0) AS BIGINT) AS suf_rows,
      |  CAST(coalesce(s.suf_start_ord, -1) AS BIGINT) AS suf_start_ord
      |FROM pre2 p LEFT JOIN suf2 s ON p.user_id = s.user_id""".stripMargin

  /** Row-pattern recognition IN WINDOW FRAMES (reference windowed
    * matcher, SEEK anchoring — `TestRowPatternMatchingInWindow`): for
    * EVERY event row, the first high-value run (`H+`, value ≥ 90) at
    * or after it within the user's remaining frame — no cross-row
    * consumption, so every row carries its own lookahead answer.
    * Output scalars derive from the match arrays (length + first
    * matched event_id); the oracle replays the semantics with
    * IGNORE-NULLS forward window scans over run remainders. */
  def mr11(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val high: (Row, Row) => Boolean =
      (_, c) => c.getAs[Double]("value") >= 90.0
    MatchRecognize.windowMatches(ev, Seq("user_id"), Seq("event_id"), "H+",
        MatchRecognize.wrapSimple(Map("H" -> high)),
        valueCol = "event_id", seek = true)
      .select(col("user_id"), col("event_id"),
        when(col("match_vals").isNull, lit(null))
          .otherwise(size(col("match_vals"))).cast("long").as("m_len"),
        element_at(col("match_vals"), 1).as("m_first"))
  }

  val mr11Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, value,
      |    CASE WHEN value >= 90 THEN 1 ELSE 0 END AS h,
      |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
      |  FROM events),
      |r AS (
      |  SELECT *, CAST(sum(1 - h) OVER (
      |    PARTITION BY user_id ORDER BY rn) AS BIGINT) AS grp
      |  FROM e),
      |x AS (
      |  SELECT *, CASE WHEN h = 1 THEN CAST(count(*) OVER (
      |      PARTITION BY user_id, grp ORDER BY rn
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) END AS rem_len,
      |    CASE WHEN h = 1 THEN event_id END AS h_eid
      |  FROM r)
      |SELECT user_id, event_id,
      |  first_value(rem_len IGNORE NULLS) OVER w2 AS m_len,
      |  first_value(h_eid IGNORE NULLS) OVER w2 AS m_first
      |FROM x WINDOW w2 AS (PARTITION BY user_id ORDER BY rn
      |  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)""".stripMargin

  /** mr12: sequence packing via a running AGGREGATE IN DEFINE
    * (SQL:2016; reference `TestAggregationsInRowPatternMatching` —
    * the r16 surface): `PATTERN (G+) DEFINE G AS count(G.*) <= 8`
    * greedily chunks each user's event stream into 8-row windows (the
    * 9th row fails the running count and closes the match), with a
    * count measure, min/max aggregate measures, and an
    * `array_agg(G.event_id)` array measure serialized for the compare
    * harness. The oracle reproduces the chunking relationally —
    * `(row_number()-1)/8` GROUP BY — so the DEFINE-aggregate greedy
    * semantics are gated against an independent engine, not replayed
    * against themselves. */
  def mr12(s: SparkSession, dir: String): DataFrame = {
    val ev = Graft.load(s, dir, "events")
      .select(col("user_id"), col("event_id"))
    matchEvents(ev,
      """  MEASURES count(*) AS n_rows,
        |           min(event_id) AS first_id,
        |           max(event_id) AS last_id,
        |           array_agg(G.event_id) AS ids_arr
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (G+)
        |  DEFINE G AS count(G.*) <= 8""".stripMargin)
      .select(col("user_id"), col("n_rows"), col("first_id"), col("last_id"),
        concat_ws(",", col("ids_arr")).as("ids"))
  }

  val mr12Sql: String =
    """WITH r AS (
      |  SELECT user_id, event_id,
      |    (row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1) // 8 AS chunk
      |  FROM events)
      |SELECT user_id, CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(min(event_id) AS BIGINT) AS first_id,
      |  CAST(max(event_id) AS BIGINT) AS last_id,
      |  string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY event_id) AS ids
      |FROM r GROUP BY user_id, chunk""".stripMargin

  /** mr13: aggregate-state forking at pattern alternations (reference
    * `TestCopyAggregationStateInRowPatternMatching` — state is copied
    * per NFA thread at every `(H | L)` fork; here each thread folds its
    * own label history). `X` closes every 4-row chunk through a
    * GENERAL-argument running count (`count(CLASSIFIER())` — the
    * argument is computed per fed row, not a column), and additionally
    * asserts the chunk's map_agg/element_at/FIRST(CLASSIFIER())
    * integrity: the label stored under the chunk's smallest event key
    * must equal the first matched row's label. A broken per-thread
    * fold, map state, or first-label would fail the condition and
    * produce ZERO matches — the oracle reproduces the chunking and the
    * parity labels relationally, so any divergence is a row mismatch. */
  def mr13(s: SparkSession, dir: String): DataFrame = {
    val ev = Graft.load(s, dir, "events")
      .select(col("user_id"), col("event_id"))
    matchEvents(ev,
      """  MEASURES CLASSIFIER() AS lab
        |  ALL ROWS PER MATCH
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN ((H | L)* X)
        |  DEFINE H AS event_id % 2 = 1,
        |         L AS event_id % 2 = 0,
        |         X AS count(CLASSIFIER()) = 4 AND
        |              element_at(map_agg(event_id, CLASSIFIER()), min(event_id))
        |                = FIRST(CLASSIFIER())""".stripMargin)
      .select(col("user_id"), col("event_id"), col("lab"))
  }

  val mr13Sql: String =
    """WITH r AS (
      |  SELECT user_id, event_id,
      |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn,
      |    count(*) OVER (PARTITION BY user_id) AS n
      |  FROM events)
      |SELECT user_id, event_id,
      |  CASE WHEN rn % 4 = 0 THEN 'X'
      |       WHEN event_id % 2 = 1 THEN 'H' ELSE 'L' END AS lab
      |FROM r WHERE rn <= 4 * (n // 4)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mr13_agg_state_forking" -> mr13 _,
    "mr12_define_agg_packing" -> mr12 _,
    "mr11_window_seek" -> mr11 _,
    "mr10_partition_anchors" -> mr10 _,
    "mr9_pattern_exclusion" -> mr9 _,
    "mr8_empty_matches" -> mr8 _,
    "mr7_unmatched_rows" -> mr7 _,
    "mr1_match_recognize" -> mr1 _,
    "mr2_measures" -> mr2 _,
    "mr3_all_rows" -> mr3 _,
    "mr4_var_navigation" -> mr4 _,
    "mr5_reluctant_nav" -> mr5 _,
    "mr6_agg_measures" -> mr6 _)

  val oracle: Map[String, String] = Map(
    "mr13_agg_state_forking" -> mr13Sql,
    "mr12_define_agg_packing" -> mr12Sql,
    "mr11_window_seek" -> mr11Sql,
    "mr10_partition_anchors" -> mr10Sql,
    "mr9_pattern_exclusion" -> mr9Sql,
    "mr8_empty_matches" -> mr8Sql,
    "mr7_unmatched_rows" -> mr7Sql,
    "mr1_match_recognize" -> mr1Sql,
    "mr2_measures" -> mr2Sql,
    "mr3_all_rows" -> mr3Sql,
    "mr4_var_navigation" -> mr4Sql,
    "mr5_reluctant_nav" -> mr5Sql,
    "mr6_agg_measures" -> mr6Sql)
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.engine.Graft
import graft.sqlcompat.Dialect

/** The dialect-translation layer under the correctness gate: a query
  * written in the REFERENCE engine's SQL dialect (three-arg date_add/
  * date_diff with unit literals, strpos, TRY(), bitwise_* functions)
  * is mechanically translated by `sqlcompat/Dialect` and executed on
  * this engine, then hash-matched against the oracle's native
  * formulation — proving a reference user's existing SQL runs
  * unchanged AND returns identical values, including the
  * type-preserving DATE arithmetic (ship_by stays a DATE through
  * graft_date_add). */
object DialectQueries {

  /** The reference-dialect text, exactly as a witdb/Trino user would
    * write it. */
  val dx1Reference: String =
    """SELECT o_orderkey,
      |  date_add('day', 3, CAST(o_orderdate AS DATE)) AS ship_by,
      |  date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-01-01') AS days_left,
      |  strpos(o_orderpriority, '-') AS dash_pos,
      |  TRY(o_totalprice / (o_orderkey % 5)) AS ratio,
      |  bitwise_and(o_orderkey, 255) AS low_bits
      |FROM orders WHERE o_orderkey <= 2000""".stripMargin

  def dx1(s: SparkSession, dir: String): DataFrame = {
    Graft.registerAll(s, dir)
    s.sql(Dialect.translate(dx1Reference))
  }

  val dx1Sql: String =
    """SELECT o_orderkey,
      |  CAST(o_orderdate AS DATE) + INTERVAL 3 DAY AS ship_by,
      |  date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-01-01') AS days_left,
      |  CAST(strpos(o_orderpriority, '-') AS INTEGER) AS dash_pos,
      |  CASE WHEN o_orderkey % 5 = 0 THEN NULL
      |       ELSE o_totalprice / (o_orderkey % 5) END AS ratio,
      |  o_orderkey & 255 AS low_bits
      |FROM orders WHERE o_orderkey <= 2000""".stripMargin

  /** Quantified comparison predicates in the reference dialect:
    * `= ANY (subquery)` and `<> ALL (subquery)`. Since r14 the
    * dialect lowers EVERY quantified form (all operators × ALL/ANY/
    * SOME) onto a null-correct three-valued CASE over counting scalar
    * subqueries — the former IN / NOT IN shortcuts returned FALSE
    * instead of NULL in projection contexts under Spark's
    * ExistenceJoin rewrite (caught by the reference's own corner-case
    * vectors, ReferenceSqlVectorsSpec). The oracle runs the ORIGINAL
    * quantified syntax natively in DuckDB, so the rewrite is proven
    * against a real implementation of the standard. */
  val dx2Reference: String =
    """SELECT c_mktsegment, count(*) AS n_matched
      |FROM customer
      |WHERE c_acctbal = ANY (
      |    SELECT c2.c_acctbal FROM customer c2 WHERE c2.c_nationkey < 5)
      |  AND c_nationkey <> ALL (
      |    SELECT n_nationkey FROM nation WHERE n_name LIKE 'A%')
      |GROUP BY c_mktsegment""".stripMargin

  def dx2(s: SparkSession, dir: String): DataFrame = {
    Graft.registerAll(s, dir)
    s.sql(Dialect.translate(dx2Reference))
  }

  val dx2Sql: String =
    """SELECT c_mktsegment, count(*) AS n_matched
      |FROM customer
      |WHERE c_acctbal = ANY (
      |    SELECT c2.c_acctbal FROM customer c2 WHERE c2.c_nationkey < 5)
      |  AND c_nationkey <> ALL (
      |    SELECT n_nationkey FROM nation WHERE n_name LIKE 'A%')
      |GROUP BY c_mktsegment""".stripMargin

  /** MATCH_RECOGNIZE as SQL TEXT (reference grammar
    * `SqlBase.g4:360-399`): the exact query a reference user writes —
    * maximal rising runs per user with FINAL measures — parsed by
    * `sqlcompat/MatchRecognizeSql` and lowered onto the
    * `operators/MatchRecognize` NFA. Semantically identical to mr2's
    * API formulation, so the oracle is mr2's relational run
    * reconstruction — the gate proves SQL path ≡ API path ≡ oracle.
    * This converts the engine's flagship operator from API-parity to
    * SQL-parity. */
  val dx3Reference: String =
    """SELECT * FROM events MATCH_RECOGNIZE (
      |  PARTITION BY user_id
      |  ORDER BY event_id
      |  MEASURES FIRST(event_id) AS start_ord, LAST(event_id) AS end_ord,
      |           COUNT(*) AS n_steps, FIRST(value) AS first_val,
      |           LAST(value) AS last_val, MAX(value) AS peak
      |  ONE ROW PER MATCH
      |  AFTER MATCH SKIP PAST LAST ROW
      |  PATTERN (U{2,})
      |  DEFINE U AS value > PREV(value)
      |)""".stripMargin

  def dx3(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.sqlcompat.MatchRecognizeSql.translate(
      dx3Reference,
      name => Graft.load(s, dir, name)
        .select(col("user_id"), col("event_id"), col("value")))
  }

  val dx3Sql: String =
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
      |  max(value) AS peak
      |FROM r WHERE isu = 1
      |GROUP BY user_id, run_id
      |HAVING count(*) >= 2""".stripMargin

  /** The r13 widening of the MATCH_RECOGNIZE SQL front-end (reference
    * grammar `SqlBase.g4:360-399`): multi-column PARTITION BY and ORDER
    * BY, ALL ROWS PER MATCH, and measures over arbitrary input columns
    * (CLASSIFIER, RUNNING COUNT/MIN/MAX, FIRST of a second column) —
    * rising-value runs per (user, event type) with per-row RUNNING
    * measures, the standard's default semantics for ALL ROWS. The
    * oracle reconstructs the same runs relationally (run-id trick) and
    * computes the RUNNING measures as windows over the matched rows. */
  val dx4Reference: String =
    """SELECT * FROM events MATCH_RECOGNIZE (
      |  PARTITION BY user_id, event_type
      |  ORDER BY ts_ns, event_id
      |  MEASURES MATCH_NUMBER() AS match_no, CLASSIFIER() AS cls,
      |           COUNT(*) AS run_pos, MIN(value) AS run_min,
      |           MAX(value) AS run_max, FIRST(event_id) AS first_eid
      |  ALL ROWS PER MATCH
      |  AFTER MATCH SKIP PAST LAST ROW
      |  PATTERN (U{2,})
      |  DEFINE U AS value > PREV(value)
      |)""".stripMargin

  def dx4(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.sqlcompat.MatchRecognizeSql.translate(
      dx4Reference,
      name => Graft.events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts_ns"),
          col("event_id"), col("value")))
  }

  val dx4Sql: String =
    """WITH d AS (
      |  SELECT user_id, event_type, epoch_ns(ts) AS ts_ns, event_id, value,
      |    CASE WHEN value > lag(value) OVER w THEN 1 ELSE 0 END AS isu
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY epoch_ns(ts), event_id)),
      |r AS (
      |  SELECT *, CAST(sum(1 - isu) OVER (
      |    PARTITION BY user_id, event_type ORDER BY ts_ns, event_id) AS BIGINT) AS run_id
      |  FROM d),
      |m AS (
      |  SELECT user_id, event_type, ts_ns, event_id, value, run_id,
      |    CAST(row_number() OVER w2 AS BIGINT) AS run_pos,
      |    min(value) OVER w2 AS run_min,
      |    max(value) OVER w2 AS run_max,
      |    first_value(event_id) OVER w2 AS first_eid,
      |    count(*) OVER (PARTITION BY user_id, event_type, run_id) AS n_run
      |  FROM r WHERE isu = 1
      |  WINDOW w2 AS (PARTITION BY user_id, event_type, run_id ORDER BY ts_ns, event_id))
      |SELECT user_id, event_type, ts_ns, event_id,
      |  CAST(dense_rank() OVER (
      |    PARTITION BY user_id, event_type ORDER BY run_id) AS BIGINT) AS match_no,
      |  'U' AS cls, run_pos, run_min, run_max, first_eid, value
      |FROM m WHERE n_run >= 2""".stripMargin

  /** `sql` (reference dialect) through `Dialect.translate` over a temp
    * view of `table` alone: the relation-level builders below read one
    * table each, so they register it rather than the whole catalog. */
  private def overView(s: SparkSession, dir: String, sql: String, table: String): DataFrame = {
    Graft.load(s, dir, table).createOrReplaceTempView(table)
    s.sql(Dialect.translate(sql))
  }

  /** SQL-text UNNEST WITH ORDINALITY (reference `SqlBase.g4:331-333`),
    * lowered by `Dialect.translate` onto one `LATERAL VIEW` generator
    * (1-based BIGINT ordinality). The select list and WHERE run through
    * the same translation (`strpos` → `instr`). The oracle runs DuckDB's
    * UNNEST with generate_subscripts. */
  val dx5Reference: String =
    """SELECT doc_id, term, ord, strpos(term, 'e') AS e_pos
      |FROM documents
      |CROSS JOIN UNNEST(split(text, ' ')) WITH ORDINALITY AS t(term, ord)
      |WHERE doc_id < 40""".stripMargin

  def dx5(s: SparkSession, dir: String): DataFrame =
    overView(s, dir, dx5Reference, "documents")

  val dx5Sql: String =
    """SELECT doc_id,
      |  unnest(string_split(text, ' ')) AS term,
      |  CAST(generate_subscripts(string_split(text, ' '), 1) AS BIGINT) AS ord,
      |  CAST(strpos(unnest(string_split(text, ' ')), 'e') AS INTEGER) AS e_pos
      |FROM documents WHERE doc_id < 40""".stripMargin

  /** SQL-text TABLESAMPLE (reference `SqlBase.g4:331-333`
    * sampledRelation) lowered onto Spark's `TABLESAMPLE (p PERCENT)`
    * with a fixed seed. Engines use
    * different RNGs, so like smp1 this is a rows-only gate entry (no
    * oracle); the binomial-bounds assertion lives in the test suite. */
  val dx6Reference: String =
    """SELECT o_orderkey, o_totalprice
      |FROM orders TABLESAMPLE BERNOULLI(15)""".stripMargin

  def dx6(s: SparkSession, dir: String): DataFrame =
    overView(s, dir, dx6Reference, "orders")

  /** String comparisons in DEFINE (r13 DefineParser widening): the
    * funnel-shaped MATCH_RECOGNIZE a reference user actually writes —
    * view immediately followed by purchase per user — needs
    * `event_type = 'view'` predicates, not just numeric comparisons.
    * V P matches cannot overlap (a match must start at V), so the
    * oracle's lead()-pair reconstruction is exact. */
  val dx7Reference: String =
    """SELECT * FROM events MATCH_RECOGNIZE (
      |  PARTITION BY user_id
      |  ORDER BY ts_ns, event_id
      |  MEASURES MATCH_NUMBER() AS match_no, COUNT(*) AS n_steps,
      |           FIRST(ts_ns) AS v_ts, LAST(ts_ns) AS p_ts
      |  ONE ROW PER MATCH
      |  AFTER MATCH SKIP PAST LAST ROW
      |  PATTERN (V P)
      |  DEFINE V AS event_type = 'view',
      |         P AS event_type = 'purchase'
      |)""".stripMargin

  def dx7(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.sqlcompat.MatchRecognizeSql.translate(
      dx7Reference,
      name => Graft.events(s, dir)
        .select(col("user_id"), col("ts_ns"), col("event_id"), col("event_type")))
  }

  val dx7Sql: String =
    """WITH o AS (
      |  SELECT user_id, epoch_ns(ts) AS ts_ns, event_id, event_type,
      |    lead(event_type) OVER w AS nxt_type,
      |    lead(epoch_ns(ts)) OVER w AS nxt_ts
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id))
      |SELECT user_id,
      |  CAST(row_number() OVER (
      |    PARTITION BY user_id ORDER BY ts_ns, event_id) AS BIGINT) AS match_no,
      |  CAST(2 AS BIGINT) AS n_steps, ts_ns AS v_ts, nxt_ts AS p_ts
      |FROM o WHERE event_type = 'view' AND nxt_type = 'purchase'""".stripMargin

  /** ALL ROWS PER MATCH WITH UNMATCHED ROWS as SQL TEXT (reference
    * `SqlBase.g4` rowsPerMatch WITH UNMATCHED): the engine capability
    * mr7 proves through the API, now reachable from the reference
    * user's own query text. Every event row appears exactly once —
    * rising-run rows carry RUNNING measures, unmatched rows carry all
    * nulls. Oracle: mr7's relational run reconstruction re-shaped to
    * the SQL-mode output schema. */
  val dx9Reference: String =
    """SELECT * FROM events MATCH_RECOGNIZE (
      |  PARTITION BY user_id
      |  ORDER BY event_id
      |  MEASURES MATCH_NUMBER() AS mno, CLASSIFIER() AS cls,
      |           COUNT(*) AS rcnt, MAX(value) AS rmax
      |  ALL ROWS PER MATCH WITH UNMATCHED ROWS
      |  AFTER MATCH SKIP PAST LAST ROW
      |  PATTERN (U{2,})
      |  DEFINE U AS value > PREV(value)
      |)""".stripMargin

  def dx9(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.sqlcompat.MatchRecognizeSql.translate(
      dx9Reference,
      name => Graft.load(s, dir, name)
        .select(col("user_id"), col("event_id"), col("value")))
  }

  val dx9Sql: String =
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
      |  FROM r)
      |SELECT user_id, event_id,
      |  CAST(dense_rank() OVER (PARTITION BY user_id ORDER BY run_id) AS BIGINT) AS mno,
      |  'U' AS cls,
      |  CAST(row_number() OVER pr AS BIGINT) AS rcnt,
      |  max(value) OVER (pr ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rmax,
      |  value
      |FROM r2 WHERE isu = 1 AND urows >= 2
      |WINDOW pr AS (PARTITION BY user_id, run_id ORDER BY event_id)
      |UNION ALL
      |SELECT user_id, event_id, CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
      |  CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE), value
      |FROM r2 WHERE NOT (isu = 1 AND urows >= 2)""".stripMargin

  /** ALL ROWS PER MATCH SHOW EMPTY MATCHES as SQL TEXT (reference
    * `SqlBase.g4` emptyMatchHandling): with the zero-width-capable
    * `D*`, every maximal falling run is one match and every other row
    * anchors an EMPTY match — numbered in scan order with null
    * classifier, COUNT 0, null aggregates, but still carrying the
    * anchor row's columns. The engine capability mr8 proves through
    * the API, now from query text. */
  val dx10Reference: String =
    """SELECT * FROM events MATCH_RECOGNIZE (
      |  PARTITION BY user_id
      |  ORDER BY event_id
      |  MEASURES MATCH_NUMBER() AS mno, CLASSIFIER() AS cls,
      |           COUNT(*) AS rcnt, MIN(value) AS rmin
      |  ALL ROWS PER MATCH SHOW EMPTY MATCHES
      |  AFTER MATCH SKIP PAST LAST ROW
      |  PATTERN (D*)
      |  DEFINE D AS value < PREV(value)
      |)""".stripMargin

  def dx10(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.sqlcompat.MatchRecognizeSql.translate(
      dx10Reference,
      name => Graft.load(s, dir, name)
        .select(col("user_id"), col("event_id"), col("value")))
  }

  val dx10Sql: String =
    """WITH d AS (
      |  SELECT user_id, event_id, value,
      |    CASE WHEN value < lag(value) OVER w THEN 1 ELSE 0 END AS isd
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY event_id)),
      |r AS (
      |  SELECT *, CAST(sum(1 - isd) OVER (PARTITION BY user_id ORDER BY event_id) AS BIGINT) AS run_id
      |  FROM d),
      |anchors AS (
      |  SELECT user_id, min(event_id) AS aord, run_id, TRUE AS matched
      |  FROM r WHERE isd = 1 GROUP BY user_id, run_id
      |  UNION ALL
      |  SELECT user_id, event_id, NULL, FALSE FROM r WHERE isd = 0),
      |numbered AS (
      |  SELECT *, CAST(row_number() OVER (PARTITION BY user_id ORDER BY aord) AS BIGINT) AS mno
      |  FROM anchors)
      |SELECT r.user_id, r.event_id, n.mno, 'D' AS cls,
      |  CAST(row_number() OVER pr AS BIGINT) AS rcnt,
      |  min(r.value) OVER (pr ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rmin,
      |  r.value
      |FROM r JOIN numbered n ON n.matched AND n.user_id = r.user_id AND n.run_id = r.run_id
      |WHERE r.isd = 1
      |WINDOW pr AS (PARTITION BY r.user_id, r.run_id ORDER BY r.event_id)
      |UNION ALL
      |SELECT r.user_id, r.event_id, n.mno, CAST(NULL AS VARCHAR),
      |  CAST(0 AS BIGINT), CAST(NULL AS DOUBLE), r.value
      |FROM r JOIN numbered n ON NOT n.matched AND n.user_id = r.user_id AND n.aord = r.event_id
      |WHERE r.isd = 0""".stripMargin

  /** Collection-constructor sugar in the reference dialect
    * (`SqlBase.g4` primaryExpression: ARRAY[…], ROW(…), MAP(…)):
    * array literals become `array(…)`, the two-array map constructor
    * becomes `map_from_arrays`, and anonymous rows become structs —
    * whose lexicographic comparison semantics match row comparison,
    * proven here by ordering (n_regionkey, n_name) pairs against the
    * oracle's native row() comparison. element_at is 1-based in both
    * engines; since r14 bare `[i]` subscripts ALSO lower onto
    * element_at (the reference's subscript is 1-based — the old
    * pass-through read them 0-based in Spark; dx20 gates this). */
  val dx8Reference: String =
    """SELECT n_name,
      |  element_at(ARRAY[n_nationkey, n_regionkey, 99], 3) AS third,
      |  cardinality(ARRAY[n_nationkey, n_regionkey]) AS n_el,
      |  element_at(MAP(ARRAY['low', 'high'], ARRAY[n_regionkey, n_nationkey + 100]), 'high') AS hi_val,
      |  ROW(n_regionkey, n_name) < ROW(2, 'MOROCCO') AS before_morocco
      |FROM nation""".stripMargin

  def dx8(s: SparkSession, dir: String): DataFrame = {
    Graft.registerAll(s, dir)
    s.sql(Dialect.translate(dx8Reference))
  }

  // n_el: Spark's cardinality returns INT (Trino's BIGINT — same
  // strpos drift as dx1); the oracle casts to match the Spark type.
  val dx8Sql: String =
    """SELECT n_name,
      |  ([n_nationkey, n_regionkey, 99])[3] AS third,
      |  CAST(len([n_nationkey, n_regionkey]) AS INTEGER) AS n_el,
      |  (map(['low', 'high'], [n_regionkey, n_nationkey + 100])['high'])[1] AS hi_val,
      |  row(n_regionkey, n_name) < row(2, 'MOROCCO') AS before_morocco
      |FROM nation""".stripMargin

  /** SQL-text `ORDER BY … FETCH FIRST n ROWS WITH TIES` (reference
    * grammar `SqlBase.g4` queryNoWith / `ImplementLimitWithTies.java`)
    * lowered by `Dialect.translate` onto a rank filter in pipe syntax,
    * planned as WindowGroupLimit, so each partition pre-prunes to ~n
    * rows before the exchange. The sort key (o_orderdate) is deliberately
    * tie-heavy: the result keeps EVERY order on the boundary date, so
    * the clause's semantics (not just top-n) are what the oracle's
    * rank()<=n rewrite checks (the comparator has no WITH TIES). */
  val dx11Reference: String =
    """SELECT o_orderkey, o_custkey, o_orderdate
      |FROM orders
      |WHERE o_orderstatus = 'O'
      |ORDER BY o_orderdate
      |FETCH FIRST 50 ROWS WITH TIES""".stripMargin

  def dx11(s: SparkSession, dir: String): DataFrame =
    overView(s, dir, dx11Reference, "orders")

  val dx11Sql: String =
    """SELECT o_orderkey, o_custkey, o_orderdate FROM (
      |  SELECT o_orderkey, o_custkey, o_orderdate,
      |    rank() OVER (ORDER BY o_orderdate) AS rk
      |  FROM orders WHERE o_orderstatus = 'O') r
      |WHERE rk <= 50""".stripMargin

  /** Multi-argument UNNEST (reference `UnnestOperator.java` /
    * `SqlBase.g4` UNNEST relation primary): arguments zip positionally
    * and shorter arrays pad with nulls. Spark's `arrays_zip` has
    * exactly those pad semantics, so the lowering is one generator over
    * the zipped array; the oracle's multi-unnest SELECT
    * zips identically. Documents have varying word counts, so padding
    * is exercised in both directions against the fixed 3-element
    * array. */
  val dx12Reference: String =
    """SELECT doc_id, w, n
      |FROM documents
      |CROSS JOIN UNNEST(split(text, ' '), ARRAY[10, 20, 30]) AS t(w, n)
      |WHERE doc_id < 20""".stripMargin

  def dx12(s: SparkSession, dir: String): DataFrame =
    overView(s, dir, dx12Reference, "documents")

  val dx12Sql: String =
    """SELECT doc_id, unnest(string_split(text, ' ')) AS w,
      |  unnest([10, 20, 30]) AS n
      |FROM documents WHERE doc_id < 20""".stripMargin

  /** OUTER unnest (reference `UnnestOperator.java` outer flag; SQL form
    * `LEFT JOIN UNNEST(…) ON TRUE`): documents whose filtered word
    * array is EMPTY survive with a null word — the census shape (every
    * doc_id present exactly once when no word qualifies). The oracle
    * replays the outer contract by substituting [NULL] for empty
    * arrays before its inner unnest. */
  val dx13Reference: String =
    """SELECT doc_id, w
      |FROM documents
      |LEFT JOIN UNNEST(filter(split(text, ' '), x -> length(x) > 7)) AS t(w) ON TRUE
      |WHERE doc_id < 40""".stripMargin

  def dx13(s: SparkSession, dir: String): DataFrame =
    overView(s, dir, dx13Reference, "documents")

  val dx13Sql: String =
    """WITH f AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> length(x) > 7) AS l
      |  FROM documents WHERE doc_id < 40)
      |SELECT doc_id,
      |  unnest(CASE WHEN len(l) = 0 THEN [CAST(NULL AS VARCHAR)] ELSE l END) AS w
      |FROM f""".stripMargin

  /** Explicit RUNNING vs FINAL measure semantics in ALL ROWS PER MATCH
    * (grammar `SqlBase.g4` patternRecognitionExpression): the same
    * aggregate is measured both ways side-by-side — `run_max` grows
    * along the match (RUNNING, the ALL ROWS default), `fin_max` /
    * `fin_n` / `fin_cls` carry the whole-match value (and last-row
    * classifier) on EVERY row. The oracle replays RUNNING with a
    * bounded-frame window and FINAL with the full-partition frame. */
  val dx14Reference: String =
    """SELECT * FROM events MATCH_RECOGNIZE (
      |  PARTITION BY user_id, event_type
      |  ORDER BY ts_ns, event_id
      |  MEASURES MATCH_NUMBER() AS match_no,
      |           RUNNING COUNT(*) AS run_pos,
      |           RUNNING MAX(value) AS run_max,
      |           FINAL COUNT(*) AS fin_n,
      |           FINAL MAX(value) AS fin_max,
      |           FINAL CLASSIFIER() AS fin_cls
      |  ALL ROWS PER MATCH
      |  AFTER MATCH SKIP PAST LAST ROW
      |  PATTERN (U{2,})
      |  DEFINE U AS value > PREV(value)
      |)""".stripMargin

  def dx14(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.sqlcompat.MatchRecognizeSql.translate(
      dx14Reference,
      name => Graft.events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts_ns"),
          col("event_id"), col("value")))
  }

  val dx14Sql: String =
    """WITH d AS (
      |  SELECT user_id, event_type, epoch_ns(ts) AS ts_ns, event_id, value,
      |    CASE WHEN value > lag(value) OVER w THEN 1 ELSE 0 END AS isu
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY epoch_ns(ts), event_id)),
      |r AS (
      |  SELECT *, CAST(sum(1 - isu) OVER (
      |    PARTITION BY user_id, event_type ORDER BY ts_ns, event_id) AS BIGINT) AS run_id
      |  FROM d),
      |m AS (
      |  SELECT user_id, event_type, ts_ns, event_id, value, run_id,
      |    CAST(row_number() OVER w2 AS BIGINT) AS run_pos,
      |    max(value) OVER w2 AS run_max,
      |    CAST(count(*) OVER w3 AS BIGINT) AS fin_n,
      |    max(value) OVER w3 AS fin_max
      |  FROM r WHERE isu = 1
      |  WINDOW w2 AS (PARTITION BY user_id, event_type, run_id ORDER BY ts_ns, event_id),
      |         w3 AS (PARTITION BY user_id, event_type, run_id))
      |SELECT user_id, event_type, ts_ns, event_id,
      |  CAST(dense_rank() OVER (
      |    PARTITION BY user_id, event_type ORDER BY run_id) AS BIGINT) AS match_no,
      |  run_pos, run_max, fin_n, fin_max, 'U' AS fin_cls, value
      |FROM m WHERE fin_n >= 2""".stripMargin

  /** Variable-QUALIFIED measure columns (`fn(VAR.col)`, grammar
    * `SqlBase.g4` patternRecognitionExpression → the reference's
    * per-variable value pointers): the aggregate reads ONLY the rows
    * the NFA labeled with that variable. The funnel below needs them
    * for real — FIRST(V.ts_ns) is the view, FIRST(P.ts_ns) the
    * purchase that closed the funnel, MIN(W.value) ranges over just
    * the in-between rows (null when the purchase directly follows).
    * Pattern note: W excludes purchases, so greedy `W*` provably stops
    * at the FIRST subsequent purchase. The oracle reconstructs the
    * same segmentation relationally: segment = rows after the previous
    * purchase through the next one; match = first view in segment. */
  val dx15Reference: String =
    """SELECT * FROM events MATCH_RECOGNIZE (
      |  PARTITION BY user_id
      |  ORDER BY ts_ns, event_id
      |  MEASURES MATCH_NUMBER() AS match_no,
      |           FIRST(V.ts_ns) AS v_ts,
      |           FIRST(P.ts_ns) AS p_ts,
      |           MIN(W.value) AS w_min,
      |           COUNT(*) AS n_steps
      |  ONE ROW PER MATCH
      |  AFTER MATCH SKIP PAST LAST ROW
      |  PATTERN (V W* P)
      |  DEFINE V AS event_type = 'view',
      |         W AS event_type <> 'purchase',
      |         P AS event_type = 'purchase'
      |)""".stripMargin

  def dx15(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.sqlcompat.MatchRecognizeSql.translate(
      dx15Reference,
      name => Graft.events(s, dir)
        .select(col("user_id"), col("ts_ns"), col("event_id"),
          col("event_type"), col("value")))
  }

  val dx15Sql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_ns(ts) AS ts_ns, event_id, event_type, value,
      |    COALESCE(CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) OVER (
      |      PARTITION BY user_id ORDER BY epoch_ns(ts), event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS seg
      |  FROM events),
      |fv AS (
      |  SELECT user_id, seg, ts_ns AS v_ts, event_id AS v_eid FROM (
      |    SELECT user_id, seg, ts_ns, event_id,
      |      row_number() OVER (PARTITION BY user_id, seg ORDER BY ts_ns, event_id) AS rn
      |    FROM e WHERE event_type = 'view') WHERE rn = 1),
      |pp AS (
      |  SELECT user_id, seg, ts_ns AS p_ts FROM e WHERE event_type = 'purchase'),
      |base AS (
      |  SELECT fv.user_id, fv.seg, fv.v_ts, fv.v_eid, pp.p_ts
      |  FROM fv JOIN pp ON fv.user_id = pp.user_id AND fv.seg = pp.seg),
      |agg AS (
      |  SELECT b.user_id, b.seg, b.v_ts, b.v_eid, b.p_ts,
      |    CAST(count(*) AS BIGINT) AS n_steps,
      |    min(CASE WHEN e.event_type <> 'purchase'
      |             AND (e.ts_ns, e.event_id) > (b.v_ts, b.v_eid)
      |        THEN e.value END) AS w_min
      |  FROM base b JOIN e ON e.user_id = b.user_id AND e.seg = b.seg
      |    AND (e.ts_ns, e.event_id) >= (b.v_ts, b.v_eid)
      |  GROUP BY b.user_id, b.seg, b.v_ts, b.v_eid, b.p_ts)
      |SELECT user_id,
      |  CAST(row_number() OVER (
      |    PARTITION BY user_id ORDER BY v_ts, v_eid) AS BIGINT) AS match_no,
      |  v_ts, p_ts, w_min, n_steps
      |FROM agg""".stripMargin

  /** Navigation OFFSETS in measures (`FIRST(col, n)` / `LAST(col, n)`,
    * reference `LogicalIndexNavigation.java`): the (n+1)-th value from
    * either end of the match, null when the match is shorter — v2 is
    * null for exactly-2-row runs, which the oracle's rn=3 CASE
    * reproduces. Engine state is O(offset) per measure (a trailing
    * ring for LAST), never the whole match. */
  val dx16Reference: String =
    """SELECT * FROM events MATCH_RECOGNIZE (
      |  PARTITION BY user_id, event_type
      |  ORDER BY ts_ns, event_id
      |  MEASURES MATCH_NUMBER() AS match_no,
      |           FIRST(value) AS v0,
      |           FIRST(value, 1) AS v1,
      |           FIRST(value, 2) AS v2,
      |           LAST(value, 1) AS vl1,
      |           COUNT(*) AS n
      |  ONE ROW PER MATCH
      |  AFTER MATCH SKIP PAST LAST ROW
      |  PATTERN (U{2,})
      |  DEFINE U AS value > PREV(value)
      |)""".stripMargin

  def dx16(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.sqlcompat.MatchRecognizeSql.translate(
      dx16Reference,
      name => Graft.events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts_ns"),
          col("event_id"), col("value")))
  }

  val dx16Sql: String =
    """WITH d AS (
      |  SELECT user_id, event_type, epoch_ns(ts) AS ts_ns, event_id, value,
      |    CASE WHEN value > lag(value) OVER w THEN 1 ELSE 0 END AS isu
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY epoch_ns(ts), event_id)),
      |r AS (
      |  SELECT *, CAST(sum(1 - isu) OVER (
      |    PARTITION BY user_id, event_type ORDER BY ts_ns, event_id) AS BIGINT) AS run_id
      |  FROM d),
      |m AS (
      |  SELECT user_id, event_type, run_id, value,
      |    row_number() OVER (PARTITION BY user_id, event_type, run_id
      |                       ORDER BY ts_ns, event_id) AS rn,
      |    row_number() OVER (PARTITION BY user_id, event_type, run_id
      |                       ORDER BY ts_ns DESC, event_id DESC) AS rnd
      |  FROM r WHERE isu = 1),
      |a AS (
      |  SELECT user_id, event_type, run_id,
      |    max(CASE WHEN rn = 1 THEN value END) AS v0,
      |    max(CASE WHEN rn = 2 THEN value END) AS v1,
      |    max(CASE WHEN rn = 3 THEN value END) AS v2,
      |    max(CASE WHEN rnd = 2 THEN value END) AS vl1,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM m GROUP BY user_id, event_type, run_id
      |  HAVING count(*) >= 2)
      |SELECT user_id, event_type,
      |  CAST(row_number() OVER (
      |    PARTITION BY user_id, event_type ORDER BY run_id) AS BIGINT) AS match_no,
      |  v0, v1, v2, vl1, n
      |FROM a""".stripMargin

  /** Arithmetic + IS NOT NULL in DEFINE predicates (`SqlBase.g4`
    * expression grammar inside patternRecognition DEFINE): the
    * relative-threshold form real surge patterns use — a row continues
    * the run only if it rises MORE THAN 5% over the previous row.
    * Both engines evaluate `prev * 1.05` in IEEE doubles, so the
    * booleans (and hence the runs) agree exactly. */
  val dx17Reference: String =
    """SELECT * FROM events MATCH_RECOGNIZE (
      |  PARTITION BY user_id, event_type
      |  ORDER BY ts_ns, event_id
      |  MEASURES MATCH_NUMBER() AS match_no, COUNT(*) AS n,
      |           MIN(value) AS vmin, MAX(value) AS vmax
      |  ONE ROW PER MATCH
      |  AFTER MATCH SKIP PAST LAST ROW
      |  PATTERN (S{2,})
      |  DEFINE S AS value IS NOT NULL AND value > PREV(value) * 1.05
      |)""".stripMargin

  def dx17(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.sqlcompat.MatchRecognizeSql.translate(
      dx17Reference,
      name => Graft.events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts_ns"),
          col("event_id"), col("value")))
  }

  val dx17Sql: String =
    """WITH d AS (
      |  SELECT user_id, event_type, epoch_ns(ts) AS ts_ns, event_id, value,
      |    CASE WHEN value IS NOT NULL AND value > lag(value) OVER w * 1.05
      |         THEN 1 ELSE 0 END AS iss
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY epoch_ns(ts), event_id)),
      |r AS (
      |  SELECT *, CAST(sum(1 - iss) OVER (
      |    PARTITION BY user_id, event_type ORDER BY ts_ns, event_id) AS BIGINT) AS run_id
      |  FROM d),
      |a AS (
      |  SELECT user_id, event_type, run_id,
      |    CAST(count(*) AS BIGINT) AS n, min(value) AS vmin, max(value) AS vmax
      |  FROM r WHERE iss = 1
      |  GROUP BY user_id, event_type, run_id
      |  HAVING count(*) >= 2)
      |SELECT user_id, event_type,
      |  CAST(row_number() OVER (
      |    PARTITION BY user_id, event_type ORDER BY run_id) AS BIGINT) AS match_no,
      |  n, vmin, vmax
      |FROM a""".stripMargin

  /** STRING columns in measures (the reference's value pointers are
    * type-generic; ours were numeric-only until r13): FIRST/LAST/
    * MIN/MAX over `event_type`, composed with a navigation offset
    * (the middle element of each triple). The pattern chunks each
    * user's stream into consecutive 3-event windows — `1 = 1` is the
    * always-true DEFINE — so the oracle is a plain rn DIV 3 grouping
    * over full triples. */
  val dx18Reference: String =
    """SELECT * FROM events MATCH_RECOGNIZE (
      |  PARTITION BY user_id
      |  ORDER BY ts_ns, event_id
      |  MEASURES MATCH_NUMBER() AS match_no,
      |           FIRST(event_type) AS t_first,
      |           FIRST(event_type, 1) AS t_mid,
      |           LAST(event_type) AS t_last,
      |           MIN(event_type) AS t_min,
      |           MAX(event_type) AS t_max
      |  ONE ROW PER MATCH
      |  AFTER MATCH SKIP PAST LAST ROW
      |  PATTERN (A A A)
      |  DEFINE A AS 1 = 1
      |)""".stripMargin

  def dx18(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.sqlcompat.MatchRecognizeSql.translate(
      dx18Reference,
      name => Graft.events(s, dir)
        .select(col("user_id"), col("ts_ns"), col("event_id"), col("event_type")))
  }

  val dx18Sql: String =
    """WITH o AS (
      |  SELECT user_id, event_type,
      |    row_number() OVER (
      |      PARTITION BY user_id ORDER BY epoch_ns(ts), event_id) - 1 AS rn
      |  FROM events),
      |g AS (
      |  SELECT user_id, rn // 3 AS grp, event_type,
      |    row_number() OVER (PARTITION BY user_id, rn // 3 ORDER BY rn) AS p,
      |    count(*) OVER (PARTITION BY user_id, rn // 3) AS c
      |  FROM o)
      |SELECT user_id, CAST(grp + 1 AS BIGINT) AS match_no,
      |  max(CASE WHEN p = 1 THEN event_type END) AS t_first,
      |  max(CASE WHEN p = 2 THEN event_type END) AS t_mid,
      |  max(CASE WHEN p = 3 THEN event_type END) AS t_last,
      |  min(event_type) AS t_min, max(event_type) AS t_max
      |FROM g WHERE c = 3 GROUP BY user_id, grp""".stripMargin

  /** Arithmetic over measure primitives (`SqlBase.g4` measureDefinition
    * allows full expressions): the funnel-latency form —
    * `LAST(ts_ns) - FIRST(ts_ns)` — with the NFA emitting the distinct
    * primitives as hidden columns and Catalyst computing the
    * arithmetic, so epoch-nanos differences stay in exact Long (a
    * Double path would corrupt them past 2^53). */
  val dx19Reference: String =
    """SELECT * FROM events MATCH_RECOGNIZE (
      |  PARTITION BY user_id
      |  ORDER BY ts_ns, event_id
      |  MEASURES MATCH_NUMBER() AS match_no,
      |           LAST(ts_ns) - FIRST(ts_ns) AS dur_ns,
      |           (MAX(value) - MIN(value)) / 2 AS half_spread,
      |           FIRST(ts_ns) AS v_ts
      |  ONE ROW PER MATCH
      |  AFTER MATCH SKIP PAST LAST ROW
      |  PATTERN (V P)
      |  DEFINE V AS event_type = 'view',
      |         P AS event_type = 'purchase'
      |)""".stripMargin

  def dx19(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.sqlcompat.MatchRecognizeSql.translate(
      dx19Reference,
      name => Graft.events(s, dir)
        .select(col("user_id"), col("ts_ns"), col("event_id"),
          col("event_type"), col("value")))
  }

  val dx19Sql: String =
    """WITH o AS (
      |  SELECT user_id, epoch_ns(ts) AS ts_ns, event_id, event_type, value,
      |    lead(event_type) OVER w AS nxt_type,
      |    lead(epoch_ns(ts)) OVER w AS nxt_ts,
      |    lead(value) OVER w AS nxt_val
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id))
      |SELECT user_id,
      |  CAST(row_number() OVER (
      |    PARTITION BY user_id ORDER BY ts_ns, event_id) AS BIGINT) AS match_no,
      |  nxt_ts - ts_ns AS dur_ns,
      |  (greatest(value, nxt_val) - least(value, nxt_val)) / 2 AS half_spread,
      |  ts_ns AS v_ts
      |FROM o WHERE event_type = 'view' AND nxt_type = 'purchase'""".stripMargin

  /** r14 promotions from ReferenceSqlVectorsSpec: ORDERING quantified
    * comparisons (`> ALL`, `< SOME` — grammar `SqlBase.g4`
    * comparisonQuantifier) through the null-correct CASE rewrite, in
    * BOTH filter and projection contexts, plus the reference's
    * 1-BASED `[i]` subscript (`ArraySubscriptOperator.java`) lowered
    * onto element_at. The oracle runs the ORIGINAL quantified syntax
    * and 1-based list indexing natively. */
  val dx20Reference: String =
    """SELECT c_custkey,
      |  ARRAY[c_nationkey, c_custkey][1] AS nk,
      |  c_acctbal < SOME (
      |    SELECT c3.c_acctbal FROM customer c3 WHERE c3.c_nationkey = 7) AS below_some
      |FROM customer
      |WHERE c_acctbal > ALL (
      |    SELECT c2.c_acctbal FROM customer c2 WHERE c2.c_nationkey = 3)""".stripMargin

  def dx20(s: SparkSession, dir: String): DataFrame = {
    Graft.registerAll(s, dir)
    s.sql(Dialect.translate(dx20Reference))
  }

  val dx20Sql: String =
    """SELECT c_custkey,
      |  CAST([c_nationkey, c_custkey][1] AS BIGINT) AS nk,
      |  c_acctbal < SOME (
      |    SELECT c3.c_acctbal FROM customer c3 WHERE c3.c_nationkey = 7) AS below_some
      |FROM customer
      |WHERE c_acctbal > ALL (
      |    SELECT c2.c_acctbal FROM customer c2 WHERE c2.c_nationkey = 3)""".stripMargin

  /** r14 promotion: the reference's join-relation UNNEST
    * (`CROSS JOIN UNNEST(expr) AS t(c)`) inside GENERAL SQL — with a
    * WHERE, GROUP BY and HAVING around it — lowered onto Spark's
    * LATERAL VIEW explode by the dialect layer. Scale shape: the
    * generator is narrow (no shuffle); only the word-count aggregate
    * exchanges. */
  val dx21Reference: String =
    """SELECT w, count(*) AS n
      |FROM documents CROSS JOIN UNNEST(split(text, ' ')) AS t(w)
      |WHERE doc_id < 100
      |GROUP BY w
      |HAVING count(*) >= 5""".stripMargin

  def dx21(s: SparkSession, dir: String): DataFrame = {
    Graft.registerAll(s, dir)
    s.sql(Dialect.translate(dx21Reference))
  }

  val dx21Sql: String =
    """SELECT w, count(*) AS n
      |FROM (SELECT unnest(string_split(text, ' ')) AS w
      |      FROM documents WHERE doc_id < 100) u
      |GROUP BY w
      |HAVING count(*) >= 5""".stripMargin

  /** r14: THREE-PART table names (reference connector model —
    * `catalog.schema.table`, `ConnectorMetadata.getTableHandle`)
    * resolve through a real V2 catalog (`graft.catalog.GraftCatalog`,
    * registered as `graft`, schema `main`, tables served as native V2
    * parquet with full pushdown). Reference SQL with qualified names
    * parses and runs UNCHANGED; the oracle computes the same join
    * from the flat views. Statements-level SET SESSION is unit-tested
    * in DialectSpec. */
  val dx22Reference: String =
    """SELECT r.r_name, count(*) AS n_nations,
      |  CAST(sum(n.n_nationkey) AS BIGINT) AS key_sum
      |FROM graft.main.nation n
      |JOIN graft.main.region r ON n.n_regionkey = r.r_regionkey
      |GROUP BY r.r_name""".stripMargin

  def dx22(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft",
      classOf[graft.catalog.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root", dir)
    s.sql(Dialect.translate(dx22Reference))
  }

  val dx22Sql: String =
    """SELECT r_name, count(*) AS n_nations,
      |  CAST(sum(n_nationkey) AS BIGINT) AS key_sum
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name""".stripMargin

  /** r14 promotion: the reference's floating-point NaN contract for
    * the min/max aggregate family (`MinMaxCompare.java`, replayed from
    * its testMinMax*FloatingPointNaN vectors): NaN inputs/keys are
    * SKIPPED unless nothing else remains. Spark natively ranks NaN
    * above every double (max would return NaN) — the
    * NanAwareFloatingAggs resolution rule swaps in the two-slot
    * declarative aggregates. The oracle spells the skip explicitly
    * (`CASE WHEN isnan THEN NULL`), which DuckDB's null-skipping
    * aggregates then honor; the (orderkey, linenumber)-derived key
    * keeps min_by/max_by deterministic under ties. */
  val dx23Reference: String =
    """SELECT l_returnflag,
      |  min(nan_mix) AS mn, max(nan_mix) AS mx,
      |  min_by(l_orderkey, nan_key) AS k_min,
      |  max_by(l_orderkey, nan_key) AS k_max
      |FROM (
      |  SELECT l_returnflag, l_orderkey,
      |    CASE WHEN l_partkey % 7 = 0 THEN nan() ELSE l_extendedprice END AS nan_mix,
      |    CASE WHEN l_partkey % 7 = 0 THEN nan()
      |         ELSE CAST(l_orderkey AS DOUBLE) * 10 + l_linenumber END AS nan_key
      |  FROM lineitem WHERE l_orderkey <= 4000) t
      |GROUP BY l_returnflag""".stripMargin

  def dx23(s: SparkSession, dir: String): DataFrame = {
    Graft.registerAll(s, dir)
    s.sql(Dialect.translate(dx23Reference))
  }

  val dx23Sql: String =
    """SELECT l_returnflag,
      |  min(CASE WHEN isnan(nan_mix) THEN NULL ELSE nan_mix END) AS mn,
      |  max(CASE WHEN isnan(nan_mix) THEN NULL ELSE nan_mix END) AS mx,
      |  CAST(arg_min(l_orderkey, CASE WHEN isnan(nan_key) THEN NULL ELSE nan_key END) AS BIGINT) AS k_min,
      |  CAST(arg_max(l_orderkey, CASE WHEN isnan(nan_key) THEN NULL ELSE nan_key END) AS BIGINT) AS k_max
      |FROM (
      |  SELECT l_returnflag, l_orderkey,
      |    CASE WHEN l_partkey % 7 = 0 THEN 'NaN'::DOUBLE ELSE l_extendedprice END AS nan_mix,
      |    CASE WHEN l_partkey % 7 = 0 THEN 'NaN'::DOUBLE
      |         ELSE CAST(l_orderkey AS DOUBLE) * 10 + l_linenumber END AS nan_key
      |  FROM lineitem WHERE l_orderkey <= 4000) t
      |GROUP BY l_returnflag""".stripMargin

  // --------------------------- dx24 late-r14 dialect surface
  /** Composed GROUP BY (plain key × ROLLUP — the dialect's
    * cross-product GROUPING SETS expansion), an ordered array_agg
    * (null-keeping struct collect + comparator sort), and a generic
    * TRY over ANSI-failing casts, all under the full DuckDB hash gate.
    * The oracle spells the composed grouping as its explicit
    * UNION-of-group-bys equivalent. The ordered array_agg is
    * serialized with array_join on BOTH sides (the ag5/ag6
    * convention) because the driver's compare harness sorts columns
    * and raw arrays are unhashable there. */
  val dx24Reference: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity * 100 AS BIGINT)) AS BIGINT) AS qty100,
      |  array_join(array_agg(l_linenumber ORDER BY l_linenumber DESC), ',') AS lns,
      |  COUNT(TRY(CAST(substr(CAST(l_orderkey AS VARCHAR), 1, 1) AS BIGINT))) AS head_digits
      |FROM lineitem WHERE l_orderkey < 500
      |GROUP BY l_returnflag, ROLLUP (l_linestatus)""".stripMargin

  def dx24(s: SparkSession, dir: String): DataFrame = {
    Graft.registerAll(s, dir)
    s.sql(Dialect.translate(dx24Reference))
  }

  val dx24Sql: String =
    """WITH src AS (SELECT * FROM lineitem WHERE l_orderkey < 500)
      |SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity * 100 AS BIGINT)) AS BIGINT) AS qty100,
      |  array_to_string(array_agg(l_linenumber ORDER BY l_linenumber DESC), ',') AS lns,
      |  CAST(COUNT(*) AS BIGINT) AS head_digits
      |FROM src GROUP BY l_returnflag, l_linestatus
      |UNION ALL
      |SELECT l_returnflag, NULL,
      |  CAST(SUM(CAST(l_quantity * 100 AS BIGINT)) AS BIGINT),
      |  array_to_string(array_agg(l_linenumber ORDER BY l_linenumber DESC), ','),
      |  CAST(COUNT(*) AS BIGINT)
      |FROM src GROUP BY l_returnflag""".stripMargin

  // --------------------------- dx25-dx27: join-corpus promotions (r15)
  /** FULL OUTER JOIN with a non-equi residual, filtered to the outer
    * residue (reference `AbstractTestJoinQueries.java:706`
    * testNonEqualityFullJoin) — the outer-join null-semantics corner
    * under the full DuckDB hash gate. Inputs are key-bounded: the
    * oracle engine has no hash path for an equi+residual FULL join and
    * degrades to ~100 s on the full sf0.1 tables, which would poison
    * the comparator baseline (Spark's SMJ runs it fine either way —
    * the UNBOUNDED shape is covered by the reformulation vectors in
    * ReferenceSqlVectorsSpec). */
  val dx25Reference: String =
    """SELECT CAST(count(*) AS BIGINT) AS n,
      |  CAST(count(l.l_orderkey) AS BIGINT) AS n_left,
      |  CAST(count(o.o_orderkey) AS BIGINT) AS n_right
      |FROM (SELECT * FROM lineitem WHERE l_orderkey < 30000) l
      |  FULL OUTER JOIN (SELECT * FROM orders WHERE o_orderkey < 30000) o
      |  ON l.l_orderkey = o.o_orderkey AND l.l_quantity > 25
      |WHERE l.l_orderkey IS NULL OR o.o_orderkey IS NULL""".stripMargin

  def dx25(s: SparkSession, dir: String): DataFrame = {
    Graft.registerAll(s, dir)
    s.sql(Dialect.translate(dx25Reference))
  }

  val dx25Sql: String = dx25Reference

  /** Projected (value-context) IN with NULLs on both sides (reference
    * `AbstractTestJoinQueries.java:1866` testSemiJoinNullHandling):
    * Spark's bare ExistenceJoin is 2-valued here, so the dialect's
    * projectedInPass lowers onto the quantified counting CASE; DuckDB
    * evaluates the ORIGINAL three-valued IN natively — the hash gate
    * proves the NULL rows land exactly right. */
  val dx26Reference: String =
    """SELECT l_orderkey % 5 AS grp,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(count(CASE WHEN ink THEN 1 END) AS BIGINT) AS n_true,
      |  CAST(count(CASE WHEN ink IS NULL THEN 1 END) AS BIGINT) AS n_null
      |FROM (
      |  SELECT l_orderkey,
      |    (CASE WHEN l_orderkey % 7 = 0 THEN NULL ELSE l_orderkey END) IN
      |      (SELECT CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE o_orderkey END
      |       FROM orders WHERE o_orderkey < 1000) AS ink
      |  FROM lineitem WHERE l_orderkey < 2000) t
      |GROUP BY l_orderkey % 5""".stripMargin

  def dx26(s: SparkSession, dir: String): DataFrame = {
    Graft.registerAll(s, dir)
    s.sql(Dialect.translate(dx26Reference))
  }

  val dx26Sql: String = dx26Reference

  /** JOIN ... USING over a derived relation (reference
    * `AbstractTestJoinQueries.java:782` testJoinUsingMultipleFields /
    * `:1550` testJoinUnaliasedSubqueries): USING resolution + the
    * coalesced output column ride the same spelling on both engines. */
  val dx27Reference: String =
    """SELECT CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(l_quantity * 100 AS BIGINT)) AS BIGINT) AS q100
      |FROM lineitem JOIN (SELECT o_orderkey AS l_orderkey, o_orderdate FROM orders) t
      |  USING (l_orderkey)
      |WHERE l_orderkey < 3000""".stripMargin

  def dx27(s: SparkSession, dir: String): DataFrame = {
    Graft.registerAll(s, dir)
    s.sql(Dialect.translate(dx27Reference))
  }

  val dx27Sql: String = dx27Reference

  // --------------------------- dx28-dx29: window-frame promotions (r16)
  /** GROUPS frame in reference SQL (grammar `SqlBase.g4` windowFrame;
    * behavior pinned by `sql/query/TestWindowFrameGroups.java`) —
    * the dialect lowers it to RANGE over an injected BIGINT dense_rank
    * column; the oracle engine has no GROUPS frames either, so its
    * side spells the SAME canonical rewrite explicitly, proving the
    * lowering against an independent RANGE implementation. Scale
    * shape: one extra window column over the same partitioning — no
    * added shuffle. */
  val dx28Reference: String =
    """SELECT l_suppkey, l_shipdate,
      |  CAST(sum(CAST(l_quantity * 100 AS BIGINT)) OVER (
      |    PARTITION BY l_suppkey ORDER BY l_shipdate
      |    GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS BIGINT) AS g_qty
      |FROM lineitem WHERE l_suppkey <= 20""".stripMargin

  def dx28(s: SparkSession, dir: String): DataFrame = {
    Graft.registerAll(s, dir)
    s.sql(Dialect.translate(dx28Reference))
  }

  val dx28Sql: String =
    """WITH src AS (
      |  SELECT l_suppkey, l_shipdate, l_quantity,
      |    dense_rank() OVER (PARTITION BY l_suppkey ORDER BY l_shipdate) AS g
      |  FROM lineitem WHERE l_suppkey <= 20)
      |SELECT l_suppkey, l_shipdate,
      |  CAST(sum(CAST(l_quantity * 100 AS BIGINT)) OVER (
      |    PARTITION BY l_suppkey ORDER BY g
      |    RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS BIGINT) AS g_qty
      |FROM src""".stripMargin

  /** RANGE frame with offset bounds over a NULLABLE sort key plus a
    * null-KEEPING windowed array_agg (`TestWindowFrameRange.java`
    * testNullsSortKey / testMixedTypeFrameBounds*): null-key rows take
    * their peer group per SQL:2016, value rows exclude the null
    * section across offset bounds, and NULL elements survive
    * collection (3-arg array_join renders them). The oracle engine's
    * own null-key window semantics are not trusted here — its side
    * computes the standard's frames EXPLICITLY via a bounded
    * self-join, so the gate proves the semantics, not engine
    * agreement. */
  val dx29Reference: String =
    """SELECT l_orderkey, l_linenumber,
      |  array_join(
      |    array_agg(NULLIF(l_linenumber, 2)) OVER (
      |      PARTITION BY l_orderkey ORDER BY NULLIF(l_linenumber, 3)
      |      RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING),
      |    ',', 'N') AS win
      |FROM (SELECT DISTINCT l_orderkey, l_linenumber
      |      FROM lineitem WHERE l_orderkey < 2000) t""".stripMargin

  def dx29(s: SparkSession, dir: String): DataFrame = {
    Graft.registerAll(s, dir)
    s.sql(Dialect.translate(dx29Reference))
  }

  val dx29Sql: String =
    """WITH src AS (
      |  SELECT DISTINCT l_orderkey, l_linenumber, NULLIF(l_linenumber, 3) AS k
      |  FROM lineitem WHERE l_orderkey < 2000)
      |SELECT a.l_orderkey, a.l_linenumber,
      |  string_agg(coalesce(CAST(NULLIF(b.l_linenumber, 2) AS VARCHAR), 'N'), ','
      |             ORDER BY b.k NULLS LAST, b.l_linenumber) AS win
      |FROM src a JOIN src b ON a.l_orderkey = b.l_orderkey
      |  AND (CASE WHEN a.k IS NULL THEN b.k IS NULL
      |            ELSE b.k BETWEEN a.k - 1 AND a.k + 1 END)
      |GROUP BY a.l_orderkey, a.l_linenumber""".stripMargin

  /** Dynamic (per-row) ROWS frame offsets in reference SQL (the
    * reference's FrameInfo channel offsets; Spark requires foldable
    * bounds) — the dialect lowers onto an ordered partition collect +
    * per-row filter over a row_number axis (WindowFrameSql). The
    * oracle reproduces the frames relationally via a positional
    * self-join, so the lowering is gated against an independent
    * engine. Both a collection and a sum aggregate run over the same
    * dynamic frame. */
  val dx30Reference: String =
    """SELECT user_id, event_id,
      |  array_join(array_agg(event_id) OVER (
      |    PARTITION BY user_id ORDER BY event_id
      |    ROWS BETWEEN (event_id % 3) PRECEDING AND CURRENT ROW), ',') AS win,
      |  sum(event_id) OVER (
      |    PARTITION BY user_id ORDER BY event_id
      |    ROWS BETWEEN (event_id % 3) PRECEDING AND CURRENT ROW) AS s
      |FROM events WHERE user_id < 50""".stripMargin

  def dx30(s: SparkSession, dir: String): DataFrame = {
    Graft.registerAll(s, dir)
    s.sql(Dialect.translate(dx30Reference))
  }

  val dx30Sql: String =
    """WITH r AS (
      |  SELECT user_id, event_id,
      |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
      |  FROM events WHERE user_id < 50)
      |SELECT a.user_id, a.event_id,
      |  string_agg(CAST(b.event_id AS VARCHAR), ',' ORDER BY b.rn) AS win,
      |  CAST(sum(b.event_id) AS BIGINT) AS s
      |FROM r a JOIN r b ON a.user_id = b.user_id
      |  AND b.rn BETWEEN a.rn - (a.event_id % 3) AND a.rn
      |GROUP BY a.user_id, a.event_id""".stripMargin

  /** dx31: the SQL/JSON function-level conformance surface landed with
    * the reference's TestJsonValue/Object/Exists/Array corpora (r17):
    * FORMAT JSON input forms, RETURNING cast-failure routed to ON
    * ERROR (TRY_CAST, not an ANSI error or a wrapped value), bare
    * PASSING names canonicalized UPPER per the standard, the
    * constructor UNIQUE KEYS guard, and FORMAT JSON value
    * validation + minification. Docs are BUILT from source columns
    * (with deliberate extra whitespace so minification is observable),
    * and the oracle recomputes every expected value from the same raw
    * columns — ground truth, not a second SQL/JSON engine. */
  def dx31(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, concat, lit}
    Graft.load(s, dir, "lineitem").filter(col("l_orderkey") < 300)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        concat(lit("""{"q": """), col("l_quantity").cast("int") * 10,
          lit(""", "c": [1, 2, """), col("l_linenumber"),
          lit("]}")).as("j"))
      .createOrReplaceTempView("graft_dx31_docs")
    s.sql(Dialect.translate(
      """SELECT l_orderkey, l_linenumber,
        |  json_value(j FORMAT JSON, 'lax $.q'
        |    RETURNING tinyint DEFAULT -1 ON ERROR) AS v_tiny,
        |  json_value(j, 'lax $.c[$IDX - 1]'
        |    PASSING l_linenumber AS idx DEFAULT 'oob' ON EMPTY) AS v_pass,
        |  json_object('ln' : l_linenumber, 'rf' : l_returnflag WITH UNIQUE KEYS) AS obj,
        |  json_array(j FORMAT JSON, l_linenumber NULL ON NULL) AS arr
        |FROM graft_dx31_docs""".stripMargin))
  }

  val dx31Sql: String =
    """SELECT l_orderkey, l_linenumber,
      |  CAST(CASE WHEN CAST(l_quantity AS INT) * 10 <= 127
      |       THEN CAST(l_quantity AS INT) * 10 ELSE -1 END AS TINYINT) AS v_tiny,
      |  CASE WHEN l_linenumber <= 2 THEN CAST(l_linenumber AS VARCHAR)
      |       WHEN l_linenumber = 3 THEN CAST(l_linenumber AS VARCHAR)
      |       ELSE 'oob' END AS v_pass,
      |  '{"ln":' || l_linenumber || ',"rf":"' || l_returnflag || '"}' AS obj,
      |  '[{"q":' || CAST(l_quantity AS INT) * 10 || ',"c":[1,2,' || l_linenumber
      |    || ']},' || l_linenumber || ']' AS arr
      |FROM lineitem WHERE l_orderkey < 300""".stripMargin

  /** dx32: reference INTEGER ARITHMETIC semantics at table scale
    * (r17): `/` on integral operands truncates toward zero on the
    * common integral type and `%` keeps the dividend's sign
    * (TestBigintOperators.java testDivide/testModulus; Spark alone
    * would lower `/` to double division). The oracle uses the
    * independent engine's explicit integer-division operator. */
  val dx32Reference: String =
    """SELECT l_orderkey % 10 AS bucket,
      |  CAST(sum(l_partkey / (l_suppkey % 7 + 1)) AS BIGINT) AS q,
      |  CAST(sum(l_partkey % (l_suppkey % 5 + 1)) AS BIGINT) AS m,
      |  CAST(max(l_partkey / (l_linenumber + 1)) AS BIGINT) AS mx
      |FROM lineitem GROUP BY l_orderkey % 10""".stripMargin

  def dx32(s: SparkSession, dir: String): DataFrame = {
    Graft.registerAll(s, dir)
    s.sql(Dialect.translate(dx32Reference))
  }

  val dx32Sql: String =
    """SELECT l_orderkey % 10 AS bucket,
      |  CAST(sum(l_partkey // (l_suppkey % 7 + 1)) AS BIGINT) AS q,
      |  CAST(sum(l_partkey % (l_suppkey % 5 + 1)) AS BIGINT) AS m,
      |  CAST(max(l_partkey // (l_linenumber + 1)) AS BIGINT) AS mx
      |FROM lineitem GROUP BY 1""".stripMargin

  /** dx33: string-emulated type semantics at table scale (r18) —
    * CHAR PAD SPACE comparison (trailing spaces insignificant:
    * Dialect.charComparePass, TestCharOperators.java), UUID cast
    * canonicalization (uppercase input lowercases before the min()
    * ordering: TestUuidOperators.java), and IPADDRESS cast rendering
    * (IPv4-mapped text collapses to the dotted quad:
    * TestIpAddressOperators.java). The oracle computes the canonical
    * forms directly, so any missed rewrite/canonicalization breaks
    * the hash. */
  val dx33Reference: String =
    """SELECT c_custkey % 7 AS bucket,
      |  CAST(count(CASE WHEN CAST(c_name || '  ' AS CHAR(30)) =
      |                        CAST(c_name AS CHAR(30)) THEN 1 END) AS BIGINT) AS pad_eq,
      |  min(CAST('AB000000-0000-0000-0000-' ||
      |        lpad(CAST(c_custkey AS VARCHAR), 12, '0') AS UUID)) AS min_uuid,
      |  max(CAST('::ffff:' || CAST(c_custkey % 256 AS VARCHAR) || '.0.' ||
      |        CAST(c_nationkey AS VARCHAR) || '.4' AS IPADDRESS)) AS max_ip
      |FROM customer GROUP BY c_custkey % 7""".stripMargin

  def dx33(s: SparkSession, dir: String): DataFrame = {
    Graft.registerAll(s, dir)
    s.sql(Dialect.translate(dx33Reference))
  }

  val dx33Sql: String =
    """SELECT c_custkey % 7 AS bucket,
      |  CAST(count(*) AS BIGINT) AS pad_eq,
      |  min('ab000000-0000-0000-0000-' ||
      |      lpad(CAST(c_custkey AS VARCHAR), 12, '0')) AS min_uuid,
      |  max(CAST(c_custkey % 256 AS VARCHAR) || '.0.' ||
      |      CAST(c_nationkey AS VARCHAR) || '.4') AS max_ip
      |FROM customer GROUP BY 1""".stripMargin

  /** dx34: LISTAGG ON OVERFLOW at table scale (r19) — entries are
    * inflated with repeat() so every source crosses the reference's
    * 1 MiB output cap (TestListagg.java:204-384;
    * ListaggAggregationFunction.java outputState). Emits the
    * truncated result's BYTE length and its tail (separator + filler
    * + "(omitted)") rather than the megabyte string itself; the
    * oracle reproduces the byte-capped entry walk relationally
    * (cumulative byte sums over the ordered entries), so an
    * off-by-one in the cap walk, the filler, or the omitted-entry
    * count breaks the hash. A second, non-overflowing column pins the
    * clause's no-op path. */
  val dx34Reference: String =
    """WITH e AS (
      |  SELECT source, doc_id,
      |         array_join(repeat(substr(text, 1, 100), 500), '') AS v,
      |         substr(text, 1, 5) AS small
      |  FROM documents WHERE text IS NOT NULL)
      |SELECT source,
      |  octet_length(listagg(v, ',' ON OVERFLOW TRUNCATE '#' WITH COUNT)
      |               WITHIN GROUP (ORDER BY doc_id)) AS trunc_len,
      |  substr(listagg(v, ',' ON OVERFLOW TRUNCATE '#' WITH COUNT)
      |         WITHIN GROUP (ORDER BY doc_id),
      |         octet_length(listagg(v, ',' ON OVERFLOW TRUNCATE '#' WITH COUNT)
      |                      WITHIN GROUP (ORDER BY doc_id)) - 9) AS trunc_tail,
      |  listagg(small, '|' ON OVERFLOW TRUNCATE WITHOUT COUNT)
      |    WITHIN GROUP (ORDER BY doc_id) AS small_agg
      |FROM e GROUP BY source""".stripMargin

  def dx34(s: SparkSession, dir: String): DataFrame = {
    Graft.registerAll(s, dir)
    s.sql(Dialect.translate(dx34Reference))
      .selectExpr("source", "CAST(trunc_len AS BIGINT) AS trunc_len",
        "trunc_tail", "small_agg")
  }

  val dx34Sql: String =
    """WITH e AS (
      |  SELECT source, doc_id, repeat(substr(text, 1, 100), 500) AS v,
      |         substr(text, 1, 5) AS small,
      |         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      |  FROM documents WHERE text IS NOT NULL),
      |s AS (
      |  SELECT source, v, small, rn,
      |         sum(strlen(v) + CASE WHEN rn = 1 THEN 0 ELSE 1 END)
      |           OVER (PARTITION BY source ORDER BY rn) AS cum
      |  FROM e),
      |agg AS (
      |  SELECT source,
      |    string_agg(v, ',' ORDER BY rn) FILTER (WHERE cum <= 1048576) AS emitted,
      |    count(*) FILTER (WHERE cum > 1048576) AS omitted,
      |    string_agg(small, '|' ORDER BY rn) AS small_agg
      |  FROM s GROUP BY source),
      |fin AS (
      |  SELECT source,
      |    emitted || CASE WHEN omitted > 0
      |                    THEN ',#(' || omitted || ')' ELSE '' END AS full_txt,
      |    small_agg
      |  FROM agg)
      |SELECT source,
      |  CAST(strlen(full_txt) AS BIGINT) AS trunc_len,
      |  substr(full_txt, strlen(full_txt) - 9) AS trunc_tail,
      |  small_agg
      |FROM fin""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dx34_listagg_overflow" -> dx34 _,
    "dx33_char_uuid_ip" -> dx33 _,
    "dx32_integer_division" -> dx32 _,
    "dx31_sql_json_conformance" -> dx31 _,
    "dx30_dynamic_rows_frame" -> dx30 _,
    "dx28_groups_frame_sql" -> dx28 _,
    "dx29_range_null_keys" -> dx29 _,
    "dx25_full_join_residual" -> dx25 _,
    "dx26_projected_in_null" -> dx26 _,
    "dx27_join_using_derived" -> dx27 _,
    "dx24_composed_grouping" -> dx24 _,
    "dx23_nan_minmax" -> dx23 _,
    "dx22_three_part_names" -> dx22 _,
    "dx20_quantified_subscripts" -> dx20 _,
    "dx21_unnest_join_sql" -> dx21 _,
    "dx19_mr_sql_measure_exprs" -> dx19 _,
    "dx18_mr_sql_string_measures" -> dx18 _,
    "dx17_mr_sql_define_arith" -> dx17 _,
    "dx16_mr_sql_nav_offsets" -> dx16 _,
    "dx15_mr_sql_var_measures" -> dx15 _,
    "dx14_mr_sql_final" -> dx14 _,
    "dx13_unnest_outer_sql" -> dx13 _,
    "dx12_unnest_zip_sql" -> dx12 _,
    "dx11_fetch_ties_sql" -> dx11 _,
    "dx1_reference_dialect" -> dx1 _,
    "dx2_quantified_cmp" -> dx2 _,
    "dx3_match_recognize_sql" -> dx3 _,
    "dx4_mr_sql_all_rows" -> dx4 _,
    "dx5_unnest_sql" -> dx5 _,
    "dx6_tablesample_sql" -> dx6 _,
    "dx7_mr_sql_funnel" -> dx7 _,
    "dx8_constructors" -> dx8 _,
    "dx9_mr_sql_unmatched" -> dx9 _,
    "dx10_mr_sql_show_empty" -> dx10 _)

  val oracle: Map[String, String] = Map(
    "dx34_listagg_overflow" -> dx34Sql,
    "dx33_char_uuid_ip" -> dx33Sql,
    "dx32_integer_division" -> dx32Sql,
    "dx31_sql_json_conformance" -> dx31Sql,
    "dx30_dynamic_rows_frame" -> dx30Sql,
    "dx28_groups_frame_sql" -> dx28Sql,
    "dx29_range_null_keys" -> dx29Sql,
    "dx25_full_join_residual" -> dx25Sql,
    "dx26_projected_in_null" -> dx26Sql,
    "dx27_join_using_derived" -> dx27Sql,
    "dx24_composed_grouping" -> dx24Sql,
    "dx23_nan_minmax" -> dx23Sql,
    "dx22_three_part_names" -> dx22Sql,
    "dx20_quantified_subscripts" -> dx20Sql,
    "dx21_unnest_join_sql" -> dx21Sql,
    "dx19_mr_sql_measure_exprs" -> dx19Sql,
    "dx18_mr_sql_string_measures" -> dx18Sql,
    "dx17_mr_sql_define_arith" -> dx17Sql,
    "dx16_mr_sql_nav_offsets" -> dx16Sql,
    "dx15_mr_sql_var_measures" -> dx15Sql,
    "dx14_mr_sql_final" -> dx14Sql,
    "dx13_unnest_outer_sql" -> dx13Sql,
    "dx12_unnest_zip_sql" -> dx12Sql,
    "dx11_fetch_ties_sql" -> dx11Sql,
    "dx1_reference_dialect" -> dx1Sql,
    "dx2_quantified_cmp" -> dx2Sql,
    "dx3_match_recognize_sql" -> dx3Sql,
    "dx4_mr_sql_all_rows" -> dx4Sql,
    "dx5_unnest_sql" -> dx5Sql,
    "dx7_mr_sql_funnel" -> dx7Sql,
    "dx8_constructors" -> dx8Sql,
    "dx9_mr_sql_unmatched" -> dx9Sql,
    "dx10_mr_sql_show_empty" -> dx10Sql)
}

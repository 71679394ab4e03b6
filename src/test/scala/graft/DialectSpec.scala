package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.sqlcompat.Dialect

/** Dialect-translation tests: reference-style SQL runs unchanged on
  * this engine after Dialect.translate. */
class DialectSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = graft.engine.Graft.session("graft-dialect-test", 4)
    spark.sparkContext.setLogLevel("ERROR")
    graft.engine.Graft.registerAll(spark, "/root/testdata/sf0.001")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("CHAR comparison pass: pad-space wrap fires only on true operands") {
    // a CHAR-cast operand in a comparison wraps both sides
    val t1 = Dialect.translate("SELECT CAST('a' AS CHAR(2)) = CAST('a ' AS CHAR(2))")
    assert(t1.contains("rpad(") &&
      t1.contains("greatest(coalesce(char_length("), t1)
    // executes to the reference's pad-space result
    assert(spark.sql(t1).head().getBoolean(0))
    // a column source inside the cast is handled too
    val t2 = Dialect.translate(
      "SELECT count(*) FROM region WHERE CAST(r_name || ' ' AS CHAR(30)) = CAST(r_name AS CHAR(30))")
    assert(t2.contains("rpad("), t2)
    assert(spark.sql(t2).head().getLong(0) == 5L)
    // NOT rewritten as a comparison: operand is part of a larger
    // expression — '||' binds tighter than '=' and the wrap would
    // change semantics (the cast itself still pads: value semantics)
    val t3 = Dialect.translate("SELECT 'p' || CAST('a' AS CHAR(2)) = 'x'")
    assert(!t3.contains("greatest("), t3)
    // NOT rewritten: no CHAR operand in the comparison
    val t4 = Dialect.translate("SELECT CAST('a' AS CHAR(2)) IS NOT NULL, 'x' = 'y'")
    assert(!t4.contains("greatest("), t4)
    // CASE ... END never mistaken for an operand (keyword guard)
    val t5 = Dialect.translate(
      "SELECT CASE WHEN true THEN 'x' END = CAST('x' AS CHAR(1))")
    assert(!t5.contains("rpad(END"), t5)
    // BETWEEN and IS DISTINCT FROM forms rewrite with pairwise pads
    val t6 = Dialect.translate(
      "SELECT CAST('b' AS CHAR(2)) BETWEEN CAST('a' AS CHAR(3)) AND CAST('c' AS CHAR(1))")
    assert(t6.contains("rpad(") && t6.contains(">=") && t6.contains("<="), t6)
    assert(spark.sql(t6).head().getBoolean(0))
    val t7 = Dialect.translate(
      "SELECT CAST(NULL AS CHAR(3)) IS DISTINCT FROM CAST(NULL AS CHAR(5))")
    assert(t7.contains("rpad("), t7)
    assert(!spark.sql(t7).head().getBoolean(0))
    // TRY_CAST operand wraps WHOLE (the old charCastP matched the
    // CAST(...) suffix inside TRY_CAST, leaving a dangling `TRY_`)
    val t8 = Dialect.translate("SELECT TRY_CAST('ab' AS CHAR(3)) = 'ab'")
    assert(!t8.contains("TRY_(") && t8.contains("rpad("), t8)
    assert(spark.sql(t8).head().getBoolean(0))
    // comparison-shaped TEXT inside a string literal is never rewritten
    val t9 = Dialect.translate(
      "SELECT 'CAST(q AS CHAR(2)) = z' WHERE CAST('a' AS CHAR(2)) = 'a '")
    assert(t9.contains("'CAST(q AS CHAR(2)) = z'"), t9)
    assert(spark.sql(t9).head().getString(0) == "CAST(q AS CHAR(2)) = z")
  }

  test("WITH RECURSIVE guard: mutual and non-linear recursion fail loudly") {
    val e1 = intercept[IllegalArgumentException](Dialect.translate(
      "WITH RECURSIVE a(x) AS (SELECT 1 UNION ALL SELECT x + 1 FROM b WHERE x < 3), " +
        "b(x) AS (SELECT 0 UNION ALL SELECT x FROM a) SELECT * FROM a"))
    assert(e1.getMessage.contains("mutual recursion"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](Dialect.translate(
      "WITH RECURSIVE f(x) AS (SELECT 1 UNION ALL " +
        "SELECT l.x + r.x FROM f l, f r WHERE l.x < 8) SELECT * FROM f"))
    assert(e2.getMessage.contains("non-linear"), e2.getMessage)
    // the supported linear form still translates and runs
    val ok = Dialect.translate(
      "WITH RECURSIVE u(x) AS (SELECT 1 UNION ALL SELECT x + 1 FROM u WHERE x < 3) " +
        "SELECT max(x) AS m FROM u")
    assert(spark.sql(ok).head().getInt(0) == 3)
    // qualified self-references (t.n) are COLUMN refs, not extra
    // self-references — the canonical linear member with a qualified
    // WHERE/SELECT must not trip the non-linear guard
    val okQ = Dialect.translate(
      "WITH RECURSIVE t(n) AS (SELECT 1 UNION ALL " +
        "SELECT t.n + 1 FROM t WHERE t.n < 5) SELECT max(n) AS m FROM t")
    assert(spark.sql(okQ).head().getInt(0) == 5)
    // a CTE name reused as a qualifier in ANOTHER member is one
    // reference, not mutual recursion
    val okA = Dialect.translate(
      "WITH RECURSIVE p(x) AS (SELECT 1), " +
        "q(y) AS (SELECT p.x FROM p) SELECT y FROM q")
    assert(spark.sql(okA).head().getInt(0) == 1)
  }

  test("LISTAGG ON OVERFLOW lowers onto the bounded-state capped aggregate") {
    val t = Dialect.translate(
      "SELECT listagg(v, ',' ON OVERFLOW TRUNCATE '..' WITH COUNT) " +
        "WITHIN GROUP (ORDER BY v) FROM (VALUES 'b', 'a') t(v)")
    assert(t.contains("graft_listagg_capped("), t)
    assert(spark.sql(t).head().getString(0) == "a,b")
    // plain listagg stays on Spark's native aggregate
    val t2 = Dialect.translate(
      "SELECT listagg(v, ',') WITHIN GROUP (ORDER BY v) FROM (VALUES 'b', 'a') t(v)")
    assert(!t2.contains("graft_listagg_capped("), t2)
    assert(spark.sql(t2).head().getString(0) == "a,b")
    // DESC / NULLS directives ride into the aggregate's flag arrays
    val t3 = Dialect.translate(
      "SELECT listagg(v, ',' ON OVERFLOW TRUNCATE WITHOUT COUNT) " +
        "WITHIN GROUP (ORDER BY k DESC NULLS LAST) " +
        "FROM (VALUES (1, 'a'), (2, 'b'), (3, 'c')) t(k, v)")
    assert(spark.sql(t3).head().getString(0) == "c,b,a", t3)
  }

  test("DATE literals with short or zero-padded years canonicalize at translate time") {
    val t = Dialect.translate("SELECT DATE '13-2-2' AS d1, DATE '02013-02-02' AS d2")
    assert(t.contains("'0013-02-02'") && t.contains("'2013-02-02'"), t)
    val r = spark.sql(t).head()
    assert(r.getDate(0).toString == "0013-02-02" && r.getDate(1).toString == "2013-02-02")
    val bad = intercept[IllegalArgumentException](
      Dialect.translate("SELECT DATE '2013-02-29'"))
    assert(bad.getMessage.contains("not a valid date literal"), bad.getMessage)
  }

  test("CHAR pad-space comparison matches the SQL PAD SPACE model on 150 seeded pairs") {
    // differential property check driven through the ENGINE: random
    // short strings over {letters, space, NUL, '!'} compared as CHAR
    // casts must order exactly like the standard's pad-with-spaces
    // model. Fixed seed — failures reproduce.
    val rnd = new scala.util.Random(20260816L)
    val alphabet = "ab z!\u0000"
    def str(): String =
      (0 until rnd.nextInt(6)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    val pairs = Seq.fill(150)((str(), str()))
    def model(a: String, b: String): Int = {
      val n = math.max(a.length, b.length)
      a.padTo(n, ' ').compareTo(b.padTo(n, ' '))
    }
    val cols = pairs.zipWithIndex.flatMap { case ((a, b), i) =>
      val (la, lb) = (math.max(a.length, 1), math.max(b.length, 1))
      Seq(
        s"CAST('$a' AS CHAR($la)) < CAST('$b' AS CHAR($lb)) AS lt_$i",
        s"CAST('$a' AS CHAR($la)) = CAST('$b' AS CHAR($lb)) AS eq_$i")
    }
    val row = spark.sql(Dialect.translate("SELECT " + cols.mkString(", "))).head()
    pairs.zipWithIndex.foreach { case ((a, b), i) =>
      val m = model(a, b)
      assert(row.getBoolean(2 * i) == (m < 0),
        s"lt mismatch on (${a.map(_.toInt)}, ${b.map(_.toInt)})")
      assert(row.getBoolean(2 * i + 1) == (m == 0),
        s"eq mismatch on (${a.map(_.toInt)}, ${b.map(_.toInt)})")
    }
  }

  test("UUID/IPADDRESS typed literals fold at translate time (usable in VALUES)") {
    val t1 = Dialect.translate("SELECT x FROM (VALUES UUID 'AB000000-0000-0000-0000-000000000001') t(x)")
    assert(t1.contains("'ab000000-0000-0000-0000-000000000001'"), t1)
    assert(spark.sql(t1).head().getString(0) == "ab000000-0000-0000-0000-000000000001")
    val t2 = Dialect.translate("SELECT IPADDRESS '::ffff:1.2.3.4'")
    assert(t2.contains("'1.2.3.4'"), t2)
    // a VARBINARY cast of the literal folds to its value bytes
    val t3 = Dialect.translate("SELECT CAST(IPADDRESS '1.2.3.4' AS VARBINARY) AS b")
    assert(t3 == "SELECT X'00000000000000000000FFFF01020304' AS b", t3)
    assert(spark.sql(t3).head().getAs[Array[Byte]](0).length == 16)
    // invalid literals raise at translate time (the reference's
    // INVALID_LITERAL condition)
    intercept[IllegalArgumentException] {
      Dialect.translate("SELECT UUID '1-2-3'")
    }
    intercept[IllegalArgumentException] {
      Dialect.translate("SELECT IPADDRESS 'localhost'")
    }
  }

  test("function renames, preserving string literals") {
    // approx_distinct KEEPS its spelling: the registered function
    // carries the reference's 2.3% default error (renaming onto the
    // approx_count_distinct builtin would degrade to Spark's 5%)
    assert(Dialect.translate("SELECT approx_distinct(x) FROM t") ==
      "SELECT approx_distinct(x) FROM t")
    assert(Dialect.translate("SELECT strpos(name, 'strpos(') FROM t") ==
      "SELECT instr(name, 'strpos(') FROM t")
    assert(Dialect.translate("SELECT 'approx_distinct(' || x FROM t") ==
      "SELECT 'approx_distinct(' || x FROM t")
  }

  test("quoted identifiers restore with their escapes; comments are not code") {
    // "" escapes a quote in the reference spelling; a backtick inside
    // the identifier doubles in Spark's
    for ((sql, spark0, name) <- Seq(
        ("SELECT 1 AS \"a\"\"b\"", "SELECT 1 AS `a\"b`", "a\"b"),
        ("SELECT 1 AS \"a`b\"", "SELECT 1 AS `a``b`", "a`b"))) {
      assert(Dialect.translate(sql) == spark0)
      assert(spark.sql(spark0).columns.toSeq == Seq(name))
    }
    // a quote inside a comment does not open a literal: the literal
    // after it is still a literal, never rewritten
    assert(Dialect.translate("-- don't\nSELECT 'strpos(x)' AS s") ==
      "-- don't\nSELECT 'strpos(x)' AS s")
    assert(Dialect.translate("/* it's */ SELECT 'now()'") ==
      "/* it's */ SELECT 'now()'")
  }

  test("passes the rest of the dialect corpus never fires: JSON and bare CHAR casts, session keywords") {
    // CAST(x AS JSON) renders the value as JSON text
    val json = Dialect.translate("SELECT CAST(ARRAY[1, 2] AS JSON) AS j")
    assert(json.startsWith("SELECT IF((array(1, 2)) IS NULL, CAST(NULL AS STRING), "), json)
    assert(spark.sql(json).head().getString(0) == "[1,2]")
    // bare CHAR is CHAR(1): truncate, then pad
    val ch = Dialect.translate("SELECT CAST('ab' AS CHAR) AS c")
    assert(ch == "SELECT rpad(left(CAST('ab' AS STRING), 1), 1) AS c", ch)
    assert(spark.sql(ch).head().getString(0) == "a")
    // the session keyword forms take Spark's function spellings; the
    // SQL path is the reference's empty default
    val sess = Dialect.translate(
      "SELECT CURRENT_CATALOG, CURRENT_SCHEMA, CURRENT_USER, CURRENT_PATH")
    assert(sess == "SELECT current_catalog(), current_schema(), current_user(), ''", sess)
    val row = spark.sql(sess).head()
    assert(row.getString(0).nonEmpty && row.getString(1).nonEmpty && row.getString(3) == "")
  }

  test("type renames in CAST and typed literals") {
    assert(Dialect.translate("SELECT CAST(x AS VARBINARY), CAST(y AS REAL)") ==
      "SELECT CAST(x AS binary), CAST(y AS float)")
  }

  test("collection constructors: ARRAY[...], ROW(...), MAP(ARRAY,ARRAY)") {
    assert(Dialect.translate("SELECT ARRAY[1, 2, 3]") == "SELECT array(1, 2, 3)")
    // nested array literals, string elements, and a SUBSCRIPT — the
    // reference's subscript is 1-BASED (ArraySubscriptOperator.java),
    // Spark's [] is 0-based, so subscripts lower onto element_at
    // (exactly the reference contract: 1-based arrays, map keys).
    // r14 change: the old pass-through silently shifted every index.
    assert(Dialect.translate("SELECT ARRAY[ARRAY['a', 'b'], ARRAY[c]], x[1]") ==
      "SELECT array(array('a', 'b'), array(c)), element_at(x, 1)")
    // nested subscripts and map-key subscripts
    assert(Dialect.translate("SELECT a[1][2], m['k'] FROM t") ==
      "SELECT element_at(element_at(a, 1), 2), element_at(m, 'k') FROM t")
    assert(Dialect.translate("SELECT ROW(a, b) < ROW(1, 'z')") ==
      "SELECT struct(a, b) < struct(1, 'z')")
    assert(Dialect.translate("SELECT MAP(ARRAY['k'], ARRAY[v]) FROM t") ==
      "SELECT map_from_arrays(array('k'), array(v)) FROM t")
    // three-or-more-arg MAP and identifiers containing 'array' untouched
    assert(Dialect.translate("SELECT MAP(ks, vs), my_array[2]") ==
      "SELECT MAP(ks, vs), element_at(my_array, 2)")
    // executes end to end with 1-based element_at
    val r = spark.sql(Dialect.translate(
      "SELECT element_at(ARRAY[10, 20], 2) AS e, " +
        "element_at(MAP(ARRAY['a'], ARRAY[7]), 'a') AS m, " +
        "ROW(1, 'b') < ROW(1, 'c') AS lt"))
      .head()
    assert(r.getInt(0) == 20 && r.getInt(1) == 7 && r.getBoolean(2))
  }

  test("TRY division maps to try_divide") {
    assert(Dialect.translate("SELECT TRY(a / b) FROM t").replaceAll("\\s", "") ==
      "SELECTtry_divide(a,b)FROMt")
  }

  test("zero-arg constants consume their parens") {
    assert(Dialect.translate("SELECT nan(), INFINITY()") ==
      "SELECT double('NaN'), double('Infinity')")
    assert(spark.sql(Dialect.translate("SELECT is_nan(nan()) AS b")).head().getBoolean(0))
  }

  test("utf8 codecs gain the required charset argument") {
    assert(Dialect.translate("SELECT from_utf8(b), to_utf8(s) FROM t") ==
      "SELECT decode(b, 'UTF-8'), encode(s, 'UTF-8') FROM t")
    // the reference's two-arg replacement form passes through untouched
    assert(Dialect.translate("SELECT from_utf8(b, r) FROM t") ==
      "SELECT from_utf8(b, r) FROM t")
    // nested calls are deliberately untouched (conservative form only)
    val r = spark.sql(Dialect.translate("SELECT from_utf8(b) AS s FROM " +
      "(SELECT to_utf8(c_name) AS b FROM customer WHERE c_custkey = 1)"))
      .head().getString(0)
    assert(r.nonEmpty)
  }

  test("bitwise scalar functions become infix operators") {
    assert(Dialect.translate("SELECT bitwise_and(a,b), bitwise_or(a,b)") ==
      "SELECT (a & b), (a | b)")
    // malformed extra-arg calls pass through for Spark to reject
    assert(Dialect.translate("SELECT bitwise_and(a, b, c)") ==
      "SELECT bitwise_and(a, b, c)")
    assert(Dialect.translate("SELECT bitwise_not(a, b)") ==
      "SELECT bitwise_not(a, b)")
    val row = spark.sql(Dialect.translate(
      "SELECT bitwise_and(12, 10) AS a, bitwise_or(12, 10) AS o, " +
        "bitwise_xor(12, 10) AS x, bitwise_not(0) AS n")).head()
    assert(row.getInt(0) == 8 && row.getInt(1) == 14 &&
      row.getInt(2) == 6 && row.getInt(3) == -1)
  }

  test("bitwise shifts and json_extract map to Spark names") {
    assert(Dialect.translate("SELECT bitwise_left_shift(a, 2)") ==
      "SELECT shiftleft(a, 2)")
    assert(Dialect.translate("SELECT bitwise_right_shift(a, 2)") ==
      "SELECT shiftrightunsigned(a, 2)")
    assert(Dialect.translate("SELECT bitwise_right_shift_arithmetic(a, 2)") ==
      "SELECT shiftright(a, 2)")
    // json_extract / json_extract_scalar keep their registered UDF
    // spellings (jsonQuery/jsonValue): get_json_object would return
    // container text where the reference's _scalar form returns NULL
    assert(Dialect.translate("SELECT json_extract(j, '$.k')") ==
      "SELECT json_extract(j, '$.k')")
    // longer names are not clobbered by their prefixes
    assert(Dialect.translate("SELECT json_extract_scalar(j, '$.k')") ==
      "SELECT json_extract_scalar(j, '$.k')")
    val row = spark.sql(Dialect.translate(
      "SELECT bitwise_left_shift(3, 2) AS l, bitwise_right_shift(-8, 1) AS r, " +
        "bitwise_right_shift_arithmetic(-8, 1) AS ra")).head()
    assert(row.getInt(0) == 12 && row.getInt(1) == 2147483644 && row.getInt(2) == -4)
  }

  test("numeric truncate has no Spark mapping and passes through") {
    assert(Dialect.translate("SELECT truncate(x) FROM t") ==
      "SELECT truncate(x) FROM t")
  }

  test("date_diff/date_add unit-literal calls translate to timestampdiff/add") {
    assert(Dialect.translate("SELECT date_diff('day', a, b) FROM t") ==
      "SELECT timestampdiff(DAY, a, b) FROM t")
    assert(Dialect.translate("SELECT date_add('hour', 2, ts) FROM t") ==
      "SELECT timestampadd(HOUR, 2, ts) FROM t")
    // day-or-coarser units go through the type-preserving expression
    assert(Dialect.translate("SELECT date_add('day', 2, d) FROM t") ==
      "SELECT graft_date_add('day', 2, d) FROM t")
    // Spark-native 2-arg date_add is left untouched
    assert(Dialect.translate("SELECT date_add(d, 1) FROM t") ==
      "SELECT date_add(d, 1) FROM t")
    // reference semantics: date_diff(unit, a, b) = b - a in units
    val d = spark.sql(Dialect.translate(
      "SELECT date_diff('day', DATE'1995-01-01', DATE'1995-03-02') AS d")).head().getLong(0)
    assert(d == 60L)
  }

  test("date_add preserves the input type (reference returns DATE for DATE)") {
    import org.apache.spark.sql.types.{DateType, TimestampType}
    val df = spark.sql(Dialect.translate(
      "SELECT date_add('day', 60, DATE'1995-01-01') AS d, " +
        "date_add('month', 2, DATE'1995-01-31') AS m, " +
        "date_add('year', -1, DATE'1996-02-29') AS y, " +
        "date_add('week', 3, TIMESTAMP'1995-01-01 12:34:56') AS ts"))
    assert(df.schema("d").dataType == DateType)
    assert(df.schema("m").dataType == DateType)
    assert(df.schema("y").dataType == DateType)
    assert(df.schema("ts").dataType == TimestampType)
    val row = df.head()
    assert(row.getDate(0).toString == "1995-03-02")
    assert(row.getDate(1).toString == "1995-03-31") // end-of-month clamp
    assert(row.getDate(2).toString == "1995-02-28") // leap-day clamp
    assert(row.getTimestamp(3).toString.startsWith("1995-01-22 12:34:56"))
  }

  test("SQL/JSON 2016 RETURNING clause becomes an outer CAST") {
    // TRY_CAST (r17): a RETURNING cast failure is the standard's ON
    // ERROR condition, whose json_value default is NULL — never an
    // ANSI cast error or a wrapped value
    assert(Dialect.translate(
      "SELECT json_value(doc, 'lax $.a' RETURNING BIGINT) FROM t")
      == "SELECT TRY_CAST(json_value(doc, 'lax $.a') AS BIGINT) FROM t")
    // reference type spellings are renamed inside the generated CAST
    assert(Dialect.translate(
      "SELECT json_value(doc, '$.a' RETURNING varchar) FROM t")
      == "SELECT TRY_CAST(json_value(doc, '$.a') AS string) FROM t")
    assert(Dialect.translate(
      "SELECT json_value(doc, '$.a' RETURNING DECIMAL(10,2)) FROM t")
      == "SELECT TRY_CAST(json_value(doc, '$.a') AS DECIMAL(10,2)) FROM t")
    // no RETURNING → untouched
    assert(Dialect.translate("SELECT json_value(doc, '$.a') FROM t")
      == "SELECT json_value(doc, '$.a') FROM t")
    // ON EMPTY / ON ERROR clauses lower onto the status-struct UDF
    // (SqlJsonClauses, r14) with the DEFAULT as a CASE arm
    val lowered = Dialect.translate(
      "SELECT json_value(doc, '$.a' DEFAULT 0 ON EMPTY) FROM t")
    assert(lowered.contains("graft_json_value_x(doc, '$.a', map())"))
    assert(lowered.contains("status = 1 THEN (0)"))
  }

  test("SQL/JSON functions execute end to end") {
    val df = spark.sql(Dialect.translate(
      "SELECT json_exists('{\"a\":{\"b\":null}}', 'lax $.a.b') AS e1, " +
        "json_exists('{\"a\":1}', '$.a.b') AS e2, " +
        "json_value('{\"a\":{\"b\":\"x\"}}', '$.a.b' RETURNING varchar) AS v1, " +
        "json_value('{\"a\":[1,2]}', '$.a') AS v2, " +
        "json_value('{\"n\":42}', 'strict $.n' RETURNING BIGINT) AS v3, " +
        "json_query('{\"a\":[1,{\"c\":2}]}', '$.a') AS q1, " +
        "json_query('{\"a\":\"s\"}', '$.a') AS q2"))
    val r = df.head()
    assert(r.getBoolean(0)) // JSON null at path still EXISTS
    assert(!r.getBoolean(1))
    assert(r.getString(2) == "x")
    assert(r.isNullAt(3)) // container → NULL for json_value
    assert(r.getLong(4) == 42L)
    assert(r.getString(5) == "[1,{\"c\":2}]")
    assert(r.getString(6) == "\"s\"") // json_query keeps JSON quoting
  }

  test("url_extract family matches the reference's null contracts") {
    val r = spark.sql(
      "SELECT url_extract_protocol(u) p, url_extract_host(u) h, " +
        "url_extract_port(u) pt, url_extract_path(u) pa, " +
        "url_extract_query(u) q, url_extract_fragment(u) f, " +
        "url_extract_parameter(u, 'k') k1, url_extract_parameter(u, 'zz') kz " +
        "FROM VALUES ('http://example.com:8080/a/b?k=v&x=1#frag'), " +
        "('https://plain.org/only') AS t(u)").collect()
    assert(r(0).getString(0) == "http" && r(0).getString(1) == "example.com")
    assert(r(0).getLong(2) == 8080L && r(0).getString(3) == "/a/b")
    assert(r(0).getString(4) == "k=v&x=1" && r(0).getString(5) == "frag")
    assert(r(0).getString(6) == "v" && r(0).isNullAt(7)) // absent param → NULL
    assert(r(1).getString(0) == "https" && r(1).isNullAt(2)) // no port → NULL
    // absent query/fragment on a VALID url → '' (UrlFunctions.java
    // nullToEmpty; NULL is reserved for an unparseable url)
    assert(r(1).getString(4) == "" && r(1).getString(5) == "")
    val bad = spark.sql(
      "SELECT url_extract_protocol('http://example.com/^')").collect()
    assert(bad(0).isNullAt(0))
  }

  test("translated reference-dialect queries execute correctly") {
    val q1 = Dialect.translate(
      "SELECT approx_distinct(o_custkey) AS ad FROM orders")
    assert(spark.sql(q1).head().getLong(0) > 0)

    val q2 = Dialect.translate(
      "SELECT strpos(c_name, '#') AS p FROM customer WHERE c_custkey = 1")
    assert(spark.sql(q2).head().getInt(0) > 0)

    val q3 = Dialect.translate(
      "SELECT approx_percentile(o_totalprice, 0.5) AS m FROM orders")
    val m = spark.sql(q3).head().getDouble(0)
    assert(m > 0)

    val q4 = Dialect.translate("SELECT TRY(1.0 / 0.0) AS d")
    assert(spark.sql(q4).head().isNullAt(0)) // error-as-null semantics

    val q5 = Dialect.translate(
      "SELECT format_datetime(o_orderdate, 'YYYY-MM-dd') AS f FROM orders WHERE o_orderkey = 1")
    assert(spark.sql(q5).head().getString(0).matches("\\d{4}-\\d{2}-\\d{2}"))
  }

  test("FILTER on a window aggregate lowers to CASE inside the argument") {
    // Spark rejects FILTER+OVER outright ("not supported yet"), and the
    // old windowed-call regex couldn't balance nested parens in the
    // FILTER group — both paths now land on the CASE lowering
    val q = Dialect.translate(
      """SELECT o_orderkey,
        |  count(o_orderkey) FILTER (WHERE abs(o_totalprice) > 100000.0) OVER (PARTITION BY o_orderpriority) AS c,
        |  count(*) FILTER (WHERE o_orderkey % 2 = 0) OVER (PARTITION BY o_orderpriority) AS c2
        |FROM orders WHERE o_orderkey <= 100""".stripMargin)
    assert(!q.contains("array_sort") && !q.toUpperCase.contains("FILTER"),
      s"misrewritten: $q")
    val got = spark.sql(q)
    // oracle: plain grouped counts joined back
    val base = spark.sql(
      """SELECT o_orderpriority,
        |  count(CASE WHEN abs(o_totalprice) > 100000.0 THEN 1 END) AS c,
        |  count(CASE WHEN o_orderkey % 2 = 0 THEN 1 END) AS c2
        |FROM orders WHERE o_orderkey <= 100 GROUP BY 1""".stripMargin)
    val want = spark.sql(
      """SELECT o_orderkey, c, c2 FROM orders JOIN (SELECT o_orderpriority AS p,
        |  count(CASE WHEN abs(o_totalprice) > 100000.0 THEN 1 END) AS c,
        |  count(CASE WHEN o_orderkey % 2 = 0 THEN 1 END) AS c2
        |FROM orders WHERE o_orderkey <= 100 GROUP BY 1) g ON o_orderpriority = p
        |WHERE o_orderkey <= 100""".stripMargin)
    assert(base.count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // array_agg keeps NULLs in the reference: the lowering must collect
    // a NULL value whose FILTER condition is TRUE
    val q2 = Dialect.translate(
      """SELECT size(array_agg(CASE WHEN id = 2 THEN NULL ELSE id END)
        |  FILTER (WHERE abs(id) < 3) OVER ()) AS n
        |FROM (SELECT 1 AS id UNION ALL SELECT 2 UNION ALL SELECT 5) t""".stripMargin)
    assert(spark.sql(q2).head().getInt(0) == 2, s"translated: $q2")
  }

  test("AT TIME ZONE rewrites to from_utc_timestamp across the literal segment") {
    assert(Dialect.translate("SELECT ts AT TIME ZONE 'Asia/Tokyo' AS t FROM e")
      == "SELECT from_utc_timestamp(ts, 'Asia/Tokyo') AS t FROM e")
    // function-call operand
    assert(Dialect.translate(
      "SELECT CAST(d AS TIMESTAMP) AT TIME ZONE 'UTC' FROM e")
      == "SELECT from_utc_timestamp(CAST(d AS TIMESTAMP), 'UTC') FROM e")
    // inside a string literal: untouched
    assert(Dialect.translate("SELECT 'x AT TIME ZONE y' AS s")
      == "SELECT 'x AT TIME ZONE y' AS s")
    // end-to-end through Spark: Tokyo is UTC+9
    val r = spark.sql(Dialect.translate(
      "SELECT TIMESTAMP '2024-01-01 00:00:00' AT TIME ZONE 'Asia/Tokyo' AS t"))
      .head().getTimestamp(0)
    assert(r.toString.startsWith("2024-01-01 09:00:00"))
    // identifier ending in a type keyword is NOT the typed-literal form:
    // `my_timestamp TIMESTAMP '…'` must not be mangled into
    // `my_from_utc_timestamp(timestamp …` (tsKeywordRe \b anchor)
    assert(Dialect.translate(
      "SELECT my_timestamp '2024-01-01' AT TIME ZONE 'UTC' AS t")
      == "SELECT my_timestamp '2024-01-01' AT TIME ZONE 'UTC' AS t")
    // documented limitation: nested parens / embedded literals in the
    // operand do not match the conservative grammar — the SQL passes
    // through UNtranslated and Spark rejects it loudly (safe-by-failure,
    // never a silent mistranslation)
    val nested = "SELECT date_trunc('day', ts) AT TIME ZONE 'UTC' FROM e"
    assert(Dialect.translate(nested).contains("AT TIME ZONE"))
    assertThrows[org.apache.spark.sql.catalyst.parser.ParseException] {
      spark.sql(Dialect.translate(nested)).queryExecution.analyzed
    }
  }

  test("quantified comparisons lower onto the null-correct CASE rewrite") {
    // r14 change: ALL spellings (every operator × ALL/ANY/SOME) lower
    // onto the three-valued counting-CASE form. The old `= ANY` → IN /
    // `<> ALL` → NOT IN shortcuts were removed: Spark's IN (subquery)
    // in a PROJECTION context returns FALSE where the standard says
    // NULL — caught by the reference's own 72 corner-case vectors
    // (ReferenceSqlVectorsSpec proves semantics for all of them).
    for (opq <- Seq("= ANY", "= SOME", "<> ALL", "!= ALL", "> ALL",
        ">= ANY", "<= SOME", "< ALL")) {
      val out = Dialect.translate(s"SELECT * FROM t WHERE x $opq (SELECT y FROM u)")
      assert(out.contains("__qsub(__qc)") && out.contains("CASE WHEN"),
        s"$opq should lower onto the CASE rewrite, got: $out")
      assert(!out.toUpperCase.contains(" ANY ") && !out.toUpperCase.contains(" ALL ("),
        s"$opq left quantifier syntax behind: $out")
    }
    // executes with correct null semantics in a projection context
    val r = spark.sql(Dialect.translate(
      "SELECT 1 != ALL (SELECT CAST(NULL AS INTEGER)) AS a, " +
        "2 > ALL (SELECT 1 WHERE FALSE) AS b, " +
        "2 > ANY (SELECT 1 WHERE FALSE) AS c")).head()
    assert(r.isNullAt(0) && r.getBoolean(1) && !r.getBoolean(2))
    // string literals stay untouched
    assert(Dialect.translate("SELECT '= ANY (x)' AS s")
      == "SELECT '= ANY (x)' AS s")
  }

  test("three-part names resolve via the graft V2 catalog; SET SESSION maps to confs") {
    import graft.sqlcompat.Statements
    val dir = "/root/testdata/sf0.001"
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.catalog.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root", dir)
    // qualified reference SQL runs unchanged, same rows as the flat load
    val viaCatalog = spark.sql(
      "SELECT count(*) AS n FROM graft.main.nation").head().getLong(0)
    assert(viaCatalog == graft.engine.Graft.load(spark, dir, "nation").count())
    // pushdown reaches the V2 scan
    val plan = spark.sql(
      "SELECT n_name FROM graft.main.nation WHERE n_nationkey = 3")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("n_nationkey"),
      s"expected filter pushdown into the catalog scan:\n${plan.take(1500)}")
    // unknown table/schema fail loudly
    assertThrows[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT * FROM graft.main.nope").collect())
    // SET SESSION maps onto spark confs; unknown properties raise
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      Statements.execute(spark, "SET SESSION join_distribution_type = 'PARTITIONED'")
      assert(spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == "-1")
      Statements.execute(spark, "RESET SESSION join_distribution_type")
      Statements.execute(spark, "SET SESSION spark.sql.shuffle.partitions = 7")
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "7")
      Statements.execute(spark, "RESET SESSION spark.sql.shuffle.partitions")
      assertThrows[IllegalArgumentException](
        Statements.execute(spark, "SET SESSION no_such_property = 1"))
      // non-statement input routes through Dialect.translate + sql
      assert(Statements.execute(spark,
        "SELECT strpos('a-b', '-') AS p").head().getInt(0) == 2)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    // SHOW statements: SESSION inventory; SCHEMAS/TABLES over the
    // graft catalog via Spark's native catalog commands
    val sess = Statements.execute(spark, "SHOW SESSION")
    assert(sess.columns.toSeq == Seq("name", "value", "spark_conf") &&
      sess.collect().map(_.getString(0)).contains("join_distribution_type"))
    val schemas = Statements.execute(spark, "SHOW SCHEMAS FROM graft")
      .collect().map(_.getString(0))
    assert(schemas.contains("main"), schemas.mkString(","))
    val tables = Statements.execute(spark, "SHOW TABLES FROM graft.main")
      .collect().map(_.getString(1))
    assert(tables.contains("nation") && tables.contains("lineitem"),
      tables.mkString(","))
  }

  test("EXPLAIN (TYPE VALIDATE | LOGICAL | DISTRIBUTED | IO) statement forms (ExplainRewrite.java:100-154)") {
    import graft.sqlcompat.Statements
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.catalog.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root", "/root/testdata/sf0.001")
    // VALIDATE: analysis-only, the reference's single Valid=true row
    val v = Statements.execute(spark,
      "EXPLAIN (TYPE VALIDATE) SELECT strpos('a-b', '-')").collect()
    assert(v.length == 1 && v(0).getBoolean(0))
    // an invalid query throws OUT of validation, never Valid=false
    assertThrows[Exception](Statements.execute(spark,
      "EXPLAIN (TYPE VALIDATE) SELECT no_such_col FROM graft.main.nation"))
    // LOGICAL / DISTRIBUTED: one text plan row named like the reference
    val lg = Statements.execute(spark,
      "EXPLAIN (TYPE LOGICAL) SELECT 1 AS x")
    assert(lg.columns.toSeq == Seq("Query Plan") && lg.head().getString(0).nonEmpty)
    val ds = Statements.execute(spark,
      "EXPLAIN (TYPE DISTRIBUTED) SELECT count(*) FROM graft.main.nation")
    assert(ds.head().getString(0).contains("Scan"), ds.head().getString(0).take(200))
    // IO: JSON envelope of the input tables
    val io = Statements.execute(spark,
      "EXPLAIN (TYPE IO) SELECT * FROM graft.main.nation").head().getString(0)
    assert(io.startsWith("""{"inputTableColumnInfos":[""") && io.contains("nation"), io)
    // bare FORMAT options default to DISTRIBUTED; junk raises
    val fm = Statements.execute(spark, "EXPLAIN (FORMAT TEXT) SELECT 1 AS x")
    assert(fm.columns.toSeq == Seq("Query Plan"))
    assertThrows[Exception](Statements.execute(spark,
      "EXPLAIN (TYPE BOGUS) SELECT 1"))
  }

  test("EXPLAIN ANALYZE [VERBOSE] executes the query and reports its own stages and operator metrics (ExplainAnalyzeOperator.java)") {
    import graft.sqlcompat.Statements
    val q = "SELECT l_returnflag, sum(l_quantity) AS qty FROM lineitem GROUP BY l_returnflag"
    val stageRe = "(?m)^stage (\\d+): tasks=\\d+ span=\\d+ ms".r
    def profile(sql: String): (String, Seq[Int]) = {
      val out = Statements.execute(spark, sql)
      assert(out.columns.toSeq == Seq("Query Plan"))
      val rows = out.collect()
      assert(rows.length == 1)
      val text = rows(0).getString(0)
      (text, stageRe.findAllMatchIn(text).map(_.group(1).toInt).toSeq)
    }
    val (text, stages) = profile(s"EXPLAIN ANALYZE $q")
    assert(stages.nonEmpty, text)
    val scanRows = "(?m)^\\s*Scan parquet.*\\bnumOutputRows=(\\d+)".r
      .findFirstMatchIn(text).map(_.group(1).toLong)
    val count = spark.sql("SELECT count(*) FROM lineitem").head().getLong(0)
    assert(scanRows.contains(count), text)
    // VERBOSE is accepted; a second profile in the same session shows
    // only the stages its own execution ran
    val (again, stages2) = profile(s"EXPLAIN ANALYZE VERBOSE $q")
    assert(stages2.size == stages.size && stages2.min > stages.max, again)
  }

  test("DESCRIBE INPUT/OUTPUT, SHOW FUNCTIONS, SHOW CREATE TABLE (reference testDescribeInput/Output)") {
    import graft.sqlcompat.Statements
    spark.sql(
      """CREATE OR REPLACE TEMPORARY VIEW nation_dsc AS SELECT * FROM VALUES
        |(0L, 'ALGERIA', 0), (1L, 'ARGENTINA', 1)
        |AS nation_dsc(nationkey, name, regionkey)""".stripMargin)
    // DESCRIBE INPUT: positions + inferred types (reference
    // AbstractTestEngineOnlyQueries.java:1285 — the unconstrained
    // SELECT-position marker is `unknown`, comparisons take the
    // column's type, LIMIT takes bigint)
    Statements.execute(spark,
      "PREPARE my_query FROM SELECT ? FROM nation_dsc WHERE nationkey = ? and name < ? LIMIT ?")
    val in = Statements.execute(spark, "DESCRIBE INPUT my_query").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(in == Map(0L -> "unknown", 1L -> "bigint", 2L -> "string", 3L -> "bigint"), in)
    // DESCRIBE OUTPUT: schema without execution (testDescribeOutput)
    Statements.execute(spark, "PREPARE out_query FROM SELECT nationkey, name FROM nation_dsc")
    val out = Statements.execute(spark, "DESCRIBE OUTPUT out_query").collect()
      .map(r => (r.getString(0), r.getString(4), r.getLong(5)))
    assert(out.toSeq == Seq(("nationkey", "bigint", 8L), ("name", "string", 0L)), out.toSeq)
    // a prepared DML/aggregate describes without running
    Statements.execute(spark, "PREPARE agg_query FROM SELECT count(*) AS n FROM nation_dsc WHERE nationkey > ?")
    val aggOut = Statements.execute(spark, "DESCRIBE OUTPUT agg_query").collect()
    assert(aggOut.map(_.getString(0)).toSeq == Seq("n"))
    assertThrows[IllegalArgumentException](
      Statements.execute(spark, "DESCRIBE INPUT no_such_stmt"))
    // a quote inside a quoted identifier or a comment, and a '?' inside
    // a comment, hide no marker and add none
    spark.sql(
      "CREATE OR REPLACE TEMPORARY VIEW quoted_dsc AS SELECT * FROM VALUES (1L, 2L) AS quoted_dsc(`it's`, x)")
    for (body <- Seq(
        "SELECT \"it's\", ? FROM quoted_dsc /* it's x? */ WHERE x = ?",
        "SELECT \"it's\", ? FROM quoted_dsc -- what's x?\nWHERE x = ?")) {
      Statements.execute(spark, s"PREPARE q_query FROM $body")
      val qin = Statements.execute(spark, "DESCRIBE INPUT q_query").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(qin == Map(0L -> "unknown", 1L -> "bigint"), qin)
      val got = Statements.execute(spark, "EXECUTE q_query USING 7, 2").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSeq
      assert(got == Seq((1L, 7)), got)
    }
    // SHOW FUNCTIONS lists the resolvable inventory; LIKE filters with
    // SQL %/_ + ESCAPE semantics (TestShowQueries testShowFunctionLike)
    val fns = Statements.execute(spark, "SHOW FUNCTIONS").collect().map(_.getString(0))
    assert(fns.contains("tdigest_agg") && fns.contains("abs"), fns.length.toString)
    val like = Statements.execute(spark, "SHOW FUNCTIONS LIKE 'split%'")
      .collect().map(_.getString(0))
    assert(like.contains("split_part") && like.forall(_.startsWith("split")), like.mkString(","))
    val esc = Statements.execute(spark, "SHOW FUNCTIONS LIKE 'split$_part' ESCAPE '$'")
      .collect().map(_.getString(0))
    assert(esc.toSeq == Seq("split_part"), esc.mkString(","))
    assertThrows[IllegalArgumentException](
      Statements.execute(spark, "SHOW FUNCTIONS LIKE 't%' ESCAPE '$$'").collect())
    // SHOW CREATE TABLE synthesizes DDL from the resolved schema
    val ddl = Statements.execute(spark, "SHOW CREATE TABLE nation_dsc")
      .head().getString(0)
    assert(ddl.contains("CREATE TABLE nation_dsc") && ddl.contains("nationkey BIGINT"), ddl)
  }

  test("MATCH_RECOGNIZE SQL text lowers onto the operator and matches it") {
    import graft.sqlcompat.MatchRecognizeSql
    import org.apache.spark.sql.functions.col
    val dir = "/root/testdata/sf0.001"
    val ev = graft.engine.Graft.load(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("value"))
    // SQL-text path ≡ the operator driven with a Scala DEFINE closure,
    // row for row (same query as dx3)
    val sqlSide = MatchRecognizeSql.translate(
      """SELECT * FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY event_id
        |  MEASURES MATCH_NUMBER() AS mn, COUNT(*) AS n,
        |           FIRST(value) AS fv, LAST(value) AS lv
        |  ONE ROW PER MATCH
        |  PATTERN (U{2,})
        |  DEFINE U AS value > PREV(value))""".stripMargin,
      _ => ev)
    val up: (org.apache.spark.sql.Row, org.apache.spark.sql.Row) => Boolean =
      (p, c) => p != null && c.getAs[Double]("value") > p.getAs[Double]("value")
    import graft.operators.MatchRecognize.SqlMeasure
    val apiSide = graft.operators.MatchRecognize.sqlRows(ev, Seq("user_id"),
      Seq("event_id"), "U{2,}", graft.operators.MatchRecognize.wrapSimple(Map("U" -> up)),
      Seq(SqlMeasure.MatchNum -> "mn", SqlMeasure.CountStar -> "n",
        SqlMeasure.Agg("first", "value") -> "fv", SqlMeasure.Agg("last", "value") -> "lv"),
      allRows = false)
    assert(sqlSide.count() > 0)
    assert(sqlSide.exceptAll(apiSide).isEmpty && apiSide.exceptAll(sqlSide).isEmpty)
  }

  test("MATCH_RECOGNIZE SQL: DEFINE surface (cross-var, AND/OR, nav fns, skip)") {
    import graft.sqlcompat.MatchRecognizeSql
    import org.apache.spark.sql.functions.col
    val ev = graft.engine.Graft.load(spark, "/root/testdata/sf0.001", "events")
      .select(col("user_id"), col("event_id"), col("value"))
    // cross-variable running LAST + conjunction + TO NEXT ROW skip
    val r = MatchRecognizeSql.translate(
      """SELECT * FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY event_id
        |  MEASURES COUNT(*) AS n, MAX(value) AS peak
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (A B+)
        |  DEFINE A AS value > 0 AND value < 1000000,
        |         B AS B.value > A.value OR B.value > FIRST(B.value))""".stripMargin,
      _ => ev)
    assert(r.columns.toSeq == Seq("user_id", "n", "peak"))
    assert(r.count() > 0)
  }

  test("MATCH_RECOGNIZE SQL: WITH UNMATCHED ROWS and SHOW EMPTY MATCHES") {
    import graft.sqlcompat.MatchRecognizeSql
    val spk = spark
    import spk.implicits._
    // g=1: values 10,20,30 (rising run rows 2-3 after PREV), then 5
    val ev = Seq((1, 1L, 10.0), (1, 2L, 20.0), (1, 3L, 30.0), (1, 4L, 5.0))
      .toDF("g", "o", "v")
    val un = MatchRecognizeSql.translate(
      """SELECT * FROM t MATCH_RECOGNIZE (
        |  PARTITION BY g ORDER BY o
        |  MEASURES MATCH_NUMBER() AS mno, COUNT(*) AS c
        |  ALL ROWS PER MATCH WITH UNMATCHED ROWS
        |  PATTERN (U{2,})
        |  DEFINE U AS v > PREV(v))""".stripMargin, _ => ev)
      .orderBy("o").collect()
    // rows 2,3 matched (match 1); rows 1,4 unmatched with null measures
    assert(un.length == 4)
    assert(un(0).isNullAt(2) && un(0).isNullAt(3))
    assert(un(1).getLong(2) == 1L && un(1).getLong(3) == 1L)
    assert(un(2).getLong(2) == 1L && un(2).getLong(3) == 2L)
    assert(un(3).isNullAt(2))
    val se = MatchRecognizeSql.translate(
      """SELECT * FROM t MATCH_RECOGNIZE (
        |  PARTITION BY g ORDER BY o
        |  MEASURES MATCH_NUMBER() AS mno, CLASSIFIER() AS cls, COUNT(*) AS c
        |  ALL ROWS PER MATCH SHOW EMPTY MATCHES
        |  PATTERN (D*)
        |  DEFINE D AS v < PREV(v))""".stripMargin, _ => ev)
      .orderBy("o").collect()
    // rows 1-3 anchor empty matches (no fall), row 4 is a 1-row D match
    assert(se.length == 4)
    assert(se(0).getLong(2) == 1L && se(0).isNullAt(3) && se(0).getLong(4) == 0L)
    assert(se(2).getLong(2) == 3L && se(2).getLong(4) == 0L)
    assert(se(3).getLong(2) == 4L && se(3).getString(3) == "D" && se(3).getLong(4) == 1L)
    // the two suffixes are mutually exclusive with ONE ROW PER MATCH
    intercept[IllegalArgumentException](MatchRecognizeSql.translate(
      """SELECT * FROM t MATCH_RECOGNIZE (
        |  PARTITION BY g ORDER BY o
        |  MEASURES COUNT(*) AS c
        |  ONE ROW PER MATCH WITH UNMATCHED ROWS
        |  PATTERN (U+) DEFINE U AS v > PREV(v))""".stripMargin, _ => ev))
  }

  test("MATCH_RECOGNIZE SQL: DEFINE arithmetic is Long-exact past 2^53") {
    import graft.sqlcompat.MatchRecognizeSql
    val spk = spark
    import spk.implicits._
    // Epoch-nano values at 1.6e18 (double ulp = 256 ns): the exact
    // gap is threshold+100, but BOTH operands round to doubles whose
    // difference is exactly the threshold — double arithmetic would
    // wrongly match, Long-exact correctly rejects.
    val base = 1_600_000_000_000_000_000L
    val rows = Seq((1L, 1L, base), (1L, 2L, base + 60_000_000_100L))
      .toDF("user_id", "event_id", "ts_ns")
    val r = MatchRecognizeSql.translate(
      """SELECT * FROM t MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY event_id
        |  MEASURES COUNT(*) AS n
        |  ONE ROW PER MATCH
        |  PATTERN (A B)
        |  DEFINE B AS ts_ns - PREV(ts_ns) <= 60000000000)""".stripMargin,
      _ => rows)
    assert(r.count() == 0, "gap is 100 ns past the threshold — must not match")
    // and the accepting side still matches (gap exactly at threshold)
    val rows2 = Seq((1L, 1L, base), (1L, 2L, base + 60_000_000_000L))
      .toDF("user_id", "event_id", "ts_ns")
    val r2 = MatchRecognizeSql.translate(
      """SELECT * FROM t MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY event_id
        |  MEASURES COUNT(*) AS n
        |  ONE ROW PER MATCH
        |  PATTERN (A B)
        |  DEFINE B AS ts_ns - PREV(ts_ns) <= 60000000000)""".stripMargin,
      _ => rows2)
    assert(r2.count() == 1)
  }

  test("MATCH_RECOGNIZE SQL: unsupported forms fail loudly") {
    import graft.sqlcompat.MatchRecognizeSql
    val ev = graft.engine.Graft.load(spark, "/root/testdata/sf0.001", "events")
    def bad(sql: String): Unit =
      assertThrows[IllegalArgumentException](MatchRecognizeSql.translate(sql, _ => ev))
    // projection other than SELECT *
    bad("SELECT user_id FROM events MATCH_RECOGNIZE (PARTITION BY user_id ORDER BY event_id MEASURES COUNT(*) AS n PATTERN (A) DEFINE A AS value > 0)")
    // DESC ordering (the engine sorts ascending only)
    bad("SELECT * FROM events MATCH_RECOGNIZE (PARTITION BY user_id ORDER BY event_id DESC MEASURES COUNT(*) AS n PATTERN (A) DEFINE A AS value > 0)")
    // malformed rows-per-match suffix (r13 supports SHOW/OMIT EMPTY
    // MATCHES and WITH UNMATCHED ROWS; anything else still fails)
    bad("SELECT * FROM events MATCH_RECOGNIZE (PARTITION BY user_id ORDER BY event_id MEASURES COUNT(*) AS n ALL ROWS PER MATCH KEEP EVERYTHING PATTERN (A) DEFINE A AS value > 0)")
    // unsupported measure function
    bad("SELECT * FROM events MATCH_RECOGNIZE (PARTITION BY user_id ORDER BY event_id MEASURES STDDEV(value) AS s PATTERN (A) DEFINE A AS value > 0)")
    // measure over a nonexistent column
    bad("SELECT * FROM events MATCH_RECOGNIZE (PARTITION BY user_id ORDER BY event_id MEASURES FIRST(value) AS fv, MIN(event_ts) AS other PATTERN (A) DEFINE A AS value > 0)")
  }

  test("MATCH_RECOGNIZE SQL: string comparisons in DEFINE (funnel form)") {
    import graft.sqlcompat.MatchRecognizeSql
    val spk = spark
    import spk.implicits._
    val ev = Seq(
      (1L, 1L, "view"), (1L, 2L, "view"), (1L, 3L, "purchase"),
      (1L, 4L, "click"), (1L, 5L, "view"), (1L, 6L, "purchase"),
      (2L, 1L, "purchase"), (2L, 2L, "view")
    ).toDF("user_id", "event_id", "event_type")
    val r = MatchRecognizeSql.translate(
      """SELECT * FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY event_id
        |  MEASURES MATCH_NUMBER() AS mn, FIRST(event_id) AS v_id, LAST(event_id) AS p_id
        |  ONE ROW PER MATCH
        |  PATTERN (V P)
        |  DEFINE V AS event_type = 'view', P AS event_type = 'purchase')""".stripMargin,
      _ => ev)
    // user 1: (2,3) then (5,6); user 2: no view-then-purchase pair
    assert(r.orderBy("user_id", "mn").collect().map(_.toSeq).toSeq ==
      Seq(Seq(1L, 1L, 2L, 3L), Seq(1L, 2L, 5L, 6L)))
    // incomparable operand types fail loudly at runtime
    val bad = MatchRecognizeSql.translate(
      """SELECT * FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY event_id
        |  MEASURES COUNT(*) AS n
        |  ONE ROW PER MATCH
        |  PATTERN (A)
        |  DEFINE A AS event_type = 1)""".stripMargin,
      _ => ev)
    val ex = intercept[Exception](bad.count())
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("incomparable")))
  }

  test("relation SQL: UNNEST WITH ORDINALITY + TABLESAMPLE lower onto operators") {
    import graft.sqlcompat.Statements
    import org.apache.spark.sql.AnalysisException
    val spk = spark
    import spk.implicits._
    Seq((1L, "a b c"), (2L, "x y")).toDF("doc_id", "text").createOrReplaceTempView("rel_docs")
    Seq((1L, "x"), (1L, "y"), (2L, "z")).toDF("doc_id", "tag").createOrReplaceTempView("rel_tags")
    def run(sql: String) = Statements.execute(spark, sql)
    val r = run(
      """SELECT doc_id, term, ord
        |FROM rel_docs
        |CROSS JOIN UNNEST(split(text, ' ')) WITH ORDINALITY AS t(term, ord)
        |WHERE doc_id < 2""".stripMargin)
    assert(r.orderBy("ord").collect().map(_.toSeq).toSeq ==
      Seq(Seq(1L, "a", 1L), Seq(1L, "b", 2L), Seq(1L, "c", 3L)))
    // no-ordinality form is a plain explode; a comma joins like CROSS JOIN
    val r2 = run(
      "SELECT doc_id, term FROM rel_docs CROSS JOIN UNNEST(split(text, ' ')) AS t(term)")
    assert(r2.count() == 5)
    assert(run("SELECT d.doc_id, t.term FROM rel_docs d, UNNEST(split(d.text, ' ')) t(term)")
      .count() == 5)
    // ordinality under a two-table join and GROUP BY: doc 1 meets two
    // tags (3 words x 2), doc 2 one tag (2 words)
    val g = run(
      """SELECT d.doc_id, count(*) AS n, max(t.i) AS last_i
        |FROM rel_docs d JOIN rel_tags g ON d.doc_id = g.doc_id
        |CROSS JOIN UNNEST(split(d.text, ' ')) WITH ORDINALITY AS t(w, i)
        |GROUP BY d.doc_id""".stripMargin)
    assert(g.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet ==
      Set((1L, 6L, 3L), (2L, 2L, 2L)))
    // EXPLAIN ANALYZE profiles the same lowering: one generator
    val prof = run(
      """EXPLAIN ANALYZE SELECT doc_id, term, ord FROM rel_docs
        |CROSS JOIN UNNEST(split(text, ' ')) WITH ORDINALITY AS t(term, ord)""".stripMargin)
      .head().getString(0)
    assert("(?m)^\\s*Generate\\s+\\[numOutputRows=5\\]".r.findFirstIn(prof).isDefined, prof)
    // TABLESAMPLE: fraction within binomial bounds on a bigger input
    val n = run("SELECT o_orderkey FROM orders TABLESAMPLE BERNOULLI(20)").count()
    val total = spark.table("orders").count()
    val sigma = math.sqrt(total * 0.2 * 0.8)
    assert(math.abs(n - total * 0.2) <= 6 * sigma, s"sampled $n of $total")
    // inside a CTE, with the same fixed seed, the same rows
    assert(run(
      """WITH s AS (SELECT o_orderkey FROM orders TABLESAMPLE BERNOULLI(20))
        |SELECT count(*) FROM s""".stripMargin).head().getLong(0) == n)
    // an aliased relation samples before its alias
    assert(run("SELECT count(*) FROM orders o TABLESAMPLE SYSTEM (20) WHERE o.o_orderkey >= 0")
      .head().getLong(0) == n)
    // the reference accepts an UNNEST without an alias, and a sampled
    // relation under GROUP BY
    assert(run("SELECT doc_id FROM rel_docs CROSS JOIN UNNEST(split(text, ' '))").count() == 5)
    assert(run("SELECT doc_id FROM rel_docs TABLESAMPLE BERNOULLI(100) GROUP BY doc_id")
      .count() == 2)
    assert(run("SELECT doc_id FROM rel_docs TABLESAMPLE BERNOULLI(20) GROUP BY doc_id")
      .count() <= 2)
    // loud failures: column-count mismatch, out-of-range percentage
    intercept[AnalysisException](run(
      "SELECT doc_id FROM rel_docs CROSS JOIN UNNEST(split(text, ' ')) AS t(a, b)").collect())
    intercept[AnalysisException](run(
      "SELECT doc_id FROM rel_docs TABLESAMPLE BERNOULLI(150)").collect())
  }

  test("relation SQL: multi-argument UNNEST zips with null padding; MAP unnests to pairs") {
    import graft.sqlcompat.Statements
    import org.apache.spark.sql.AnalysisException
    val spk = spark
    import spk.implicits._
    Seq((1L, "a b c")).toDF("doc_id", "text").createOrReplaceTempView("rel_doc")
    def run(sql: String) = Statements.execute(spark, sql)
    // two arrays of different lengths: shorter padded with nulls
    val z = run(
      """SELECT doc_id, w, n, ord
        |FROM rel_doc
        |CROSS JOIN UNNEST(split(text, ' '), array(10, 20)) WITH ORDINALITY AS t(w, n, ord)""".stripMargin)
      .orderBy("ord").collect()
    assert(z.map(r => (r.getString(1), if (r.isNullAt(2)) -1 else r.getInt(2), r.getLong(3))).toSeq ==
      Seq(("a", 10, 1L), ("b", 20, 2L), ("c", -1, 3L)))
    // map argument → (key, value) pairs
    val mp = run(
      """SELECT doc_id, k, v
        |FROM rel_doc
        |CROSS JOIN UNNEST(map('x', 1, 'y', 2)) AS t(k, v)
        |WHERE doc_id = 1""".stripMargin).collect()
    assert(mp.map(r => (r.getString(1), r.getInt(2))).toSet == Set(("x", 1), ("y", 2)))
    // a MAP argument inside a zip expands to (key, value) slots,
    // padded against the longer array
    val mz = run(
      """SELECT k, v, w FROM rel_doc
        |CROSS JOIN UNNEST(map('x', 1), split(text, ' ')) AS t(k, v, w)""".stripMargin)
      .orderBy("w").collect()
    assert(mz.map(r => (if (r.isNullAt(0)) "-" else r.getString(0),
      if (r.isNullAt(1)) -1 else r.getInt(1), r.getString(2))).toSeq ==
      Seq(("x", 1, "a"), ("-", -1, "b"), ("-", -1, "c")))
    // a NULL collection behaves as EMPTY, not as a row-dropper
    // (reference TestUnnestOperator.testUnnest: (2, [99], null) still
    // emits (2, 99, null, null)) — arrays_zip alone would return NULL
    // and emit zero rows for the whole row
    Seq((1L, Seq(99), null: Seq[String])).toDF("id", "nums", "strs")
      .createOrReplaceTempView("rel_nulls")
    val nz = run("SELECT id, n, s FROM rel_nulls CROSS JOIN UNNEST(nums, strs) AS u(n, s)")
      .collect()
    assert(nz.length == 1)
    assert(nz.head.getInt(1) == 99 && nz.head.isNullAt(2))
    // NULL map slot likewise pads with nulls against the longer array
    Seq((1L, Seq(7, 8), null: Map[String, Int])).toDF("id", "nums", "mp")
      .createOrReplaceTempView("rel_null_map")
    val nm = run("SELECT id, n, k, v FROM rel_null_map CROSS JOIN UNNEST(nums, mp) AS u(n, k, v)")
      .orderBy("n").collect()
    assert(nm.map(r => (r.getInt(1), r.isNullAt(2), r.isNullAt(3))).toSeq ==
      Seq((7, true, true), (8, true, true)))
    // arity mismatch fails loudly
    intercept[AnalysisException](run(
      "SELECT doc_id FROM rel_doc CROSS JOIN UNNEST(split(text, ' '), array(1)) AS t(a)").collect())
    // OUTER unnest: the empty-array row survives with null word AND
    // null ordinality; inner form drops it.
    Seq((1L, "a b"), (2L, "")).toDF("doc_id", "text").createOrReplaceTempView("rel_two")
    val outer = run(
      """SELECT doc_id, w, ord FROM rel_two
        |LEFT JOIN UNNEST(filter(split(text, ' '), x -> length(x) > 0))
        |  WITH ORDINALITY AS t(w, ord) ON TRUE""".stripMargin).collect()
    assert(outer.length == 3)
    val padded = outer.filter(_.getLong(0) == 2L)
    assert(padded.length == 1 && padded.head.isNullAt(1) && padded.head.isNullAt(2))
    val inner = run(
      """SELECT doc_id, w FROM rel_two
        |CROSS JOIN UNNEST(filter(split(text, ' '), x -> length(x) > 0)) AS t(w)""".stripMargin)
      .collect()
    assert(inner.length == 2 && inner.forall(_.getLong(0) == 1L))
    // [INNER] JOIN UNNEST … ON TRUE is the inner form; LEFT JOIN
    // UNNEST without ON TRUE fails loudly
    assert(run(
      """SELECT doc_id, w FROM rel_two
        |JOIN UNNEST(filter(split(text, ' '), x -> length(x) > 0)) AS t(w) ON TRUE""".stripMargin)
      .count() == 2)
    assertThrows[IllegalArgumentException](run(
      "SELECT doc_id FROM rel_two LEFT JOIN UNNEST(split(text, ' ')) AS t(a)"))
    // array-of-ROWs flattens into one column per field (inline form),
    // composing with ordinality — and with a zipped plain array.
    val rows = run(
      """SELECT doc_id, nm, sz, ord FROM rel_doc
        |CROSS JOIN UNNEST(ARRAY[ROW('a', 1), ROW('b', 2)])
        |  WITH ORDINALITY AS t(nm, sz, ord)""".stripMargin).orderBy("ord").collect()
    assert(rows.map(r => (r.getString(1), r.getInt(2), r.getLong(3))).toSeq ==
      Seq(("a", 1, 1L), ("b", 2, 2L)))
    val rowZip = run(
      """SELECT nm, sz, x FROM rel_doc
        |CROSS JOIN UNNEST(ARRAY[ROW('a', 1)], array(7, 8)) AS t(nm, sz, x)""".stripMargin)
      .orderBy("x").collect()
    assert(rowZip.map(r => (if (r.isNullAt(0)) "-" else r.getString(0),
      if (r.isNullAt(1)) -1 else r.getInt(1), r.getInt(2))).toSeq ==
      Seq(("a", 1, 7), ("-", -1, 8)))
  }

  test("relation SQL: ORDER BY + OFFSET + FETCH lower onto sort/offset/limit/ties") {
    import graft.sqlcompat.Statements
    import org.apache.spark.sql.AnalysisException
    val spk = spark
    import spk.implicits._
    val t = Seq[(Long, Option[Double])]((1L, Some(10.0)), (2L, Some(30.0)),
      (3L, Some(20.0)), (4L, Some(30.0)), (5L, None)).toDF("k", "v")
    t.createOrReplaceTempView("rel_t")
    def run(sql: String) = Statements.execute(spark, sql)
    // FETCH ONLY with OFFSET: rows 2..3 of the DESC order.
    val only = run("SELECT k, v FROM rel_t ORDER BY v DESC OFFSET 1 ROWS FETCH NEXT 2 ROWS ONLY")
    // reference null ordering: DESC → nulls FIRST, so the null row is
    // rank 1 and the offset skips it.
    assert(only.collect().map(_.getLong(0)).toSet == Set(2L, 4L))
    // WITH TIES keeps every row tying with the n-th (both 30.0s).
    val ties = run(
      "SELECT k, v FROM rel_t WHERE v IS NOT NULL ORDER BY v DESC FETCH FIRST 1 ROWS WITH TIES")
    assert(ties.collect().map(_.getLong(0)).toSet == Set(2L, 4L))
    assert(ties.queryExecution.executedPlan.toString.contains("WindowGroupLimit"))
    // the result keeps the ORDER BY, and WITH TIES works in a subquery
    assert(run("SELECT k, v FROM rel_t ORDER BY v FETCH FIRST 2 ROWS WITH TIES")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 3L))
    assert(run(
      """SELECT count(*) FROM (SELECT k, v FROM rel_t WHERE v IS NOT NULL
        |ORDER BY v DESC FETCH FIRST 1 ROWS WITH TIES) x""".stripMargin)
      .head().getLong(0) == 2L)
    // ASC default puts nulls last (reference semantics, not Spark's).
    val asc = run("SELECT k FROM rel_t ORDER BY v OFFSET 4 ROWS")
    assert(asc.collect().map(_.getLong(0)).toSeq == Seq(5L))
    // bare ORDER BY is a full sort
    val sorted = run("SELECT k FROM rel_t WHERE v IS NOT NULL ORDER BY v ASC, k DESC")
    assert(sorted.collect().map(_.getLong(0)).toSeq == Seq(1L, 3L, 4L, 2L))
    // a clause keyword inside a quoted identifier is not a clause
    t.withColumn("v ORDER BY", org.apache.spark.sql.functions.col("v"))
      .createOrReplaceTempView("rel_tq")
    val quoted = run("SELECT k FROM rel_tq WHERE \"v ORDER BY\" IS NOT NULL ORDER BY k DESC")
    assert(quoted.collect().map(_.getLong(0)).toSeq == Seq(4L, 3L, 2L, 1L))
    // loud failures: OFFSET with TIES, FETCH without ONLY / WITH TIES,
    // an empty sort list
    assertThrows[IllegalArgumentException](run(
      "SELECT k FROM rel_t ORDER BY v OFFSET 1 ROWS FETCH FIRST 2 ROWS WITH TIES"))
    intercept[AnalysisException](run("SELECT k FROM rel_t ORDER BY v FETCH FIRST 2 ROWS"))
    assertThrows[IllegalArgumentException](run(
      "SELECT k FROM rel_t ORDER BY FETCH FIRST 2 ROWS ONLY"))
  }

  test("MATCH_RECOGNIZE SQL: multi-column keys + ALL ROWS PER MATCH (dx4 surface)") {
    import graft.sqlcompat.MatchRecognizeSql
    val spk = spark
    import spk.implicits._
    // Two (g1, g2) groups; order needs BOTH order columns to be total.
    // Rising runs U{2,}: group (1, a) rows 10,20,30 at o1=1,1,2 (o2 breaks
    // the o1 tie) → one 3-row... values 10>?: define U AS value > PREV(value).
    val ev = Seq(
      (1L, "a", 1L, 1L, 10.0),
      (1L, "a", 1L, 2L, 20.0),
      (1L, "a", 2L, 1L, 30.0),
      (1L, "a", 2L, 2L, 5.0),
      (1L, "b", 1L, 1L, 1.0),
      (1L, "b", 2L, 1L, 2.0),
      (2L, "a", 1L, 1L, 9.0),
      (2L, "a", 2L, 1L, 3.0)
    ).toDF("g1", "g2", "o1", "o2", "v")
    val r = MatchRecognizeSql.translate(
      """SELECT * FROM t MATCH_RECOGNIZE (
        |  PARTITION BY g1, g2
        |  ORDER BY o1, o2
        |  MEASURES MATCH_NUMBER() AS mn, CLASSIFIER() AS cls,
        |           COUNT(*) AS rn, MAX(v) AS mx, FIRST(o2) AS fo2
        |  ALL ROWS PER MATCH
        |  PATTERN (U{2,})
        |  DEFINE U AS v > PREV(v))""".stripMargin,
      _ => ev)
    // standard ALL ROWS output: partition + order + measures + remaining
    assert(r.columns.toSeq ==
      Seq("g1", "g2", "o1", "o2", "mn", "cls", "rn", "mx", "fo2", "v"))
    val got = r.orderBy("g1", "g2", "o1", "o2").collect().map(_.toSeq)
    // (1,a): rising run rows 2..3 (20,30). (1,b): row1 has no prev → U
    // false; only row2 rises → length 1 < 2 → no match. (2,a): falls.
    assert(got.toSeq == Seq(
      Seq(1L, "a", 1L, 2L, 1L, "U", 1L, 20.0, 2L, 20.0),
      Seq(1L, "a", 2L, 1L, 1L, "U", 2L, 30.0, 2L, 30.0)))
    // ONE ROW PER MATCH over the same keys: FINAL semantics, SUM/AVG
    val one = MatchRecognizeSql.translate(
      """SELECT * FROM t MATCH_RECOGNIZE (
        |  PARTITION BY g1, g2
        |  ORDER BY o1, o2
        |  MEASURES COUNT(*) AS n, SUM(o2) AS so2, AVG(v) AS av
        |  ONE ROW PER MATCH
        |  PATTERN (U{2,})
        |  DEFINE U AS v > PREV(v))""".stripMargin,
      _ => ev)
    val gotOne = one.orderBy("g1", "g2").collect().map(_.toSeq)
    assert(gotOne.toSeq == Seq(Seq(1L, "a", 2L, 3L, 25.0)))
  }

  test("window frame bounds: constant forms stay on Spark's native framer") {
    // typed literal → plain INT literal (the 100-TB path, no collect)
    val t1 = Dialect.translate(
      "SELECT sum(a) OVER(ORDER BY b ROWS BETWEEN TINYINT '1' PRECEDING AND CURRENT ROW) FROM t")
    assert(t1.contains("ROWS BETWEEN 1 PRECEDING AND CURRENT ROW") &&
      !t1.contains("collect_list"), t1)
    // inline numeric CAST bound: the digits ARE the value, not a
    // literal index — must parse constant, not fall to the dynamic path
    val t2 = Dialect.translate(
      "SELECT sum(a) OVER(ORDER BY b ROWS BETWEEN CAST(2 AS INTEGER) PRECEDING AND CURRENT ROW) FROM t")
    assert(t2.contains("ROWS BETWEEN 2 PRECEDING AND CURRENT ROW") &&
      !t2.contains("collect_list"), t2)
    // constant inline CAST bounds work for ANY window aggregate (no
    // dynamic-path function allowlist)
    val t3 = Dialect.translate(
      "SELECT stddev(a) OVER(ORDER BY b ROWS BETWEEN CAST(3 AS BIGINT) PRECEDING AND CURRENT ROW) FROM t")
    assert(t3.contains("ROWS BETWEEN 3 PRECEDING AND CURRENT ROW"), t3)
  }

  test("window frame bounds: dynamic ROWS offsets slice an indexed buffer under a size guard") {
    val t = Dialect.translate(
      "SELECT sum(a) OVER(PARTITION BY p ORDER BY b ROWS BETWEEN x PRECEDING AND CURRENT ROW) FROM t")
    // index-addressed O(frame) slice, not an O(partition) filter scan
    assert(t.contains("slice(") && !t.contains("filter(collect_list"), t)
    // the partition-size guard fails loud before the memory cliff
    assert(t.contains("4194304") && t.contains("raise_error"), t)
    // dynamic GROUPS offsets keep the filter scan but gain the guard
    val g = Dialect.translate(
      "SELECT count(a) OVER(ORDER BY b GROUPS BETWEEN x PRECEDING AND CURRENT ROW) FROM t")
    assert(g.contains("1048576") && g.contains("raise_error"), g)
  }
}

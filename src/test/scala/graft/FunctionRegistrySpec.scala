package graft

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Graft
import org.apache.spark.sql.catalyst.expressions.{LastDay, ScalaUDF}

import graft.functions.{CosineSimilarity, FunctionTable, GraftFunctions}

/** The engine's functions live in one table that `GraftExtensions`
  * injects into every session's registry: a session that
  * `Graft.session` did not build itself (`newSession()`) must resolve
  * the same names to the same results. The vector and hash
  * expressions reject argument types they cannot read at analysis. */
class FunctionRegistrySpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = Graft.session("graft-function-registry", 2)
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def functionNames(s: SparkSession): Set[String] =
    s.sql("SHOW ALL FUNCTIONS").collect().map(_.getString(0)).toSet

  test("a new session lists the same functions as Graft.session") {
    val names = functionNames(spark)
    assert(functionNames(spark.newSession()) == names)
    val table = GraftFunctions.table.names
    assert(table.forall(names.contains), table.filterNot(names.contains))
    // DESCRIBE FUNCTION names the implementing class
    Seq("cosine_similarity" -> classOf[CosineSimilarity],
      "last_day_of_month" -> classOf[LastDay],
      "url_extract_host" -> classOf[ScalaUDF]).foreach { case (f, c) =>
      assert(spark.newSession().catalog.getFunction(f).className == c.getName, f)
    }
  }

  test("a new session gives the same rows, builtin overrides included") {
    val fresh = spark.newSession()
    val cases = Seq(
      "SELECT chr(9731)" -> "☃",
      "SELECT url_extract_host('http://a.b/c')" -> "a.b",
      "SELECT CAST(date_parse('2020-01-02', '%Y-%m-%d') AS STRING)" ->
        "2020-01-02 00:00:00")
    cases.foreach { case (q, want) =>
      val rows = spark.sql(q).collect().toSeq
      assert(rows.map(_.getString(0)) == Seq(want), q)
      assert(fresh.sql(q).collect().toSeq == rows, q)
    }
    // a scalar UDF keeps its name in plans and its arity check
    val plan = fresh.sql("SELECT url_extract_host(u) FROM VALUES ('http://a.b/c') t(u)")
      .queryExecution.analyzed.toString
    assert(plan.contains("url_extract_host(u#"), plan)
    val e = intercept[AnalysisException](fresh.sql("SELECT url_extract_host('a', 'b')"))
    assert(e.getCondition.startsWith("WRONG_NUM_ARGS"), e.getMessage)
  }

  test("the table rejects a name added twice") {
    val t = new FunctionTable
    t.fn("f", _.head)
    intercept[IllegalArgumentException](t.fn("f", _.head))
  }

  test("vector and hash functions check their argument types at analysis") {
    Seq(
      "cosine_similarity(map('a', 1), map('a', 2))",
      "cosine_similarity('a', 'b')",
      "cosine_similarity(array(1.0D), map('a', 1.0D))",
      "dot_product('a', 'b')",
      "dot_product(array(1, 2), array(3, 4))",
      "simhash64(1)").foreach { call =>
      val e = intercept[AnalysisException](spark.sql(s"SELECT $call"))
      assert(e.getCondition.startsWith("DATATYPE_MISMATCH"), s"$call: ${e.getMessage}")
    }
    // an untyped NULL argument yields NULL, as before the checks
    // existed, and the generated code compiles (no interpreted fallback)
    val strict = spark.newSession()
    strict.conf.set("spark.sql.codegen.fallback", "false")
    Seq("cosine_similarity(NULL, NULL)", "cosine_similarity(NULL, array(1F))",
      "cosine_similarity(map('a', 1D), NULL)", "dot_product(NULL, NULL)",
      "dot_product(array(CAST(id AS DOUBLE)), NULL)", "simhash64(NULL)").foreach { call =>
      assert(strict.sql(s"SELECT $call FROM range(1)").head().isNullAt(0), call)
    }
    def value(call: String): Double = spark.sql(s"SELECT $call").head().getDouble(0)
    assert(value("cosine_similarity(array(1.0D, 0.0D), array(1.0D, 0.0D))") == 1.0)
    assert(value("cosine_similarity(map('a', 1.0D), map('a', 2.0D))") == 1.0)
    // mixed float and double sides, through generated code (the inputs
    // are not foldable)
    val mixed = spark.sql(
      """SELECT cosine_similarity(array(CAST(id + 3 AS FLOAT), 4F), array(CAST(id + 3 AS DOUBLE), 4D)),
        |  cosine_similarity(array(CAST(id + 3 AS DOUBLE), 4D), array(4F, CAST(id + 3 AS FLOAT))),
        |  dot_product(array(CAST(id + 1 AS DOUBLE), 2D), array(3F, CAST(id + 4 AS FLOAT)))
        |FROM range(1)""".stripMargin).head()
    assert(mixed.getDouble(0) == 1.0)
    assert(mixed.getDouble(1) == 0.96)
    assert(mixed.getDouble(2) == 11.0)
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Bench decides per query whether a sample may re-execute a prepared
  * plan or must rebuild the query, from what construction measurably
  * did. Tiny in-spec builders pin each classification. */
class BenchPrepareSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = graft.engine.Graft.session("graft-bench-prepare-test", 2)
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def rows(df: DataFrame): Set[Long] = df.collect().map(_.getLong(0)).toSet

  test("a builder that runs count() at construction is rebuilt every sample") {
    val build = () => {
      val n = spark.range(100).filter("id % 3 = 0").count()
      spark.range(n).toDF("id")
    }
    val p = Bench.prepare(spark, build)
    assert(p.constructionJobs >= 1)
    assert(!p.readsLocalCheckpoint)
    assert(p.rebuilt)
    assert(rows(p.sample()) == (0L until 34L).toSet)
  }

  test("a builder whose plan reads a lazy localCheckpoint is rebuilt every sample") {
    val build = () =>
      spark.range(50).selectExpr("id * 2 AS id").localCheckpoint(eager = false)
    val p = Bench.prepare(spark, build)
    // no job runs at construction: only the checkpoint rule catches it
    assert(p.constructionJobs == 0)
    assert(p.readsLocalCheckpoint)
    assert(p.rebuilt)
    assert(rows(p.sample()) == (0L until 100L by 2).toSet)
  }

  test("a pure builder re-executes its prepared plan") {
    var builds = 0
    val build = () => {
      builds += 1
      spark.range(100).selectExpr("id % 7 AS k").groupBy("k").count().select("k")
    }
    val p = Bench.prepare(spark, build)
    assert(p.constructionJobs == 0)
    assert(!p.readsLocalCheckpoint)
    assert(!p.rebuilt)
    assert(rows(p.sample()) == (0L until 7L).toSet)
    assert(rows(p.sample()) == (0L until 7L).toSet)
    assert(builds == 1, "samples of a prepared plan must not call the builder")
  }

  test("jobs only the first construction runs are setup, not construction work") {
    var fixture: Option[Long] = None
    val build = () => {
      val n = fixture.getOrElse { val c = spark.range(20).count(); fixture = Some(c); c }
      spark.range(n).toDF("id")
    }
    val p = Bench.prepare(spark, build)
    assert(p.constructionJobs == 0)
    assert(!p.rebuilt)
    assert(rows(p.sample()) == (0L until 20L).toSet)
  }
}

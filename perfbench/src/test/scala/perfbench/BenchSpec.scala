package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  private def stmt(id: String) = Stmt(id, Read, _ => Fingerprinted(0, 0))
  private val families = Seq(
    Family("a", IndexedSeq(stmt("a"))),
    Family("b", IndexedSeq(stmt("b@1"), stmt("b@2"), stmt("b@3"))),
    Family("c", IndexedSeq(stmt("c"))),
    Family("d", IndexedSeq(stmt("d@1"), stmt("d@2"))))

  private def ids(seed: Long, round: Int) = Schedule.round(families, seed, round).map(_.id)

  test("the same seed gives the same schedule") {
    val rounds = (0 until 20).map(ids(42, _))
    assert((0 until 20).map(ids(42, _)) == rounds)
    assert(rounds.distinct.size > 1, "rounds must differ from each other")
    assert((0 until 20).map(ids(7, _)) != rounds, "another seed must give another schedule")
  }

  test("every round runs each family once") {
    for (r <- 0 until 10)
      assert(ids(5, r).map(_.takeWhile(_ != '@')).sorted == families.map(_.name).sorted)
  }

  test("the row hash does not depend on row or column order") {
    val schema = StructType(Seq(StructField("k", LongType), StructField("v", DoubleType),
      StructField("m", MapType(StringType, IntegerType))))
    val rows = Seq(Row(1L, 0.5, Map("x" -> 1, "y" -> 2)), Row(2L, null, Map.empty[String, Int]),
      Row(3L, 1.0 / 3, Map("y" -> 2, "x" -> 1)))
    val h = Stats.rowHash(schema, rows)
    assert(Stats.rowHash(schema, rows.reverse) == h)
    assert(Stats.rowHash(schema, Seq(rows(2), rows(0), rows(1))) == h)
    val swapped = StructType(Seq(schema(2), schema(0), schema(1)))
    assert(Stats.rowHash(swapped, rows.map(r => Row(r(2), r(0), r(1)))) == h)
    assert(Stats.rowHash(schema, rows.take(2)) != h)
    assert(Stats.rowHash(schema, rows.updated(0, Row(1L, 0.25, Map("x" -> 1)))) != h)
  }

  test("a last-ulp difference in a double does not change the hash") {
    val schema = StructType(Seq(StructField("v", DoubleType)))
    val a = 0.1 + 0.2
    assert(a != 0.3)
    assert(Stats.rowHash(schema, Seq(Row(a))) == Stats.rowHash(schema, Seq(Row(0.3))))
  }

  test("a planted wrong result raises error_rate") {
    val schema = StructType(Seq(StructField("k", LongType)))
    val good = new RowsDrained(schema, Array(Row(1L), Row(2L)))
    val expected = Map(
      "q" -> Expected("hash", 2, good.hash),
      "r" -> Expected("rows", 2, 0L))
    val wrongValue = new RowsDrained(schema, Array(Row(1L), Row(3L)))
    val wrongCount = new RowsDrained(schema, Array(Row(1L)))
    assert(Expected.verify(expected, "q", Some(good)))
    assert(!Expected.verify(expected, "q", Some(wrongValue)))
    assert(Expected.verify(expected, "r", Some(wrongValue)), "rows-only check ignores values")
    assert(!Expected.verify(expected, "r", Some(wrongCount)))
    assert(!Expected.verify(expected, "missing", Some(good)), "unrecorded statements fail")
    assert(!Expected.verify(expected, "q", None), "a statement that threw fails")

    def sample(ok: Boolean) = Sample(1, "q", Read, 1, 2, ok, traced = false)
    val clean = Seq.fill(10)(sample(true))
    assert(Expected.errorRate(clean) == 0.0)
    val planted = clean.updated(3, sample(Expected.verify(expected, "q", Some(wrongValue))))
    assert(Expected.errorRate(planted) == 0.1)
  }

  test("the percentile rule refuses p90 with fewer than 10 samples beyond it") {
    val xs99 = (1 to 99).map(_.toDouble)
    intercept[IllegalArgumentException](Stats.percentile(xs99, 0.9))
    val xs100 = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs100, 0.9) == 90.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0, 4.0)) == 2.5)
  }

  test("uncovered time subtracts the union of task intervals") {
    assert(Intervals.uncovered(0, 100, Seq((10.0, 30.0), (20.0, 40.0), (90.0, 120.0))) == 60.0)
    assert(Intervals.uncovered(0, 10, Nil) == 10.0)
  }
}

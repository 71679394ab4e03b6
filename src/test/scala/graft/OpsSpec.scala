package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Ops

/** Row fixture for operator-helper tests. */
case class KV(g: Int, k: Int, v: Double)

/** Hand-computed semantics for the Ops operator library. */
class OpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = graft.engine.Graft.session("graft-ops-test", 4)
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def fixture() = {
    val spk = spark
    import spk.implicits._
    Seq(KV(1, 1, 10), KV(1, 2, 30), KV(1, 3, 30), KV(1, 4, 20),
      KV(2, 1, 5), KV(2, 2, 5)).toDF()
  }

  test("topNPerGroup keeps exactly n per group with deterministic ranks") {
    val out = Ops.topNPerGroup(fixture(), 2,
        partition = Seq(col("g")), order = Seq(col("v").desc, col("k")))
      .select("g", "k", "rn").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
    // g=1: v desc → k=2 (30), k=3 (30, tie broken by k), g=2: k=1,k=2 (ties)
    assert(out == Set((1, 2, 1L), (1, 3, 2L), (2, 1, 1L), (2, 2, 2L)))
  }

  test("limitWithTies keeps peers of the boundary row") {
    val out = Ops.limitWithTies(fixture(), 2, Seq(col("v").desc))
      .select("k", "v").collect().map(r => (r.getInt(0), r.getDouble(1))).toSet
    // top-2 by v desc are the two 30s; WITH TIES adds nothing further
    assert(out == Set((2, 30.0), (3, 30.0)))
    val out3 = Ops.limitWithTies(fixture(), 3, Seq(col("v").desc))
      .select("v").collect().map(_.getDouble(0)).sorted.toSeq
    assert(out3 == Seq(20.0, 30.0, 30.0))
  }

  test("unnestWithOrdinality yields 1-based positions") {
    val spk = spark
    import spk.implicits._
    val df = Seq((1, Seq("a", "b", "c"))).toDF("id", "arr")
    val out = Ops.unnestWithOrdinality(df, col("arr"), "pos", "tok")
      .select("id", "pos", "tok").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getString(2))).toSet
    assert(out == Set((1, 1L, "a"), (1, 2L, "b"), (1, 3L, "c")))
  }

  test("groupingSetsAgg tags levels with grouping_id") {
    val spk = spark
    import spk.implicits._
    val df = Seq(("x", "p", 1), ("x", "q", 1), ("y", "p", 1)).toDF("a", "b", "n")
    val out = Ops.groupingSetsAgg(df,
        sets = Seq(Seq(col("a")), Seq(col("b"))),
        groupCols = Seq(col("a"), col("b")),
        aggs = Seq(org.apache.spark.sql.functions.count(col("n")).as("cnt")))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    // gid 1 = b aggregated away (per-a), gid 2 = a aggregated away (per-b)
    assert(out == Set(
      ("x", null, 2L, 1L), ("y", null, 1L, 1L),
      (null, "p", 2L, 2L), (null, "q", 1L, 2L)))
  }

  test("asOfJoin picks the most recent right row at-or-before each left ts") {
    val spk = spark
    import spk.implicits._
    // left: ts 5, 10, 15 on key 1; ts 3 on key 2 (no right rows at all)
    val left = Seq((1L, 5L, "l1"), (1L, 10L, "l2"), (1L, 15L, "l3"),
      (2L, 3L, "l4")).toDF("k", "ts", "tag")
    // right on key 1: ts 4 (before all), ts 10 (simultaneous with l2)
    val right = Seq((1L, 4L, 100.0), (1L, 10L, 200.0)).toDF("k", "ts", "pv")
    val out = Ops.asOfJoin(left, right, "k", "ts", Seq("pv"))
      .select("tag", "pv").collect().map(r =>
        r.getString(0) -> (if (r.isNullAt(1)) null else r.getDouble(1)))
      .toMap
    assert(out("l1") == 100.0) // ts 5 -> right ts 4
    assert(out("l2") == 200.0) // simultaneous right row IS visible (>=)
    assert(out("l3") == 200.0) // carried forward
    assert(out("l4") == null) // no right row for key 2 -> left outer null
  }

  test("asOfJoin carries a right row's payload atomically when a column is null") {
    val spk = spark
    import spk.implicits._
    val left = Seq((1L, 10L, "l1")).toDF("k", "ts", "tag")
    // most recent right row (ts 8) has pv = null: true ASOF yields null,
    // NOT the older row's 100.0 (per-column carry mixed rows here)
    val right = Seq((1L, 4L, Some(100.0), "old"), (1L, 8L, None, "new"))
      .toDF("k", "ts", "pv", "src")
    val r = Ops.asOfJoin(left, right, "k", "ts", Seq("pv", "src"))
      .select("pv", "src").collect().head
    assert(r.isNullAt(0), "null payload column must come from the matched row")
    assert(r.getString(1) == "new")
  }

  test("intervalBandJoin equals the naive theta join") {
    import org.apache.spark.sql.functions.{col, floor => _}
    val fact = spark.range(0, 1000).toDF("id")
      .withColumn("v", (col("id") * 7 % 100).cast("double"))
    val spk = spark
    import spk.implicits._
    val bands = Seq(("a", 0.0, 30.0), ("b", 30.0, 55.0), ("c", 55.0, 100.0))
      .toDF("tier", "lo", "hi")
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "tier").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    val viaBuckets = Ops.intervalBandJoin(fact, bands, "v", "lo", "hi", 10.0)
    val naive = fact.join(bands, col("v") >= col("lo") && col("v") < col("hi"))
    assert(keys(viaBuckets) == keys(naive))
    assert(viaBuckets.count() == 1000) // bands cover [0,100) exactly once
  }

  test("merge re-aggregates serialized sketches; two-level == one-level") {
    import org.apache.spark.sql.functions.expr
    val spk = spark
    import spk.implicits._
    val df = (1 to 1000).map(i => (i % 7, i.toDouble)).toDF("g", "v")
    // log-bucket qdigest: counts merge exactly, so re-aggregating the 7
    // per-group sketches is BIT-IDENTICAL to sketching all rows at once
    val twoLevel = df.groupBy("g").agg(expr("qdigest_agg(v)").as("sk"))
      .agg(expr("value_at_quantile(merge(sk), 0.5)")).head().getDouble(0)
    val oneLevel = df.agg(expr("value_at_quantile(qdigest_agg(v), 0.5)"))
      .head().getDouble(0)
    assert(twoLevel == oneLevel)
    // t-digest merge is order-dependent within rank bounds: the merged
    // median must still land near the true median 500.5
    val tTwo = df.groupBy("g").agg(expr("tdigest_agg(v)").as("sk"))
      .agg(expr("value_at_quantile(merge(sk), 0.5)")).head().getDouble(0)
    assert(math.abs(tTwo - 500.5) <= 30, s"t-digest merged median $tTwo")
    // mixing sketch families in one merge is an error, as in the reference
    val e = intercept[Exception] {
      df.agg(expr("qdigest_agg(v)").as("q"), expr("tdigest_agg(v)").as("t"))
        .selectExpr("explode(array(q, t)) AS sk")
        .agg(expr("merge(sk)")).head()
    }
    assert(e.getMessage != null)
  }

  test("min_by_n/max_by_n bounded heap matches sort-slice on a skewed group") {
    import org.apache.spark.sql.functions.{call_function, concat, lit}
    val spk = spark
    import spk.implicits._
    // skew: group 1 holds 50k rows (the shape that made the collect_list
    // composition a multi-GB buffer at scale), group 2 holds 3; 8
    // partitions force the partial/merge path through the heap
    val df = spark.range(0, 50000)
      .select(lit(1).as("g"), col("id").as("k"),
        concat(lit("v"), col("id")).as("v"))
      .unionByName(Seq((2, 7L, "a"), (2, 3L, "b"), (2, 9L, "c"))
        .toDF("g", "k", "v"))
      .repartition(8)
    val out = df.groupBy("g")
      .agg(call_function("min_by_n", col("v"), col("k"), lit(5)).as("lo"),
        call_function("max_by_n", col("v"), col("k"), lit(5)).as("hi"))
      .collect()
      .map(r => r.getInt(0) -> ((r.getSeq[String](1), r.getSeq[String](2))))
      .toMap
    assert(out(1)._1 == Seq("v0", "v1", "v2", "v3", "v4"))
    assert(out(1)._2 == Seq("v49999", "v49998", "v49997", "v49996", "v49995"))
    // n larger than the group returns the whole group, still ordered
    assert(out(2)._1 == Seq("b", "a", "c"))
    assert(out(2)._2 == Seq("c", "a", "b"))
    // null ordering keys are ignored (reference contract)
    val viaSql = spark.sql(
      "SELECT min_by_n(x, y, 2) FROM VALUES ('a', 2), ('b', CAST(NULL AS INT)), ('c', 1) AS t(x, y)")
      .head().getSeq[String](0)
    assert(viaSql == Seq("c", "a"))
  }

  test("connectedComponents labels chains, cliques, and leaves singletons out") {
    val spk = spark
    import spk.implicits._
    // chain 1-2-3 (diameter 2, needs >1 propagation round), pair 10-11,
    // clique 20-21-22; vertex 99 exists only as... not at all (isolated)
    val edges = Seq((2L, 1L), (2L, 3L), (11L, 10L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("src", "dst")
    val out = Ops.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("connectedComponents converges on a long path within maxIter") {
    val spk = spark
    import spk.implicits._
    // path 0-1-2-...-9: min label must travel 9 hops
    val edges = (0L until 9L).map(i => (i, i + 1)).toDF("src", "dst")
    val out = Ops.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size == 10 && out.values.forall(_ == 0L))
    // empty edge list → empty labeling, no NPE on the sum action
    val empty = Ops.connectedComponents(
      Seq.empty[(Long, Long)].toDF("src", "dst"))
    assert(empty.count() == 0L)
  }

  // ------------------------------------ DynamicFrames.rowsFrameAgg
  // The spillable per-row-offset ROWS framer (reference
  // operator/window/RowsFraming.java semantics: per-row non-negative
  // offsets, frames clamp at partition edges).

  private def dynFixture() = {
    val spk = spark
    import spk.implicits._
    // (g, ord, lo, hi, v): per-row frames over ord within g
    Seq((1, 1, 0L, 1L, 10L), (1, 2, 1L, 0L, 20L), (1, 3, 2L, 2L, 30L),
      (1, 4, 0L, 0L, 40L), (2, 1, 5L, 5L, 7L), (2, 2, 0L, 0L, 9L))
      .toDF("g", "ord", "lo", "hi", "v")
  }

  private def dynRun(fn: String, spillAfter: Int = 1000): Map[(Int, Int), Any] = {
    graft.operators.DynamicFrames
      .rowsFrameAgg(dynFixture(), Seq("g"), Seq("ord"), "lo", "hi", "v", fn,
        "a", spillAfterRows = spillAfter)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.get(5)).toMap
  }

  test("dynamic ROWS frames: per-row offsets clamp at partition edges") {
    // g=1 frames: ord1 [1..2], ord2 [1..2], ord3 [1..4] (clamped both
    // ways), ord4 [4..4]; g=2: ord1 [1..2] (clamped), ord2 [2..2]
    assert(dynRun("sum") == Map(
      (1, 1) -> 30L, (1, 2) -> 30L, (1, 3) -> 100L, (1, 4) -> 40L,
      (2, 1) -> 16L, (2, 2) -> 9L))
    assert(dynRun("count") == Map(
      (1, 1) -> 2L, (1, 2) -> 2L, (1, 3) -> 4L, (1, 4) -> 1L,
      (2, 1) -> 2L, (2, 2) -> 1L))
    assert(dynRun("min") == Map(
      (1, 1) -> 10L, (1, 2) -> 10L, (1, 3) -> 10L, (1, 4) -> 40L,
      (2, 1) -> 7L, (2, 2) -> 9L))
    assert(dynRun("max") == Map(
      (1, 1) -> 20L, (1, 2) -> 20L, (1, 3) -> 40L, (1, 4) -> 40L,
      (2, 1) -> 9L, (2, 2) -> 9L))
    assert(dynRun("avg") == Map(
      (1, 1) -> 15.0, (1, 2) -> 15.0, (1, 3) -> 25.0, (1, 4) -> 40.0,
      (2, 1) -> 8.0, (2, 2) -> 9.0))
  }

  test("dynamic ROWS frames: spilled buffer gives identical results") {
    val before = graft.operators.MatchRecognize.SpillCount.get()
    val spilled = dynRun("sum", spillAfter = 2) // 4-row group must spill
    assert(spilled == dynRun("sum"))
    assert(graft.operators.MatchRecognize.SpillCount.get() > before,
      "spill threshold was not exercised")
  }

  test("dynamic ROWS frames: negative / null offsets raise the standard error") {
    val spk = spark
    import spk.implicits._
    val neg = Seq((1, 1, -1L, 0L, 10L)).toDF("g", "ord", "lo", "hi", "v")
    val e1 = intercept[Exception] {
      graft.operators.DynamicFrames
        .rowsFrameAgg(neg, Seq("g"), Seq("ord"), "lo", "hi", "v", "sum")
        .collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e1).exists(_.contains(
      "Window frame offset value must not be negative or null")))
    val nul = Seq((1, 1, Option.empty[Long], Some(0L), 10L))
      .toDF("g", "ord", "lo", "hi", "v")
    val e2 = intercept[Exception] {
      graft.operators.DynamicFrames
        .rowsFrameAgg(nul, Seq("g"), Seq("ord"), "lo", "hi", "v", "sum")
        .collect()
    }
    assert(msgs(e2).exists(_.contains(
      "Window frame offset value must not be negative or null")))
  }

  test("dynamic ROWS frames: null values skipped; all-null frame is NULL (count 0)") {
    val spk = spark
    import spk.implicits._
    val df = Seq((1, 1, 0L, 0L, Option.empty[Long]),
      (1, 2, 1L, 0L, Some(4L))).toDF("g", "ord", "lo", "hi", "v")
    val got = graft.operators.DynamicFrames
      .rowsFrameAgg(df, Seq("g"), Seq("ord"), "lo", "hi", "v", "sum", "a")
      .collect().map(r => r.getInt(1) -> r.get(5)).toMap
    assert(got == Map(1 -> null, 2 -> 4L))
    val cnt = graft.operators.DynamicFrames
      .rowsFrameAgg(df, Seq("g"), Seq("ord"), "lo", "hi", "v", "count", "a")
      .collect().map(r => r.getInt(1) -> r.get(5)).toMap
    assert(cnt == Map(1 -> 0L, 2 -> 1L))
  }

  test("dynamic ROWS frames: NaN partition keys form one group") {
    val spk = spark
    import spk.implicits._
    // Spark's window PARTITION BY puts every NaN key in one partition;
    // the frames here span the whole 3-row NaN group
    val df = Seq((Double.NaN, 1, 1L, 1L, 10L), (Double.NaN, 2, 1L, 1L, 20L),
      (Double.NaN, 3, 1L, 1L, 30L), (2.0, 1, 1L, 1L, 5L))
      .toDF("g", "ord", "lo", "hi", "v")
    val got = graft.operators.DynamicFrames
      .rowsFrameAgg(df, Seq("g"), Seq("ord"), "lo", "hi", "v", "sum", "a")
      .collect().map(r => (r.getDouble(0).isNaN, r.getInt(1)) -> r.get(5)).toMap
    assert(got == Map((true, 1) -> 30L, (true, 2) -> 60L, (true, 3) -> 50L,
      (false, 1) -> 5L))
  }

  // ---------------------------- DynamicFrames GROUPS / RANGE modes
  // (reference operator/window/GroupsFraming.java / RangeFraming.java
  // semantics over the same spillable buffer)

  test("dynamic GROUPS frames: frames count peer groups, clamp at edges") {
    val spk = spark
    import spk.implicits._
    // g=1, group key gk has ties: groups (gk=1: ord 1,2), (gk=2: ord 3),
    // (gk=3: ord 4,5); per-row lo/hi in GROUPS
    val df = Seq(
      (1, 1, 1, 0L, 1L, 10L), (1, 2, 1, 1L, 0L, 20L),
      (1, 3, 2, 1L, 1L, 30L), (1, 4, 3, 0L, 0L, 40L),
      (1, 5, 3, 9L, 9L, 50L))
      .toDF("g", "ord", "gk", "lo", "hi", "v")
    val got = graft.operators.DynamicFrames
      .groupsFrameAgg(df, Seq("g"), Seq("gk"), "lo", "hi", "v", "sum", "a")
      .collect().map(r => r.getInt(1) -> r.get(6)).toMap
    // ord1: groups [0..1] → rows 1..3 → 60; ord2: groups [0..0] → 30;
    // ord3: groups [0..2] → all → 150; ord4: group [2..2] → 90;
    // ord5: clamp to all → 150
    assert(got == Map(1 -> 60L, 2 -> 30L, 3 -> 150L, 4 -> 90L, 5 -> 150L))
  }

  test("dynamic RANGE frames: per-row numeric bands via binary search; null keys frame their peer block") {
    val spk = spark
    import spk.implicits._
    // keys 1.0, 2.0, 5.0, NULL, NULL in one partition (nulls sort first)
    val df = Seq(
      (1, Some(1.0), 1L, 1L, 10L), (1, Some(2.0), 0L, 2L, 20L),
      (1, Some(5.0), 1L, 0L, 50L), (1, Option.empty[Double], 0L, 0L, 7L),
      (1, Option.empty[Double], 3L, 3L, 9L))
      .toDF("g", "k", "lo", "hi", "v")
    val got = graft.operators.DynamicFrames
      .rangeFrameAgg(df, Seq("g"), "k", "lo", "hi", "v", "sum", "a")
      .collect().map(r => (Option(r.get(1)), r.getLong(4)) -> r.get(5)).toMap
    // k=1 band [0,2] → 10+20=30; k=2 band [2,4] → 20; k=5 band [4,5] →
    // 50; null rows frame the null block → 7+9=16
    assert(got == Map(
      (Some(1.0), 10L) -> 30L, (Some(2.0), 20L) -> 20L,
      (Some(5.0), 50L) -> 50L, (None, 7L) -> 16L, (None, 9L) -> 16L))
  }

  test("dynamic RANGE frames: integral keys compare in long space — exact past 2^53") {
    val spk = spark
    import spk.implicits._
    // keys straddling 2^53: in double space 2^53 and 2^53+1 collapse to
    // the same value, so a [k, k] band around 2^53 would wrongly absorb
    // the 2^53+1 row; long-space comparison keeps them distinct
    val p53 = 1L << 53
    val df = Seq(
      (1, p53 - 1, 0L, 0L, 1L),
      (1, p53, 0L, 0L, 10L),
      (1, p53 + 1, 0L, 0L, 100L),
      (1, p53 + 1, 0L, 1L, 1000L))
      .toDF("g", "k", "lo", "hi", "v")
    val got = graft.operators.DynamicFrames
      .rangeFrameAgg(df, Seq("g"), "k", "lo", "hi", "v", "sum", "a")
      .collect().map(r => r.getLong(4) -> r.get(5)).toMap
    // [k, k] bands: k=2^53-1 → 1; k=2^53 → 10 (NOT 10+101 — the
    // double path merges the peers); k=2^53+1 rows tie → 1100 both,
    // the hi=1 row adds nothing above (2^53+2 absent)
    assert(got == Map(1L -> 1L, 10L -> 10L, 100L -> 1100L, 1000L -> 1100L))
    // saturation at the BIGINT edges: bounds clamp instead of wrapping.
    // k=Max-1 with hi=Max overflows up → clamps to Max (frame [-1, Max]
    // holds only itself: Min+1 < -1); k=Min+1 with lo=Max underflows
    // down → clamps to Min (frame [Min, 0] holds only itself). A
    // WRAPPING implementation would produce inverted empty frames and
    // NULL sums here.
    val edge = Seq((1, Long.MaxValue - 1, Long.MaxValue, Long.MaxValue, 5L),
      (1, Long.MinValue + 1, Long.MaxValue, Long.MaxValue, 7L))
      .toDF("g", "k", "lo", "hi", "v")
    val eg = graft.operators.DynamicFrames
      .rangeFrameAgg(edge, Seq("g"), "k", "lo", "hi", "v", "sum", "a")
      .collect().map(r => r.getLong(4) -> r.get(5)).toMap
    assert(eg == Map(5L -> 5L, 7L -> 7L))
  }

  test("dynamic GROUPS/RANGE frames: spilled buffers give identical results") {
    val spk = spark
    import spk.implicits._
    val df = (1 to 40).map(i =>
      (i % 2, i, i / 4, (i % 3).toLong, (i % 2).toLong, i.toLong))
      .toDF("g", "ord", "gk", "lo", "hi", "v")
    def run(spill: Int) = graft.operators.DynamicFrames
      .groupsFrameAgg(df, Seq("g"), Seq("gk"), "lo", "hi", "v", "sum", "a",
        spillAfterRows = spill)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.get(6)).toMap
    val before = graft.operators.MatchRecognize.SpillCount.get()
    assert(run(3) == run(100000))
    assert(graft.operators.MatchRecognize.SpillCount.get() > before)
    val dfr = (1 to 40).map(i =>
      (i % 2, (i % 7).toDouble, (i % 3).toDouble, (i % 2).toDouble, i.toLong))
      .toDF("g", "k", "lo", "hi", "v")
    def runR(spill: Int) = graft.operators.DynamicFrames
      .rangeFrameAgg(dfr, Seq("g"), "k", "lo", "hi", "v", "sum", "a",
        spillAfterRows = spill)
      .collect().map(r => (r.getInt(0), r.getLong(4)) -> r.get(5)).toMap
    assert(runR(3) == runR(100000))
  }
}

package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, floor}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.MatchRecognize
import graft.operators.MatchRecognize.{MatchCtx, SkipMode, SqlMeasure}

/** Seq fixture row for pattern tests. */
case class Tick(k: Long, ord: Long, v: Double)

/** A ONE ROW PER MATCH result: `classifier` concatenates the matched
  * labels, `var_counts` is COUNT(V.*) per variable as "V:n". */
case class MrMatch(part_key: Long, match_no: Long, start_ord: Long,
    end_ord: Long, classifier: String, n_rows: Long, var_counts: String)

/** ONE ROW PER MATCH FINAL measures over `v`. */
case class MrMeasures(start_ord: Long, end_ord: Long, n_rows: Long,
    first_val: Double, last_val: Double, min_val: Double, max_val: Double)

/** ALL ROWS PER MATCH row with RUNNING and FINAL measures. */
case class MrDetail(ord: Long, match_no: Long, classifier: String,
    running_cnt: Long, final_cnt: Long, running_max: Double, final_last: Double)

/** Per-(match, variable) navigation measures: FIRST/LAST(V.v) and
  * FIRST/LAST(V.v, 1) (None past the variable's rows). */
case class MrVarRow(match_no: Long, start_ord: Long, end_ord: Long,
    var_name: String, var_rows: Long, first_val: Double, last_val: Double,
    first_off: Option[Double], last_off: Option[Double])

/** Per-(match, variable) FINAL aggregates; var_name "*" is the whole
  * match. */
case class MrAggRow(var_name: String, var_rows: Long, sum_val: Double,
    avg_val: Double, min_val: Double, max_val: Double, start_ord: Long,
    end_ord: Long)

/** ALL ROWS PER MATCH WITH UNMATCHED ROWS row (nulls outside matches). */
case class MrDetailOrNull(ord: Long, match_no: Option[Long],
    classifier: Option[String], running_cnt: Option[Long],
    final_cnt: Option[Long], running_max: Option[Double],
    final_last: Option[Double])

/** Unit semantics for the MATCH_RECOGNIZE operator: quantifier
  * greediness, alternation preference, bounded repeats, skip modes,
  * and PREV()-style predicates — mirroring the cases the reference
  * covers in its matcher tests (`operator/window/matcher/`). */
class MatchRecognizeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = graft.engine.Graft.session("graft-mr-test", 4)
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def ticks(values: Seq[Double]): DataFrame = {
    val spk = spark
    import spk.implicits._
    values.zipWithIndex.map { case (v, i) => Tick(1L, i.toLong, v) }.toDF()
  }

  /** [[MatchRecognize.sqlRows]] over a Tick frame: PARTITION BY k
    * ORDER BY ord. */
  private def run(df: DataFrame, pattern: String,
      define: Map[String, MatchCtx => Boolean],
      measures: Seq[(SqlMeasure, String)],
      allRows: Boolean = false,
      skip: SkipMode = SkipMode.PastLastRow,
      subsets: Map[String, Set[String]] = Map.empty,
      showEmpty: Boolean = false,
      withUnmatched: Boolean = false): DataFrame =
    MatchRecognize.sqlRows(df, Seq("k"), Seq("ord"), pattern, define, measures,
      allRows, skip, subsets, showEmpty, withUnmatched)

  private def oneRow(df: DataFrame, pattern: String,
      define: Map[String, MatchCtx => Boolean],
      skip: SkipMode = SkipMode.PastLastRow): Seq[MrMatch] =
    run(df, pattern, define, Seq(
      SqlMeasure.MatchNum -> "match_no",
      SqlMeasure.Agg("first", "ord") -> "start_ord",
      SqlMeasure.Agg("last", "ord") -> "end_ord",
      SqlMeasure.CountStar -> "n_rows",
      SqlMeasure.ClassifierArray(isFinal = true) -> "labels"), skip = skip)
      .collect().toSeq.map { r =>
        val labels = r.getSeq[String](5)
        val counts = labels.groupBy(identity).toSeq.sortBy(_._1)
          .map { case (v, cs) => s"$v:${cs.length}" }.mkString(",")
        MrMatch(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          labels.mkString, r.getLong(4), counts)
      }

  private def measuresOf(df: DataFrame, pattern: String,
      define: Map[String, MatchCtx => Boolean],
      skip: SkipMode = SkipMode.PastLastRow,
      subsets: Map[String, Set[String]] = Map.empty): Seq[MrMeasures] = {
    val spk = spark
    import spk.implicits._
    run(df, pattern, define, Seq(
      SqlMeasure.Agg("first", "ord") -> "start_ord",
      SqlMeasure.Agg("last", "ord") -> "end_ord",
      SqlMeasure.CountStar -> "n_rows",
      SqlMeasure.Agg("first", "v") -> "first_val",
      SqlMeasure.Agg("last", "v") -> "last_val",
      SqlMeasure.Agg("min", "v") -> "min_val",
      SqlMeasure.Agg("max", "v") -> "max_val"), skip = skip, subsets = subsets)
      .drop("k").as[MrMeasures].collect().toSeq
  }

  /** ALL ROWS PER MATCH: RUNNING COUNT(*)/MAX(v) beside FINAL
    * COUNT(*)/LAST(v). */
  private def allRowsOf(df: DataFrame, pattern: String,
      define: Map[String, MatchCtx => Boolean],
      withUnmatched: Boolean = false): DataFrame =
    run(df, pattern, define, Seq(
      SqlMeasure.MatchNum -> "match_no",
      SqlMeasure.Classifier -> "classifier",
      SqlMeasure.CountStar -> "running_cnt",
      SqlMeasure.FinalCount -> "final_cnt",
      SqlMeasure.Agg("max", "v") -> "running_max",
      SqlMeasure.FinalAgg("last", "v") -> "final_last"),
      allRows = true, withUnmatched = withUnmatched).drop("k", "v")

  private def details(df: DataFrame, pattern: String,
      define: Map[String, (Row, Row) => Boolean]): Seq[MrDetail] = {
    val spk = spark
    import spk.implicits._
    allRowsOf(df, pattern, MatchRecognize.wrapSimple(define))
      .as[MrDetail].collect().toSeq.sortBy(_.ord)
  }

  /** ALL ROWS PER MATCH SHOW EMPTY MATCHES reduced to one row per match
    * (its first row, or the empty match's anchor row): (match_no,
    * anchor_ord, n_rows, concatenated classifier). */
  private def shownMatches(df: DataFrame, pattern: String,
      define: Map[String, (Row, Row) => Boolean]): Seq[(Long, Long, Long, Option[String])] =
    run(df, pattern, MatchRecognize.wrapSimple(define), Seq(
      SqlMeasure.MatchNum -> "match_no",
      SqlMeasure.CountStar -> "pos",
      SqlMeasure.FinalCount -> "n_rows",
      SqlMeasure.ClassifierArray(isFinal = true) -> "labels"),
      allRows = true, showEmpty = true)
      .filter(col("pos") <= 1)
      .collect().toSeq.map { r =>
        (r.getAs[Long]("match_no"), r.getAs[Long]("ord"), r.getAs[Long]("n_rows"),
          Option(r.getAs[collection.Seq[String]]("labels")).map(_.mkString))
      }.sortBy(_._1)

  /** Per-variable and whole-match FINAL count/sum/avg/min/max of v.
    * Sums are exact: they add a scaled-long `v_c` = round(v · 100)
    * column and divide once. */
  private def aggRows(df: DataFrame, pattern: String,
      define: Map[String, (Row, Row) => Boolean], vars: Seq[String]): Seq[MrAggRow] = {
    val all = vars.map(v => (v, Some(v))) :+ ("*" -> None)
    run(df.withColumn("v_c", floor(col("v") * 100.0 + 0.5)), pattern,
      MatchRecognize.wrapSimple(define),
      Seq(SqlMeasure.Agg("first", "ord") -> "start_ord",
        SqlMeasure.Agg("last", "ord") -> "end_ord") ++
        all.zipWithIndex.flatMap { case ((_, q), i) => Seq(
          q.fold[SqlMeasure](SqlMeasure.CountStar)(SqlMeasure.VarCount(_, isFinal = false)) -> s"n$i",
          SqlMeasure.Agg("sum", "v_c", q) -> s"s$i",
          SqlMeasure.Agg("min", "v", q) -> s"mn$i",
          SqlMeasure.Agg("max", "v", q) -> s"mx$i") })
      .collect().toSeq.flatMap { r =>
        all.indices.filter(i => r.getAs[Long](s"n$i") > 0).map { i =>
          val n = r.getAs[Long](s"n$i")
          val sum = r.getAs[Long](s"s$i") / 100.0
          MrAggRow(all(i)._1, n, sum, sum / n, r.getAs[Double](s"mn$i"),
            r.getAs[Double](s"mx$i"), r.getAs[Long]("start_ord"), r.getAs[Long]("end_ord"))
        }
      }
  }

  private def runPat(
      values: Seq[Double],
      pattern: String,
      skipPastLast: Boolean = true): Seq[MrMatch] = {
    val df = ticks(values)
    val down: (Row, Row) => Boolean =
      (p, c) => p != null && c.getAs[Double]("v") < p.getAs[Double]("v")
    val up: (Row, Row) => Boolean =
      (p, c) => p != null && c.getAs[Double]("v") > p.getAs[Double]("v")
    val high: (Row, Row) => Boolean = (_, c) => c.getAs[Double]("v") >= 10
    oneRow(df, pattern,
      MatchRecognize.wrapSimple(Map("D" -> down, "U" -> up, "H" -> high)),
      if (skipPastLast) SkipMode.PastLastRow else SkipMode.ToNextRow)
      .sortBy(_.start_ord)
  }

  test("per-key buffer cap fails loudly with a remedy, not an OOM") {
    val saved = MatchRecognize.MaxRowsPerKey
    try {
      MatchRecognize.MaxRowsPerKey = 4
      val e = intercept[org.apache.spark.SparkException] {
        runPat(Seq[Double](5, 4, 3, 6, 7, 2, 8), "D+ U+")
      }
      val msg = e.getCause match {
        case c: IllegalStateException => c.getMessage
        case _ => e.getMessage
      }
      assert(msg.contains("exceeds 4 buffered rows"))
      assert(msg.contains("sub-partition"))
    } finally MatchRecognize.MaxRowsPerKey = saved
    // and with the cap restored the same input matches normally
    assert(runPat(Seq[Double](5, 4, 3, 6, 7, 2, 8), "D+ U+").nonEmpty)
  }

  test("SpillableRowBuffer pages to disk and reads back exactly") {
    import graft.operators.SpillableRowBuffer
    val buf = new SpillableRowBuffer(memCap = 8, pageSize = 4)
    val rows = (0 until 100).map(i => Row(i.toLong, s"s$i", i * 0.5))
    rows.foreach(buf.append)
    assert(buf.spilled && buf.length == 100)
    // random access across mem / flushed pages / unflushed tail
    for (i <- Seq(0, 7, 8, 9, 12, 47, 48, 95, 99))
      assert(buf(i) == rows(i), s"at $i")
    // non-sequential page hopping exercises the two-page cache
    for (i <- Seq(99, 8, 60, 9, 99, 20, 8))
      assert(buf(i) == rows(i), s"hop at $i")
    assert(buf.toSeq == rows)
    buf.dispose()
  }

  test("spilled per-key buffer matches identically to the on-heap path") {
    // A long sawtooth: many D+ U+ matches across one key. Force the
    // buffer to spill after 16 on-heap rows (several disk pages at
    // pageSize 16384? no — page size stays default, so the spilled
    // tail lives in pageBuf + flushed pages; shrink further below).
    val vals = (0 until 2000).map(i => ((i % 5) match {
      case 0 => 10.0; case 1 => 8.0; case 2 => 6.0; case 3 => 7.0; case 4 => 9.0
    }) + (i / 5) * 0.0001)
    val expected = runPat(vals, "D D U U")
    val savedSpill = MatchRecognize.SpillAfterRows
    val spillsBefore = MatchRecognize.SpillCount.get()
    try {
      MatchRecognize.SpillAfterRows = 16
      val spilledRun = runPat(vals, "D D U U")
      assert(spilledRun == expected && expected.nonEmpty)
    } finally MatchRecognize.SpillAfterRows = savedSpill
    // the disk path genuinely engaged (flushed at least one page file)
    assert(MatchRecognize.SpillCount.get() > spillsBefore,
      "expected the spill path to engage at SpillAfterRows=16")
  }

  test("pattern parser rejects malformed input") {
    intercept[IllegalArgumentException](MatchRecognize.parse("D+("))
    intercept[IllegalArgumentException](MatchRecognize.parse("(DU"))
    // unterminated quantifiers must fail fast, not scan unboundedly
    intercept[IllegalArgumentException](MatchRecognize.parse("A{3"))
    intercept[IllegalArgumentException](MatchRecognize.parse("A{3,"))
    intercept[NumberFormatException](MatchRecognize.parse("A{"))
    MatchRecognize.parse("(D|U)+ H{2,3}") // parses
  }

  test("greedy D+U+ consumes maximal runs") {
    // 5 4 3 6 7 2 8 → DD UU D U  → two V-shapes
    val ms = runPat(Seq[Double](5, 4, 3, 6, 7, 2, 8), "D+ U+")
    assert(ms.map(_.classifier) == Seq("DDUU", "DU"))
    assert(ms.map(m => (m.start_ord, m.end_ord)) == Seq((1L, 4L), (5L, 6L)))
    // per-variable COUNT measures
    assert(ms.map(_.var_counts) == Seq("D:2,U:2", "D:1,U:1"))
  }

  test("no match when only falling") {
    assert(runPat(Seq[Double](5, 4, 3, 2), "D+ U+").isEmpty)
  }

  test("bounded repeat {2,3} is greedy within bounds") {
    // H rows: values >= 10
    val ms = runPat(Seq[Double](11, 12, 13, 14, 1), "H{2,3}")
    assert(ms.map(_.classifier) == Seq("HHH"))
    assert(ms.head.start_ord == 0 && ms.head.end_ord == 2)
  }

  test("exact repeat {2} with skip-past-last tiles the run") {
    val ms = runPat(Seq[Double](11, 12, 13, 14, 1), "H{2}")
    assert(ms.map(m => (m.start_ord, m.end_ord)) == Seq((0L, 1L), (2L, 3L)))
  }

  test("alternation prefers the left branch") {
    // both H and U match at index 1 (12 > 11 and 12 >= 10)
    val ms = runPat(Seq[Double](11, 12), "H|U")
    assert(ms.head.classifier == "H" && ms.head.start_ord == 0)
  }

  test("optional and star quantifiers") {
    val ms = runPat(Seq[Double](5, 4, 6), "D? U", skipPastLast = true)
    assert(ms.map(_.classifier) == Seq("DU"))
    val ms2 = runPat(Seq[Double](3, 7), "D* U")
    assert(ms2.map(_.classifier) == Seq("U"))
  }

  test("skip to next row yields overlapping matches") {
    val past = runPat(Seq[Double](11, 12, 13), "H H", skipPastLast = true)
    val next = runPat(Seq[Double](11, 12, 13), "H H", skipPastLast = false)
    assert(past.size == 1 && next.size == 2)
  }

  test("measures: FINAL first/last/min/max over the matched rows") {
    val spk = spark
    import spk.implicits._
    // 5 3 4 7 6 → U-run is rows 2,3 (4,7); row 0-1 fall, row 4 falls
    val df = Seq[Double](5, 3, 4, 7, 6).zipWithIndex
      .map { case (v, i) => Tick(1L, i.toLong, v) }.toDF()
    val up: (Row, Row) => Boolean =
      (p, c) => p != null && c.getAs[Double]("v") > p.getAs[Double]("v")
    val ms = measuresOf(df, "U{2,}", MatchRecognize.wrapSimple(Map("U" -> up)))
    assert(ms.size == 1)
    val m = ms.head
    assert(m.start_ord == 2 && m.end_ord == 3 && m.n_rows == 2)
    assert(m.first_val == 4.0 && m.last_val == 7.0)
    assert(m.min_val == 4.0 && m.max_val == 7.0)
  }

  test("allRows: RUNNING measures grow per row, FINAL stays constant") {
    val spk = spark
    import spk.implicits._
    // rising run 1 5 3 9 is not monotone; use 1 5 7 6: U-run rows 1,2
    val df = Seq[Double](1, 5, 7, 6).zipWithIndex
      .map { case (v, i) => Tick(1L, i.toLong, v) }.toDF()
    val up: (Row, Row) => Boolean =
      (p, c) => p != null && c.getAs[Double]("v") > p.getAs[Double]("v")
    val rows = details(df, "U{2,}", Map("U" -> up))
    assert(rows.map(_.ord) == Seq(1L, 2L))
    assert(rows.map(_.running_cnt) == Seq(1L, 2L)) // RUNNING COUNT(*)
    assert(rows.map(_.final_cnt) == Seq(2L, 2L)) // FINAL COUNT(*)
    assert(rows.map(_.running_max) == Seq(5.0, 7.0)) // RUNNING MAX(v)
    assert(rows.map(_.final_last) == Seq(7.0, 7.0)) // FINAL LAST(v)
    assert(rows.forall(_.classifier == "U"))
  }

  test("pattern exclusion {- -}: rows match but are omitted from ALL ROWS output") {
    val spk = spark
    import spk.implicits._
    // D-run 5 4 3, then U-run 6 7: pattern D {- D+ -} U+ maps row 0 to
    // the visible D, rows 1-2 to the excluded D+, rows 3-4 to U+
    val df = Seq[Double](5, 4, 3, 6, 7).zipWithIndex
      .map { case (v, i) => Tick(1L, i.toLong, v) }.toDF()
    val down: (Row, Row) => Boolean =
      (p, c) => p == null || c.getAs[Double]("v") < p.getAs[Double]("v")
    val up: (Row, Row) => Boolean =
      (p, c) => p != null && c.getAs[Double]("v") > p.getAs[Double]("v")
    val defs = Map("D" -> down, "U" -> up)

    val all = details(df, "D {- D+ -} U+", defs)
    // excluded rows 1-2 vanish from the output...
    assert(all.map(_.ord) == Seq(0L, 3L, 4L))
    assert(all.map(_.classifier) == Seq("D", "U", "U"))
    // ...but still participate in RUNNING/FINAL measures: the count is
    // over all 5 matched rows, and row 3's RUNNING position is 4
    assert(all.map(_.final_cnt).distinct == Seq(5L))
    assert(all.map(_.running_cnt) == Seq(1L, 4L, 5L))

    // ONE ROW PER MATCH ignores exclusions entirely: full classifier,
    // full span, full count
    val one = oneRow(df, "D {- D+ -} U+", MatchRecognize.wrapSimple(defs))
    assert(one.map(_.classifier) == Seq("DDDUU"))
    assert(one.map(_.n_rows) == Seq(5L))

    // exclusion-free equivalent matches the same span (exclusion never
    // changes WHAT matches, only what ALL ROWS emits)
    val plain = oneRow(df, "D D+ U+", MatchRecognize.wrapSimple(defs))
    assert(plain.map(_.start_ord) == one.map(_.start_ord))
    assert(plain.map(_.end_ord) == one.map(_.end_ord))
  }

  test("pattern exclusion: DEFINE navigation sees excluded rows; {m,n} still parses") {
    val spk = spark
    import spk.implicits._
    val df = Seq[Double](1, 2, 3, 4).zipWithIndex
      .map { case (v, i) => Tick(1L, i.toLong, v) }.toDF()
    val up: (Row, Row) => Boolean =
      (p, c) => p == null || c.getAs[Double]("v") > p.getAs[Double]("v")
    // U{2} quantifier and an exclusion in one pattern: brace
    // disambiguation ('{' + '-' = exclusion, else quantifier)
    val all = details(df, "{- U{2} -} U+", Map("U" -> up))
    assert(all.map(_.ord) == Seq(2L, 3L))
    assert(all.map(_.final_cnt).distinct == Seq(4L))
    // running max at first visible row includes the excluded prefix
    assert(all.map(_.running_max) == Seq(3.0, 4.0))
  }

  test("PERMUTE matches variables in any order, preferring the listed one") {
    // 11 then 5: H fits row 0, D fits row 1 -> only the HD ordering works
    val ms = runPat(Seq[Double](11, 5), "PERMUTE(D, H)")
    assert(ms.map(_.classifier) == Seq("HD"))
    // both orderings feasible -> lexicographic preference takes the listed order
    val ms2 = runPat(Seq[Double](11, 12), "PERMUTE(H, U)")
    assert(ms2.head.classifier == "HU")
    // quantified PERMUTE group parses
    MatchRecognize.parse("PERMUTE(A, B)+ C")
    intercept[IllegalArgumentException](MatchRecognize.parse("PERMUTE(A, B, C, D, E, F)"))
    intercept[IllegalArgumentException](MatchRecognize.parse("PERMUTE()"))
  }

  test("AFTER MATCH SKIP modes: past-last vs to-next vs to-last(var)") {
    val spk = spark
    import spk.implicits._
    // 5 high rows; pattern H{3}
    val df = Seq[Double](11, 12, 13, 14, 15).zipWithIndex
      .map { case (v, i) => Tick(1L, i.toLong, v) }.toDF()
    val high: (Row, Row) => Boolean = (_, c) => c.getAs[Double]("v") >= 10
    def count(skip: SkipMode): Int =
      oneRow(df, "H{3}", MatchRecognize.wrapSimple(Map("H" -> high)), skip).length
    assert(count(SkipMode.PastLastRow) == 1) // (0-2); rows 3-4 too short
    assert(count(SkipMode.ToNextRow) == 3) // starts 0, 1, 2
    assert(count(SkipMode.ToLast("H")) == 2) // (0-2) then resume AT row 2: (2-4)
    // skipping to the first row of the match would loop forever -> error
    val e = intercept[org.apache.spark.SparkException] {
      oneRow(df, "H{3}", MatchRecognize.wrapSimple(Map("H" -> high)),
        SkipMode.ToFirst("H"))
    }
    assert(e.getMessage.contains("SKIP TO FIRST") ||
      e.getCause.getMessage.contains("SKIP TO FIRST"))
  }

  test("multi-character variables: whitespace separates, adjacency names one var") {
    val spk = spark
    import spk.implicits._
    val df = Seq[Double](5, 4, 3, 6, 7).zipWithIndex
      .map { case (v, i) => Tick(1L, i.toLong, v) }.toDF()
    val down: (Row, Row) => Boolean =
      (p, c) => p != null && c.getAs[Double]("v") < p.getAs[Double]("v")
    val up: (Row, Row) => Boolean =
      (p, c) => p != null && c.getAs[Double]("v") > p.getAs[Double]("v")
    val ms = oneRow(df, "DOWN+ UP+",
      MatchRecognize.wrapSimple(Map("DOWN" -> down, "UP" -> up)))
    assert(ms.size == 1)
    assert(ms.head.var_counts == "DOWN:2,UP:2")
    // "DOWNUP" (no whitespace) is ONE variable named DOWNUP — undefined
    // here, and an undefined variable is TRUE for every row (SQL:2016;
    // reference TestRowPatternMatching.java:68 "A defaults to True"),
    // so every row is its own one-variable match.
    val all = oneRow(df, "DOWNUP",
      MatchRecognize.wrapSimple(Map("DOWN" -> down, "UP" -> up)))
    assert(all.size == 5 && all.forall(_.var_counts == "DOWNUP:1"))
    // quantifiers and grouping compose with identifiers
    MatchRecognize.parse("(DOWN | UP){2,3} FLAT_ROW?")
  }

  test("varMeasures: FIRST/LAST(V.value, n) with out-of-range null") {
    val spk = spark
    import spk.implicits._
    // 9 7 4 6 8 2 5 → DOWN rows 1,2 (7,4), UP rows 3,4 (6,8); then DOWN row 5 (2), UP row 6 (5)
    val df = Seq[Double](9, 7, 4, 6, 8, 2, 5).zipWithIndex
      .map { case (v, i) => Tick(1L, i.toLong, v) }.toDF()
    val down: (Row, Row) => Boolean =
      (p, c) => p != null && c.getAs[Double]("v") < p.getAs[Double]("v")
    val up: (Row, Row) => Boolean =
      (p, c) => p != null && c.getAs[Double]("v") > p.getAs[Double]("v")
    // ONE ROW PER MATCH measures per variable, unpivoted: the
    // variable's row count, FIRST/LAST(V.v) and FIRST/LAST(V.v, 1)
    val vars = Seq("DOWN", "UP")
    val rows = run(df, "DOWN+ UP+",
      MatchRecognize.wrapSimple(Map("DOWN" -> down, "UP" -> up)),
      Seq(SqlMeasure.MatchNum -> "match_no",
        SqlMeasure.Agg("first", "ord") -> "start_ord",
        SqlMeasure.Agg("last", "ord") -> "end_ord") ++
        vars.flatMap(v => Seq(
          SqlMeasure.VarCount(v, isFinal = false) -> s"${v}_rows",
          SqlMeasure.Agg("first", "v", Some(v)) -> s"${v}_first",
          SqlMeasure.Agg("last", "v", Some(v)) -> s"${v}_last",
          SqlMeasure.Agg("first", "v", Some(v), 1) -> s"${v}_first_off",
          SqlMeasure.Agg("last", "v", Some(v), 1) -> s"${v}_last_off")))
      .collect().toSeq.flatMap { r =>
        vars.filter(v => r.getAs[Long](s"${v}_rows") > 0).map(v => MrVarRow(
          r.getAs[Long]("match_no"), r.getAs[Long]("start_ord"),
          r.getAs[Long]("end_ord"), v, r.getAs[Long](s"${v}_rows"),
          r.getAs[Double](s"${v}_first"), r.getAs[Double](s"${v}_last"),
          Option(r.getAs[java.lang.Double](s"${v}_first_off")).map(_.doubleValue),
          Option(r.getAs[java.lang.Double](s"${v}_last_off")).map(_.doubleValue)))
      }.sortBy(r => (r.match_no, r.var_name))
    assert(rows.map(r => (r.match_no, r.var_name, r.var_rows)) ==
      Seq((1L, "DOWN", 2L), (1L, "UP", 2L), (2L, "DOWN", 1L), (2L, "UP", 1L)))
    val m1d = rows(0)
    assert(m1d.first_val == 7.0 && m1d.last_val == 4.0)
    assert(m1d.first_off.contains(4.0) && m1d.last_off.contains(7.0)) // offset 1
    val m1u = rows(1)
    assert(m1u.first_val == 6.0 && m1u.last_val == 8.0)
    assert(m1u.first_off.contains(8.0) && m1u.last_off.contains(6.0))
    // single-row variables: offset 1 is out of range → null
    assert(rows(2).first_off.isEmpty && rows(2).last_off.isEmpty)
    assert(rows(3).first_off.isEmpty && rows(3).last_off.isEmpty)
    // whole-match bounds are carried on every variable row
    assert(rows(0).start_ord == 1 && rows(0).end_ord == 4)
    assert(rows(2).start_ord == 5 && rows(2).end_ord == 6)
  }

  test("partitions are matched independently") {
    val spk = spark
    import spk.implicits._
    val df = Seq(
      Tick(1, 0, 5), Tick(1, 1, 4), Tick(1, 2, 6),
      Tick(2, 0, 9), Tick(2, 1, 8), Tick(2, 2, 10)).toDF()
    val down: (Row, Row) => Boolean =
      (p, c) => p != null && c.getAs[Double]("v") < p.getAs[Double]("v")
    val up: (Row, Row) => Boolean =
      (p, c) => p != null && c.getAs[Double]("v") > p.getAs[Double]("v")
    val ms = oneRow(df, "D U", MatchRecognize.wrapSimple(Map("D" -> down, "U" -> up)))
    assert(ms.map(_.part_key).sorted == Seq(1L, 2L))
  }

  test("NaN partition keys form one group, as PARTITION BY does") {
    val spk = spark
    import spk.implicits._
    // a rising series whose DOUBLE key is NaN on every row (boxed
    // NaN == NaN is false, which once split it into one-row groups),
    // beside a falling key-1.0 series that must stay its own group
    val df = Seq((Double.NaN, 0L, 1.0), (Double.NaN, 1L, 2.0),
      (Double.NaN, 2L, 3.0), (1.0, 0L, 9.0), (1.0, 1L, 8.0))
      .toDF("k", "ord", "v")
    val out = graft.sqlcompat.MatchRecognizeSql.translate(
      """SELECT * FROM t MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ord
        |  MEASURES COUNT(*) AS n_rows, FIRST(ord) AS start_ord
        |  ONE ROW PER MATCH
        |  PATTERN (U{2,})
        |  DEFINE U AS v > PREV(v))""".stripMargin, _ => df).collect()
    assert(out.map(r => (r.getDouble(0).isNaN, r.getLong(1), r.getLong(2))).toSeq ==
      Seq((true, 2L, 1L)))
  }

  test("an arithmetic measure reads declared primitives, not hidden copies") {
    val spk = spark
    import spk.implicits._
    val df = Seq((1L, 0L, 1.0), (1L, 1L, 2.5), (1L, 2L, 4.0), (1L, 3L, 0.5),
      (2L, 0L, 3.0), (2L, 1L, 7.0), (2L, 2L, 8.0)).toDF("k", "ord", "value")
    def withMeasures(measures: String): DataFrame =
      graft.sqlcompat.MatchRecognizeSql.translate(
        s"""SELECT * FROM t MATCH_RECOGNIZE (
           |  PARTITION BY k ORDER BY ord
           |  MEASURES $measures
           |  ONE ROW PER MATCH
           |  PATTERN (U{2,})
           |  DEFINE U AS value > PREV(value))""".stripMargin, _ => df)
    def rows(d: DataFrame) = d.orderBy("k").collect().map(_.toSeq).toSeq
    // hidden accumulator columns anywhere in the plan (the operator's
    // output), not only in the projected result
    def hidden(d: DataFrame) = d.queryExecution.analyzed
      .collect { case n => n.output.map(_.name) }.flatten.filter(_.startsWith("__m"))
    // the gain alone folds its primitives into hidden columns
    val gainDf = withMeasures("LAST(value) - FIRST(value) AS gain")
    assert(hidden(gainDf).distinct.size == 2)
    val gainOnly = rows(gainDf)
    val primsOnly = rows(withMeasures("FIRST(value) AS first_val, LAST(value) AS last_val"))
    assert(gainOnly == Seq(Seq(1L, 1.5), Seq(2L, 1.0)))
    for (measures <- Seq(
        "FIRST(value) AS first_val, LAST(value) AS last_val, " +
          "LAST(value) - FIRST(value) AS gain",
        "LAST(value) - FIRST(value) AS gain, " +
          "FIRST(value) AS first_val, LAST(value) AS last_val")) {
      val out = withMeasures(measures)
      assert(hidden(out).isEmpty, out.queryExecution.analyzed.toString)
      val declared = measures.split(" AS ").tail.map(_.takeWhile(_ != ','))
      assert(out.columns.toSeq == "k" +: declared.toSeq)
      assert(rows(out.select("k", "gain")) == gainOnly)
      assert(rows(out.select("k", "first_val", "last_val")) == primsOnly)
    }
  }

  test("reluctant +? stops at the FIRST viable continuation, greedy at the last") {
    val spk = spark
    import spk.implicits._
    val df = Seq[Double](5, 4, 6, 7).zipWithIndex
      .map { case (v, i) => Tick(1L, i.toLong, v) }.toDF()
    val any: (Row, Row) => Boolean = (_, _) => true
    val up: (Row, Row) => Boolean =
      (p, c) => p != null && c.getAs[Double]("v") > p.getAs[Double]("v")
    val defs = Map("A" -> any, "U" -> up)
    // greedy: A+ backtracks from the end → U is the LAST rise (ord 3)
    val g = oneRow(df, "A+ U", MatchRecognize.wrapSimple(defs))
    assert(g.map(m => (m.start_ord, m.end_ord, m.n_rows)) == Seq((0L, 3L, 4L)))
    // reluctant: A+? takes the FEWEST A rows → U is the FIRST rise (ord 2)
    val r = oneRow(df, "A+? U", MatchRecognize.wrapSimple(defs))
    assert(r.map(m => (m.start_ord, m.end_ord, m.n_rows)) == Seq((0L, 2L, 3L)))
  }

  test("ctx DEFINE: physical PREV(n)/NEXT navigation") {
    val spk = spark
    import spk.implicits._
    val df = Seq[Double](1, 2, 3, 4, 1, 1).zipWithIndex
      .map { case (v, i) => Tick(1L, i.toLong, v) }.toDF()
    def v(r: Row): Double = if (r == null) Double.NaN else r.getAs[Double]("v")
    // X: two-back rise (PREV(v, 2) comparison), null-rejecting
    val x: MatchCtx => Boolean =
      ctx => ctx.prev(2) != null && v(ctx.row) > v(ctx.prev(2))
    val xs = measuresOf(df, "X{2,}", Map("X" -> x))
    assert(xs.map(m => (m.start_ord, m.end_ord, m.n_rows)) == Seq((2L, 3L, 2L)))
    // Y: the NEXT row falls below the current one (lookahead)
    val y: MatchCtx => Boolean =
      ctx => ctx.next(1) != null && v(ctx.next(1)) < v(ctx.row)
    val ys = measuresOf(df, "Y", Map("Y" -> y)).sortBy(_.start_ord)
    assert(ys.map(_.start_ord) == Seq(3L)) // only 4 → 1 falls
  }

  test("ctx DEFINE: running FIRST/LAST over a SUBSET union") {
    val spk = spark
    import spk.implicits._
    val df = Seq[Double](10, 9, 8, 11).zipWithIndex
      .map { case (v, i) => Tick(1L, i.toLong, v) }.toDF()
    def v(r: Row): Double = if (r == null) Double.NaN else r.getAs[Double]("v")
    val down: MatchCtx => Boolean =
      ctx => ctx.prev(1) != null && v(ctx.row) < v(ctx.prev(1))
    // R: recovery ABOVE the match's first mapped row (via subset W) and
    // above the last D row — running FIRST/LAST navigation in DEFINE
    val rec: MatchCtx => Boolean = ctx =>
      ctx.first("W") != null && v(ctx.row) > v(ctx.first("W")) &&
        ctx.last("D") != null && v(ctx.row) > v(ctx.last("D"))
    val ms = measuresOf(df, "D+ R", Map("D" -> down, "R" -> rec),
      subsets = Map("W" -> Set("D", "R")))
    // match = falls at ord 1,2 then 11 > first(W)=9 and > last(D)=8
    assert(ms.map(m => (m.start_ord, m.end_ord, m.n_rows, m.first_val, m.last_val))
      == Seq((1L, 3L, 3L, 9.0, 11.0)))
  }

  test("AFTER MATCH SKIP TO LAST resolves SUBSET union names") {
    val spk = spark
    import spk.implicits._
    val df = Seq[Double](5, 4, 6, 5, 7).zipWithIndex
      .map { case (v, i) => Tick(1L, i.toLong, v) }.toDF()
    def v(r: Row): Double = if (r == null) Double.NaN else r.getAs[Double]("v")
    val down: MatchCtx => Boolean =
      ctx => ctx.prev(1) != null && v(ctx.row) < v(ctx.prev(1))
    val up: MatchCtx => Boolean =
      ctx => ctx.prev(1) != null && v(ctx.row) > v(ctx.prev(1))
    val defs = Map("D" -> down, "U" -> up)
    def run(skip: MatchRecognize.SkipMode) =
      measuresOf(df, "D U", defs, skip = skip, subsets = Map("W" -> Set("D", "U")))
        .sortBy(_.start_ord).map(m => (m.start_ord, m.end_ord))
    // W's last row IS U's last row, so both skips resume identically
    assert(run(MatchRecognize.SkipMode.ToLast("W")) ==
      run(MatchRecognize.SkipMode.ToLast("U")))
    assert(run(MatchRecognize.SkipMode.ToLast("W")) == Seq((1L, 2L), (3L, 4L)))
  }

  test("allRowsWithUnmatched: every row once, nulls outside matches") {
    val spk = spark
    import spk.implicits._
    // series 5, 6, 7, 3, 4, 2: matches U{2,} at rows 1-2 (6,7) and a
    // single rise at row 4 (4) that is too short — rows 0, 3, 4, 5 unmatched
    val df = Seq(5.0, 6.0, 7.0, 3.0, 4.0, 2.0).zipWithIndex
      .map { case (v, i) => Tick(1L, i.toLong, v) }.toDF()
    val up: (Row, Row) => Boolean =
      (p, c) => p != null && c.getAs[Double]("v") > p.getAs[Double]("v")
    val rows = allRowsOf(df, "U{2,}", MatchRecognize.wrapSimple(Map("U" -> up)),
        withUnmatched = true)
      .as[MrDetailOrNull].collect().toSeq.sortBy(_.ord)
    assert(rows.map(_.ord) == Seq(0L, 1L, 2L, 3L, 4L, 5L)) // each row once
    assert(rows.filter(_.match_no.isDefined).map(_.ord) == Seq(1L, 2L))
    val matched = rows.filter(_.match_no.isDefined)
    assert(matched.forall(_.match_no.contains(1L)))
    assert(matched.map(_.running_cnt.get) == Seq(1L, 2L))
    assert(matched.map(_.running_max.get) == Seq(6.0, 7.0))
    assert(matched.forall(_.final_last.contains(7.0)))
    val unmatched = rows.filter(_.match_no.isEmpty)
    assert(unmatched.map(_.ord) == Seq(0L, 3L, 4L, 5L))
    assert(unmatched.forall(r => r.classifier.isEmpty && r.running_cnt.isEmpty &&
      r.final_cnt.isEmpty && r.running_max.isEmpty && r.final_last.isEmpty))
  }

  test("matchesShowEmpty: zero-width pattern emits numbered empty matches") {
    val spk = spark
    import spk.implicits._
    // 5, 4, 3, 6, 2 → empty at 0, 'DD' at 1-2, empty at 3, 'D' at 4
    val df = Seq(5.0, 4.0, 3.0, 6.0, 2.0).zipWithIndex
      .map { case (v, i) => Tick(1L, i.toLong, v) }.toDF()
    val down: (Row, Row) => Boolean =
      (p, c) => p != null && c.getAs[Double]("v") < p.getAs[Double]("v")
    val rows = shownMatches(df, "D*", Map("D" -> down))
    assert(rows == Seq(
      (1L, 0L, 0L, None),
      (2L, 1L, 2L, Some("DD")),
      (3L, 3L, 0L, None),
      (4L, 4L, 1L, Some("D"))))
  }

  test("partition anchors: ^ pins match start, $ pins match end") {
    // 12,11,3,15: H (v>=10) holds at rows 0,1,3 — unanchored H+ finds
    // two runs; ^ H+ keeps only the one starting at the partition's
    // first row; H+ $ only the one ending at its last row.
    val vals = Seq[Double](12, 11, 3, 15)
    assert(runPat(vals, "H+").map(m => (m.start_ord, m.n_rows)) ==
      Seq((0L, 2L), (3L, 1L)))
    assert(runPat(vals, "^ H+").map(m => (m.start_ord, m.n_rows)) ==
      Seq((0L, 2L)))
    assert(runPat(vals, "H+ $").map(m => (m.start_ord, m.n_rows)) ==
      Seq((3L, 1L)))
    // anchored both ends: only a pattern spanning the whole partition
    assert(runPat(vals, "^ H+ $").isEmpty)
    assert(runPat(Seq[Double](12, 11, 15), "^ H+ $")
      .map(m => (m.start_ord, m.n_rows)) == Seq((0L, 3L)))
    // ^ D+ can never match: D needs a PREV row, the anchor forces row 0
    assert(runPat(Seq[Double](5, 4, 3), "^ D+").isEmpty)
  }

  test("partition anchors: anchored empty matches only at the boundary") {
    val spk = spark
    import spk.implicits._
    // 5,6,7: D never matches, so ^ D* yields ONE empty match at row 0 —
    // not one per row like unanchored D* (matchesShowEmpty contract).
    val df = Seq(5.0, 6.0, 7.0).zipWithIndex
      .map { case (v, i) => Tick(1L, i.toLong, v) }.toDF()
    val down: (Row, Row) => Boolean =
      (p, c) => p != null && c.getAs[Double]("v") < p.getAs[Double]("v")
    val anchored = shownMatches(df, "^ D*", Map("D" -> down))
      .map(r => (r._1, r._2, r._3))
    assert(anchored == Seq((1L, 0L, 0L)))
    val unanchored = shownMatches(df, "D*", Map("D" -> down))
    assert(unanchored.length == 3)
  }

  test("partition anchors: quantified anchors parse (zero-width collapse)") {
    // r13: anchors are quantifiable per the reference's testEmptyCycle
    // vectors (`^+`, `$*`) — the zero-width collapse rule terminates
    // the loop, so these are legal patterns now.
    MatchRecognize.parse("^* D")
    MatchRecognize.parse("D $+")
  }

  test("aggMeasures: per-variable and universal FINAL aggregates") {
    val spk = spark
    import spk.implicits._
    // series 10, 8, 5, 7, 9, 9: one V-shape D+ U+ = rows 1-4
    // (values 8, 5 falling; 7, 9 rising); the trailing flat 9 is out
    val df = Seq(10.0, 8.0, 5.0, 7.0, 9.0, 9.0).zipWithIndex
      .map { case (v, i) => Tick(1L, i.toLong, v) }.toDF()
    val down: (Row, Row) => Boolean =
      (p, c) => p != null && c.getAs[Double]("v") < p.getAs[Double]("v")
    val up: (Row, Row) => Boolean =
      (p, c) => p != null && c.getAs[Double]("v") > p.getAs[Double]("v")
    val rows = aggRows(df, "D+ U+", Map("D" -> down, "U" -> up), Seq("D", "U"))
      .sortBy(_.var_name)
      .map(r => (r.var_name, r.var_rows, r.sum_val, r.avg_val, r.min_val,
        r.max_val, r.start_ord, r.end_ord))
    assert(rows == Seq(
      ("*", 4L, 29.0, 7.25, 5.0, 9.0, 1L, 4L),
      ("D", 2L, 13.0, 6.5, 5.0, 8.0, 1L, 4L),
      ("U", 2L, 16.0, 8.0, 7.0, 9.0, 1L, 4L)))
  }

  test("aggMeasures sum is exact for 2-dp values regardless of order") {
    val spk = spark
    import spk.implicits._
    // 0.1 + 0.2 famously != 0.3 in IEEE; the scaled-long sum is exact
    val df = Seq(1.0, 0.1, 0.2, 0.3).zipWithIndex
      .map { case (v, i) => Tick(1L, i.toLong, v) }.toDF()
    val down: (Row, Row) => Boolean =
      (p, c) => p != null && c.getAs[Double]("v") < p.getAs[Double]("v")
    val up: (Row, Row) => Boolean =
      (p, c) => p != null && c.getAs[Double]("v") > p.getAs[Double]("v")
    val star = aggRows(df, "D U+", Map("D" -> down, "U" -> up), Seq("D", "U"))
      .filter(_.var_name == "*").head
    assert(star.var_rows == 3L && star.sum_val == 0.6) // not 0.6000000000000001
  }
}

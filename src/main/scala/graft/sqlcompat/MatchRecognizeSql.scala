package graft.sqlcompat

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import graft.operators.MatchRecognize
import graft.operators.MatchRecognize.{MatchCtx, SkipMode}

/** SQL-text surface for row-pattern recognition: parses the reference
  * dialect's `SELECT * FROM <table> MATCH_RECOGNIZE (...)` (grammar
  * `SqlBase.g4:360-399` patternRecognition) and lowers it onto the
  * engine's [[MatchRecognize]] operator — converting the flagship
  * operator from API-parity to SQL-parity. The heavy machinery
  * (pattern NFA, quantifiers, SKIP modes, SUBSET unions, navigation)
  * is all the existing operator's; this layer is purely a front-end.
  *
  * Supported subset (anything else fails loudly, never silently
  * mistranslates) — semantics pinned against the reference's OWN
  * TestRowPatternMatching / TestAggregationsInRowPatternMatching
  * vectors (ReferenceMrVectorsSpec, 11 batteries):
  *   - single-table source, `SELECT *` projection (the standard's
  *     implicit output: partition key + measures for ONE ROW PER
  *     MATCH; partition + order + measures + remaining columns for
  *     ALL ROWS PER MATCH);
  *   - optional multi-column PARTITION BY (absent ≡ one global
  *     partition) and ORDER BY (ascending only);
  *   - optional MEASURES: `MATCH_NUMBER()`, `CLASSIFIER()` (FINAL —
  *     last label — for ONE ROW), `COUNT(*)` / bare `COUNT()` /
  *     `COUNT(V.*)`, `FIRST/LAST([VAR.]col[, offset])`,
  *     `MIN/MAX/SUM/AVG([VAR.]col)` (string columns allowed for
  *     first/last/min/max), `array_agg([VAR.]col)` and
  *     `array_agg(CLASSIFIER([VAR]))`, an optional RUNNING|FINAL
  *     prefix, and `+ - * /` arithmetic over any of these (computed by
  *     Catalyst over hidden primitive columns — Long-exact);
  *   - ONE ROW PER MATCH (default; SHOW EMPTY MATCHES by default per
  *     the standard, OMIT spelling accepted) and ALL ROWS PER MATCH
  *     (SHOW — the default — / OMIT EMPTY MATCHES, WITH UNMATCHED
  *     ROWS); AFTER MATCH SKIP PAST LAST ROW / TO NEXT ROW / TO
  *     [FIRST|LAST] v (paren and paren-less forms; bare TO v ≡ LAST);
  *   - the operator's full PATTERN grammar (quantifiers incl.
  *     reluctant and `{,}`, alternation, PERMUTE, exclusion, anchors,
  *     the empty pattern `()` with standard zero-width-cycle
  *     collapse) — the text inside PATTERN (...) is handed to the
  *     operator's parser verbatim; variables without a DEFINE entry
  *     are TRUE;
  *   - SUBSET declarations (usable in measures' var filters and skip
  *     targets);
  *   - optional DEFINE: comparisons and IS [NOT] NULL over
  *     expressions built from literals (incl. TRUE/FALSE), current-row
  *     columns (bare or qualified), other variables' running LAST,
  *     `PREV/NEXT(col[, n])` / `FIRST/LAST(var.col)` navigation,
  *     `FIRST/LAST(CLASSIFIER())`, bare `CLASSIFIER()`, and
  *     `+ - * /` arithmetic, combined with AND/OR/NOT and parens;
  *   - running aggregates in DEFINE with computed arguments
  *     (reference TestCopyAggregationStateInRowPatternMatching —
  *     per-thread state at alternation forks): sum/avg/min/max/count
  *     over CLASSIFIER() / CAST(...) / ARRAY / MAP args, min/max
  *     N-variants, min_by/max_by[, n], map_agg, multimap_agg,
  *     map_union, and the scalar wrappers array_join / element_at.
  *
  * Known exclusions (fail loudly): quoted/case-normalized identifiers,
  * scalar functions inside measures or DEFINE (beyond arithmetic),
  * nested navigation (`PREV(LAST(...))`), `CLASSIFIER(U)` with an
  * argument outside array_agg, and the window-frame (`WINDOW ...
  * MEASURES ... SEEK`) form of row-pattern recognition.
  */
object MatchRecognizeSql {

  /** Parse + lower `sql` (reference dialect). `resolve` maps the FROM
    * table name to its DataFrame. */
  def translate(sql: String, resolve: String => DataFrame): DataFrame = {
    val outer = "(?is)^\\s*SELECT\\s+\\*\\s+FROM\\s+([A-Za-z_][A-Za-z0-9_]*)\\s+MATCH_RECOGNIZE\\s*\\(".r
    val m = outer.findFirstMatchIn(sql).getOrElse(fail(
      "expected SELECT * FROM <table> MATCH_RECOGNIZE ("))
    val bodyStart = m.end
    val bodyEnd = SqlLex.closeParen(sql, bodyStart - 1)
    val tail = sql.substring(bodyEnd + 1).trim
    if (!(tail.isEmpty || tail.matches("(?i)AS\\s+[A-Za-z_][A-Za-z0-9_]*")))
      fail(s"unsupported trailing clause after MATCH_RECOGNIZE: '$tail'")
    val body = sql.substring(bodyStart, bodyEnd)
    val table = m.group(1)

    def colList(txt: String, what: String): Seq[String] =
      SqlLex.splitTopLevel(txt, ',').map(_.trim).filter(_.nonEmpty).map {
        case c if c.matches("[A-Za-z_][A-Za-z0-9_]*") => c
        case c if c.matches("(?i)[A-Za-z_][A-Za-z0-9_]*\\s+ASC") =>
          c.split("\\s+")(0) // explicit ASC ≡ the engine's sort order
        case other => fail(s"$what: plain ascending column required, got '$other'")
      } match {
        case Seq() => fail(s"$what: at least one column required")
        case cs => cs
      }
    // PARTITION BY is optional (the grammar's default is one global
    // partition): a constant hidden key keeps the engine's
    // repartition/sort contract and is dropped from the output below.
    val partClause = clause(body, "PARTITION\\s+BY")
    val syntheticPart = partClause.isEmpty
    val partCols =
      if (syntheticPart) Seq("__gpart")
      else colList(partClause.get, "PARTITION BY")
    // ORDER BY is optional too (reference
    // testAggregationInPatternMatching runs without one): absent means
    // ARBITRARY row order, carried by a hidden stable id — only
    // order-independent queries (e.g. aggregate measures over a full
    // match) are deterministic then, same as the reference.
    val orderClause = clause(body, "ORDER\\s+BY")
    val syntheticOrder = orderClause.isEmpty
    val orderCols =
      if (syntheticOrder) Seq("__gord")
      else colList(orderClause.get, "ORDER BY")
    // MEASURES is optional (grammar: measureDefinition list may be
    // absent — ALL ROWS then yields the input columns, ONE ROW the
    // partition keys alone).
    val measuresTxt = clause(body, "MEASURES").getOrElse("")
    // rows-per-match: ONE ROW (default) | ALL ROWS with the standard's
    // optional empty/unmatched handling (SqlBase.g4 rowsPerMatch):
    // OMIT EMPTY MATCHES (the ALL ROWS default) | SHOW EMPTY MATCHES |
    // WITH UNMATCHED ROWS
    val (allRows, showEmpty, withUnmatched) =
      clause(body, "(?:ONE|ALL)\\s+ROWS?\\s+PER\\s+MATCH", keepKeyword = true)
        .map(_.trim).map {
          // ONE ROW PER MATCH: the standard's default is SHOW EMPTY
          // MATCHES (reference testOutputModes)
          case k if k.matches("(?i)ONE\\s+ROW\\s+PER\\s+MATCH") =>
            (false, true, false)
          case k if k.matches("(?i)ONE\\s+ROW\\s+PER\\s+MATCH\\s+SHOW\\s+EMPTY\\s+MATCHES") =>
            (false, true, false)
          case k if k.matches("(?i)ONE\\s+ROW\\s+PER\\s+MATCH\\s+OMIT\\s+EMPTY\\s+MATCHES") =>
            (false, false, false)
          case k if k.matches("(?i)ALL\\s+ROWS\\s+PER\\s+MATCH") =>
            // the standard's bare-form default is SHOW EMPTY MATCHES
            // (SQL:2016 §R018; reference TestRowPatternMatching
            // testPatternQuantifiers expects the empty-match rows)
            (true, true, false)
          case k if k.matches("(?i)ALL\\s+ROWS\\s+PER\\s+MATCH\\s+OMIT\\s+EMPTY\\s+MATCHES") =>
            (true, false, false)
          case k if k.matches("(?i)ALL\\s+ROWS\\s+PER\\s+MATCH\\s+SHOW\\s+EMPTY\\s+MATCHES") =>
            (true, true, false)
          case k if k.matches("(?i)ALL\\s+ROWS\\s+PER\\s+MATCH\\s+WITH\\s+UNMATCHED\\s+ROWS") =>
            (true, false, true)
          case other => fail(s"unsupported rows-per-match clause: '$other'")
        }.getOrElse((false, true, false)) // absent clause ≡ ONE ROW (SHOW EMPTY)
    val skip = clause(body, "AFTER\\s+MATCH\\s+SKIP").map(_.trim).map {
      case s if s.matches("(?i)PAST\\s+LAST\\s+ROW") => SkipMode.PastLastRow
      case s if s.matches("(?i)TO\\s+NEXT\\s+ROW") => SkipMode.ToNextRow
      case s if s.matches("(?i)TO\\s+FIRST\\s*\\(\\s*\\w+\\s*\\)") =>
        SkipMode.ToFirst("(?i)TO\\s+FIRST\\s*\\(\\s*(\\w+)\\s*\\)".r
          .findFirstMatchIn(s).get.group(1))
      case s if s.matches("(?i)TO\\s+LAST\\s*\\(\\s*\\w+\\s*\\)") =>
        SkipMode.ToLast("(?i)TO\\s+LAST\\s*\\(\\s*(\\w+)\\s*\\)".r
          .findFirstMatchIn(s).get.group(1))
      // grammar `SqlBase.g4` skipTo also allows the paren-less forms
      // `TO FIRST v` / `TO LAST v`, and bare `TO v` ≡ TO LAST v
      case s if s.matches("(?i)TO\\s+FIRST\\s+\\w+") =>
        SkipMode.ToFirst("(?i)TO\\s+FIRST\\s+(\\w+)".r
          .findFirstMatchIn(s).get.group(1))
      case s if s.matches("(?i)TO\\s+LAST\\s+\\w+") =>
        SkipMode.ToLast("(?i)TO\\s+LAST\\s+(\\w+)".r
          .findFirstMatchIn(s).get.group(1))
      case s if s.matches("(?i)TO\\s+\\w+") =>
        SkipMode.ToLast("(?i)TO\\s+(\\w+)".r.findFirstMatchIn(s).get.group(1))
      case other => fail(s"unsupported AFTER MATCH SKIP form: '$other'")
    }.getOrElse(SkipMode.PastLastRow)
    val patternTxt = clause(body, "PATTERN", keepKeyword = true)
      .getOrElse(fail("PATTERN required"))
    val pattern = {
      val open = patternTxt.indexOf('(')
      require(open >= 0, "PATTERN requires parentheses")
      val close = SqlLex.closeParen(patternTxt, open)
      patternTxt.substring(open + 1, close)
    }
    val subsets: Map[String, Set[String]] =
      clause(body, "SUBSET").map { s =>
        s.split(",(?![^()]*\\))").map(_.trim).filter(_.nonEmpty).map { d =>
          val Array(name, members) = d.split("=", 2)
          name.trim -> members.replaceAll("[()]", "").split(",").map(_.trim).toSet
        }.toMap
      }.getOrElse(Map.empty)
    // DEFINE is optional per the grammar: a variable without a
    // definition is TRUE for every row (the engine core applies the
    // same default for pattern variables absent from the map).
    val defineTxt = clause(body, "DEFINE").getOrElse("")

    // DEFINE list: split on top-level commas, each `VAR AS <predicate>`
    var anyHistory = false
    val rowFree = scala.collection.mutable.Set[String]()
    val define: Map[String, MatchCtx => Boolean] =
      SqlLex.splitTopLevel(defineTxt, ',').map(_.trim).filter(_.nonEmpty).map { d =>
        val asRe = "(?is)^([A-Za-z_][A-Za-z0-9_]*)\\s+AS\\s+(.*)$".r
        d match {
          case asRe(v, pred) =>
            val (f, hf, rf) = DefineParser.compileWithRowInfo(pred, v)
            if (!hf) anyHistory = true
            if (rf) rowFree += v
            v -> f
          case other => fail(s"DEFINE entry must be 'VAR AS predicate': '$other'")
        }
      }.toMap

    // MEASURES → the engine's SqlMeasure surface (arbitrary numeric
    // columns; FINAL for ONE ROW PER MATCH, RUNNING for ALL ROWS)
    import MatchRecognize.SqlMeasure
    // Optional RUNNING|FINAL semantics prefix (grammar `SqlBase.g4`
    // patternRecognitionExpression): RUNNING is the ALL ROWS default
    // and a no-op spelling; FINAL pins the whole-match value (or the
    // last row's classifier) on every emitted row.
    val measRe = ("(?i)^(?:(RUNNING|FINAL)\\s+)?" +
      "(MATCH_NUMBER\\s*\\(\\s*\\)|CLASSIFIER\\s*\\(\\s*\\)|" +
      "COUNT\\s*\\(\\s*(?:([A-Za-z_][A-Za-z0-9_]*)\\s*\\.\\s*)?\\*?\\s*\\)|" +
      "(FIRST|LAST|MIN|MAX|SUM|AVG|COUNT)\\s*\\(\\s*" +
      "(?:([A-Za-z_][A-Za-z0-9_]*)\\s*\\.\\s*)?" + // optional VAR. qualifier
      "([A-Za-z_][A-Za-z0-9_]*)" +
      "(?:\\s*,\\s*(\\d+))?" + // optional navigation offset (FIRST/LAST only)
      "\\s*\\))\\s+AS\\s+" +
      "([A-Za-z_][A-Za-z0-9_]*)$").r
    def primitiveOf(mm: scala.util.matching.Regex.Match, mtxt: String): SqlMeasure = {
      val isFinal = Option(mm.group(1)).exists(_.equalsIgnoreCase("FINAL"))
      (Option(mm.group(4)).map(_.toLowerCase), Option(mm.group(6))) match {
        case (None, _) =>
          val head = mm.group(2).toUpperCase
          if (head.startsWith("MATCH_NUMBER")) SqlMeasure.MatchNum
          else if (head.startsWith("CLASSIFIER"))
            if (isFinal) SqlMeasure.FinalClassifier else SqlMeasure.Classifier
          else Option(mm.group(3)) match { // count(V.*) var-filtered form
            case Some(v) => SqlMeasure.VarCount(v, isFinal)
            case None =>
              if (isFinal) SqlMeasure.FinalCount else SqlMeasure.CountStar
          }
        case (Some(fn), Some(c)) =>
          val varQ = Option(mm.group(5)) // fn(VAR.col) row-set filter
          val off = Option(mm.group(7)).map(_.toInt).getOrElse(0)
          if (off > 0 && fn != "first" && fn != "last")
            fail(s"navigation offset is only valid on FIRST/LAST: '$mtxt'")
          if (isFinal) SqlMeasure.FinalAgg(fn, c, varQ, off)
          else SqlMeasure.Agg(fn, c, varQ, off)
        // group(4) (the agg keyword) can only match together with
        // group(6) (its mandatory column) — unreachable by the regex
        // structure, spelled out for exhaustiveness
        case (Some(_), None) => fail(s"unparsable measure: '$mtxt'")
      }
    }
    // Measure bodies may also be ARITHMETIC over the primitives
    // (`LAST(ts_ns) - FIRST(ts_ns) AS dur`): the NFA emits each
    // distinct primitive that is not itself a declared measure as a
    // hidden column and CATALYST computes the expression over them —
    // Long arithmetic stays exact (a Double path would corrupt
    // epoch-nanos differences past 2^53).
    val primFindRe = (measRe.pattern.pattern
      .stripPrefix("(?i)^").stripSuffix("\\s+AS\\s+([A-Za-z_][A-Za-z0-9_]*)$"))
    val primGlobal = ("(?i)" + primFindRe).r
    val direct = scala.collection.mutable.ArrayBuffer[(SqlMeasure, String)]()
    val hidden = scala.collection.mutable.LinkedHashMap[SqlMeasure, String]()
    val computed = scala.collection.mutable.ArrayBuffer[(String, String)]()
    val asRe = "(?is)^(.*)\\s+AS\\s+([A-Za-z_][A-Za-z0-9_]*)\\s*$".r
    // declared MEASURES order (direct + computed interleaved) — the
    // final projection restores it so positional consumers see the
    // standard's layout, not "direct first, computed appended"
    val declaredAliases = scala.collection.mutable.ArrayBuffer[String]()
    // array_agg measures (reference TestAggregationsInRowPatternMatching):
    // array_agg([VAR.]col) and array_agg(CLASSIFIER([VAR])) with the
    // optional RUNNING|FINAL prefix
    val arrayAggRe = ("(?i)^(?:(RUNNING|FINAL)\\s+)?ARRAY_AGG\\s*\\(\\s*" +
      "(?:CLASSIFIER\\s*\\(\\s*([A-Za-z_][A-Za-z0-9_]*)?\\s*\\)|" +
      "(?:([A-Za-z_][A-Za-z0-9_]*)\\s*\\.\\s*)?([A-Za-z_][A-Za-z0-9_]*))" +
      "\\s*\\)\\s+AS\\s+([A-Za-z_][A-Za-z0-9_]*)$").r
    val measureTxts = SqlLex.splitTopLevel(measuresTxt, ',').map(_.trim).filter(_.nonEmpty)
    // a primitive inside an arithmetic measure that is also a declared
    // measure reads that measure's column instead of folding a second,
    // hidden accumulator of the same value
    val declaredPrims: Map[SqlMeasure, String] = measureTxts
      .flatMap(m => measRe.findFirstMatchIn(m).map(mm => primitiveOf(mm, m) -> mm.group(8)))
      .distinctBy(_._1).toMap
    measureTxts.foreach { mtxt =>
      (measRe.findFirstMatchIn(mtxt), arrayAggRe.findFirstMatchIn(mtxt)) match {
        case (Some(mm), _) =>
          direct += primitiveOf(mm, mtxt) -> mm.group(8)
          declaredAliases += mm.group(8)
        case (None, Some(am)) =>
          val isFinal = Option(am.group(1)).exists(_.equalsIgnoreCase("FINAL"))
          val msr =
            if (am.group(4) == null) // CLASSIFIER form (group 2 = optional var)
              SqlMeasure.ClassifierArray(Option(am.group(2)), isFinal)
            else SqlMeasure.ArrayAggCol(am.group(4), Option(am.group(3)), isFinal)
          direct += msr -> am.group(5)
          declaredAliases += am.group(5)
        case (None, None) =>
          val am = asRe.findFirstMatchIn(mtxt).getOrElse(fail(
            s"unsupported measure: '$mtxt' (expect <primitive or arithmetic> AS alias)"))
          val alias = am.group(2)
          // computed-ARGUMENT aggregates (reference
          // TestExpressionRewriteInRowPatternMatching:
          // sum(array_max(ARRAY[MATCH_NUMBER()])), bool_or(CLASSIFIER()
          // LIKE '%B')): the argument compiles through the DEFINE
          // aggregate-argument sub-language and the engine feeds it
          // per matched row with RUNNING/FINAL semantics
          val aggEvalRe = ("(?is)^(?:(RUNNING|FINAL)\\s+)?" +
            "(SUM|MIN|MAX|AVG|COUNT|BOOL_OR|BOOL_AND)\\s*\\((.*)\\)\\s*$").r
          val evTry = aggEvalRe.findFirstMatchIn(tws(am.group(1))).flatMap { em =>
            scala.util.Try {
              val (ev, scope) = DefineParser.compileAggArg(em.group(3))
              SqlMeasure.AggEval(em.group(2).toLowerCase, ev, scope,
                isFinal = Option(em.group(1)).exists(_.equalsIgnoreCase("FINAL")))
            }.toOption
          }
          evTry match {
            case Some(msr) =>
              direct += msr -> alias
              declaredAliases += alias
            case None =>
              val rewritten = arrayBrackets(
                primGlobal.replaceAllIn(am.group(1), m => {
                  val p = primitiveOf(m, mtxt)
                  declaredPrims.get(p).map(a => s"`$a`")
                    .getOrElse(hidden.getOrElseUpdate(p, s"__m${hidden.size}"))
                }))
              // Catalyst computes the expression over the primitive
              // columns — any deterministic SCALAR expression is
              // running-correct (the primitive columns already carry
              // running values per row), so the allowlist covers
              // COALESCE, conditionals, LIKE, boolean logic, array
              // constructors/array_max-min, comparisons, and literals
              // (reference testDesugarArrayConstructor/DesugarLike/
              // SimplifyExpressions)
              val leftover = declaredPrims.values
                .foldLeft(rewritten)((t, a) => t.replace(s"`$a`", ""))
                .replaceAll("__m\\d+", "")
                .replaceAll("'[^']*'", "")
                .replaceAll("(?i)\\b(COALESCE|ARRAY_MAX|ARRAY_MIN|ARRAY|IF|" +
                  "LIKE|OR|AND|NOT|TRUE|FALSE|CASE|WHEN|THEN|ELSE|END)\\b", "")
              if (!leftover.matches("[\\s0-9+\\-*/().,<>=!]*")) fail(
                s"unsupported measure expression: '$mtxt' (scalar expressions " +
                  "over primitives, literals, and the documented function set)")
              computed += alias -> rewritten
              declaredAliases += alias
          }
      }
    }
    val measures: Seq[(SqlMeasure, String)] =
      direct.toSeq ++ hidden.toSeq.map { case (p, name) => p -> name }

    val input0 = resolve(table)
    var input = if (syntheticPart)
      input0.withColumn("__gpart", org.apache.spark.sql.functions.lit(0))
    else input0
    if (syntheticOrder)
      input = input.withColumn("__gord",
        org.apache.spark.sql.functions.monotonically_increasing_id())
    val base = MatchRecognize.sqlRows(input, partCols, orderCols, pattern,
      define, measures, allRows, skip, subsets, showEmpty, withUnmatched,
      historyFree = !anyHistory, rowFreeVars = rowFree.toSet)
    var out = base
    computed.foreach { case (alias, ex) =>
      out = out.withColumn(alias, org.apache.spark.sql.functions.expr(ex))
    }
    out = out.drop(hidden.values.toSeq: _*)
    // Restore the declared MEASURES column order: withColumn appended
    // computed aliases after everything else, but SQL:2016 output lays
    // measures out in declaration order at the measures position.
    if (computed.nonEmpty) {
      val measureSet = declaredAliases.toSet
      val cols = out.columns.toSeq
      val firstIdx = cols.indexWhere(measureSet.contains)
      if (firstIdx >= 0) {
        val before = cols.take(firstIdx).filterNot(measureSet.contains)
        val after = cols.drop(firstIdx).filterNot(measureSet.contains)
        out = out.select((before ++ declaredAliases ++ after)
          .map(org.apache.spark.sql.functions.col): _*)
      }
    }
    out = if (syntheticPart) out.drop("__gpart") else out
    if (syntheticOrder) out.drop("__gord") else out
  }

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"MATCH_RECOGNIZE SQL: $msg")

  private def tws(x: String): String =
    x.replaceAll("^[ \\t\\r\\n]+|[ \\t\\r\\n]+$", "")

  /** `ARRAY[a, b]` → `array(a, b)` (Spark has no bracket constructor);
    * nesting-aware. */
  private def arrayBrackets(txt0: String): String = {
    var txt = txt0
    val re = "(?i)\\bARRAY\\s*\\[".r
    var m = re.findFirstMatchIn(txt)
    var guard = 0
    while (m.isDefined && guard < 64) {
      guard += 1
      val mm = m.get
      var d = 0; var i = mm.end - 1; var close = -1
      while (i < txt.length && close < 0) {
        val c = txt.charAt(i)
        if (c == '[') d += 1
        else if (c == ']') { d -= 1; if (d == 0) close = i }
        i += 1
      }
      require(close > 0, s"unbalanced ARRAY[ in measure: $txt")
      txt = txt.substring(0, mm.start) + "array(" +
        txt.substring(mm.end, close) + ")" + txt.substring(close + 1)
      m = re.findFirstMatchIn(txt)
    }
    txt
  }

  /** Clause starter keywords, used to delimit each clause's extent. */
  private val starters = ("(?is)(?:PARTITION\\s+BY|ORDER\\s+BY|MEASURES|" +
    "(?:ONE|ALL)\\s+ROWS?\\s+PER\\s+MATCH|AFTER\\s+MATCH\\s+SKIP|" +
    "PATTERN|SUBSET|DEFINE)\\b").r

  /** Extract the text of the clause introduced by `kw` (regex), up to
    * the next clause starter at paren depth 0. */
  private def clause(body: String, kw: String, keepKeyword: Boolean = false): Option[String] =
    s"(?is)\\b$kw\\b".r.findFirstMatchIn(body).map { m =>
      val from = if (keepKeyword) m.start else m.end
      body.substring(from, SqlLex.clauseEnd(body, starters, m.end)).trim
    }
}

/** Recursive-descent compiler for DEFINE predicates → `MatchCtx =>
  * Boolean`. Grammar:
  * {{{
  *   pred    := conj (OR conj)*
  *   conj    := unit (AND unit)*
  *   unit    := NOT unit | '(' pred ')' | cmp
  *   cmp     := operand op operand        op ∈ { < <= > >= = <> != }
  *   operand := number | 'string' | [var.]col
  *            | PREV|NEXT '(' [var.]col [',' n] ')'
  *            | FIRST|LAST '(' var.col ')'
  * }}}
  * Operands compare as numbers (both numeric) or lexicographically
  * (both strings — the funnel-defining `event_type = 'click'` form);
  * mixing the two in one comparison fails loudly.
  * Evaluation follows the standard's DEFINE semantics: a bare or
  * self-qualified column reads the CURRENT row; a column qualified by
  * a DIFFERENT variable reads the running LAST row mapped to it;
  * PREV/NEXT are physical row navigation; comparisons involving NULL
  * (navigation off the partition edge, variable not yet mapped) are
  * unknown → false.
  */
private object DefineParser extends Serializable {

  def compile(src: String, currentVar: String): MatchCtx => Boolean =
    new DefineParser(src, currentVar).parse()

  /** Compile ONE aggregate-argument expression (the MEASURES
    * front-end's computed-argument aggregates share the DEFINE
    * aggregate-argument sub-language): (row, realLabel, matchNo) =>
    * value, plus the pattern-variable scope the argument references. */
  def compileAggArg(src: String): ((Row, String, Long) => Any, Option[String]) =
    new DefineParser(src, "").parseAggArgToEnd()

  // ------- generalized running aggregates (computed arguments) -------
  // Evaluated through ctx.foldMatch — each NFA thread folds its OWN
  // label history, so the per-thread aggregation-state copying the
  // reference performs at alternation forks
  // (TestCopyAggregationStateInRowPatternMatching) is structural here.

  /** Per-feed-row evaluator: (row, real label, match number) => value. */
  type AggEvalF = (Row, String, Long) => Any

  /** Map keys normalize numerics to Double (exact to 2^53 — pattern
    * keys are row ids, not epoch nanos) so a BIGINT column key and a
    * literal `1` lookup meet. */
  def normKey(k: Any): Any = k match {
    case n: Number => Double.box(n.doubleValue())
    case x => x
  }

  /** CAST for aggregate arguments. DECIMAL computes in double here —
    * exact for the reference vectors' single-digit values; this layer
    * has no decimal arithmetic (documented divergence for >2^53). */
  def castTo(ty: String, v: Any): Any = v match {
    case null => null
    case _ => ty match {
      case "DECIMAL" | "DOUBLE" | "REAL" | "FLOAT" => v match {
        case n: Number => Double.box(n.doubleValue())
        case s: String => Double.box(s.trim.toDouble)
        case o => throw new IllegalArgumentException(
          s"CAST to $ty of ${o.getClass.getSimpleName}")
      }
      case "TINYINT" | "SMALLINT" | "INTEGER" | "INT" | "BIGINT" => v match {
        case n: Number => Long.box(n.longValue())
        case s: String => Long.box(s.trim.toLong)
        case o => throw new IllegalArgumentException(
          s"CAST to $ty of ${o.getClass.getSimpleName}")
      }
      case "VARCHAR" | "CHAR" => String.valueOf(v)
      case o => throw new IllegalArgumentException(
        s"unsupported CAST target $o in DEFINE")
    }
  }

  private def cmpVals(a: Any, b: Any): Int = (a, b) match {
    case (x: Number, y: Number) =>
      if (isIntegral(x) && isIntegral(y))
        java.lang.Long.compare(x.longValue(), y.longValue())
      else java.lang.Double.compare(x.doubleValue(), y.doubleValue())
    case (x: String, y: String) => x.compareTo(y)
    case _ => throw new IllegalArgumentException(
      s"incomparable aggregate values ${a.getClass.getSimpleName} vs " +
        b.getClass.getSimpleName)
  }

  // ---- incremental scalar-state shapes (ctx.foldIncremental) ----
  // Each compiled aggregate's argument closure (`e`) is unique to that
  // aggregate call site (aggExpr() allocates fresh closures per
  // parse), so the closure itself keys the per-node prefix memo.
  // States are immutable — shared across NFA threads via the memo.
  private final class NumSt(val n: Long, val sumL: Long,
      val sumD: Double, val frac: Boolean)
  private val NumStEmpty = new NumSt(0L, 0L, 0.0, false)
  private final class ValSt(val v: Any)
  private val ValStEmpty = new ValSt(null)
  private final class BoolSt(val n: Long, val acc: Boolean)
  private final class PairSt(val k: Any, val v: Any)
  private val PairStEmpty = new PairSt(null, null)

  def runNumAgg(ctx: MatchCtx, fn: String, v: Option[String], e: AggEvalF): Any = {
    val mn = ctx.matchNumber
    val st = ctx.foldIncremental(e, v, NumStEmpty) { (a, r, l) =>
      val value = e(r, l, mn)
      if (value == null) a
      else if (fn == "count") new NumSt(a.n + 1, a.sumL, a.sumD, a.frac)
      else value match {
        case x: Number if isIntegral(x) => new NumSt(a.n + 1,
          java.lang.Math.addExact(a.sumL, x.longValue()), a.sumD, a.frac)
        case x: Number => new NumSt(a.n + 1, a.sumL, a.sumD + x.doubleValue(), true)
        case o => throw new IllegalArgumentException(
          s"DEFINE $fn: numeric argument required, got ${o.getClass.getSimpleName}")
      }
    }
    fn match {
      case "count" => st.n
      case _ if st.n == 0 => null
      case "sum" => if (st.frac) st.sumD + st.sumL else st.sumL
      case "avg" => (st.sumD + st.sumL) / st.n
    }
  }

  def runMinMax(ctx: MatchCtx, isMin: Boolean, v: Option[String], e: AggEvalF): Any = {
    val mn = ctx.matchNumber
    ctx.foldIncremental(e, v, ValStEmpty) { (a, r, l) =>
      val value = e(r, l, mn)
      if (value != null && (a.v == null || {
        val c = cmpVals(value, a.v); if (isMin) c < 0 else c > 0
      })) new ValSt(value) else a
    }.v
  }

  /** `min(x, n)` / `max(x, n)`: the n smallest (ascending) / largest
    * (descending) non-null values, as an array (reference
    * MinMaxNStateFactory semantics). */
  def runMinMaxN(ctx: MatchCtx, isMin: Boolean, v: Option[String],
      e: AggEvalF, nCap: Int): Any = {
    val buf = scala.collection.mutable.ArrayBuffer[Any]()
    ctx.foldMatch(v) { (r, l) =>
      val x = e(r, l, ctx.matchNumber); if (x != null) buf += x }
    if (buf.isEmpty) null
    else buf.sortWith((a, b) =>
      if (isMin) cmpVals(a, b) < 0 else cmpVals(a, b) > 0).take(nCap).toSeq
  }

  def runArrayAgg(ctx: MatchCtx, v: Option[String], e: AggEvalF): Any = {
    val buf = scala.collection.mutable.ArrayBuffer[Any]()
    ctx.foldMatch(v)((r, l) => buf += e(r, l, ctx.matchNumber)) // array_agg keeps nulls
    if (buf.isEmpty) null else buf.toSeq
  }

  /** `min_by(x, y[, n])` / `max_by`: x values of the rows with the
    * smallest/largest y (null y rows skipped; stable in match order
    * for ties, like the reference's accumulator). */
  def runMinMaxBy(ctx: MatchCtx, isMin: Boolean, v: Option[String],
      ve: AggEvalF, ke: AggEvalF, nOpt: Option[Int]): Any = {
    val mn = ctx.matchNumber
    nOpt match {
      case None =>
        // scalar form: incremental best-(key, value) pair per thread.
        // STRICT-better comparison keeps ties stable in match order,
        // like the reference's accumulator.
        val st = ctx.foldIncremental(ve, v, PairStEmpty) { (a, r, l) =>
          val k = ke(r, l, mn)
          if (k != null && (a.k == null || {
            val c = cmpVals(k, a.k); if (isMin) c < 0 else c > 0
          })) new PairSt(k, ve(r, l, mn)) else a
        }
        st.v
      case Some(n) =>
        // N-variant yields an O(n)-sized array per evaluation; the
        // collect-and-sort fold stays (result construction dominates)
        val buf = scala.collection.mutable.ArrayBuffer[(Any, Any)]()
        ctx.foldMatch(v) { (r, l) =>
          val k = ke(r, l, mn)
          if (k != null) buf += ((k, ve(r, l, mn)))
        }
        if (buf.isEmpty) null
        else
          buf.sortWith((a, b) =>
            if (isMin) cmpVals(a._1, b._1) < 0 else cmpVals(a._1, b._1) > 0)
            .take(n).map(_._2).toSeq
    }
  }

  def runMapAgg(ctx: MatchCtx, multi: Boolean, v: Option[String],
      ke: AggEvalF, ve: AggEvalF): Any = {
    val mn = ctx.matchNumber
    if (!multi) {
      // persistent first-wins map: O(1) amortized per evaluation
      // through the prefix memo (the final Map's iteration order is
      // key-structure-determined either way — map equality and
      // element_at are order-insensitive)
      val m = ctx.foldIncremental(ke, v, Map.empty[Any, Any]) { (a, r, l) =>
        val k0 = ke(r, l, mn)
        if (k0 == null) a // null keys skipped, reference map_agg semantics
        else {
          val k = normKey(k0)
          if (a.contains(k)) a else a.updated(k, ve(r, l, mn))
        }
      }
      if (m.isEmpty) null else m
    } else {
      // multimap values prepend per feed; the O(result)-sized reverse
      // happens once per EVALUATION, which the result's size already
      // costs anyway
      val m = ctx.foldIncremental(ke, v, Map.empty[Any, List[Any]]) { (a, r, l) =>
        val k0 = ke(r, l, mn)
        if (k0 == null) a
        else {
          val k = normKey(k0)
          a.updated(k, ve(r, l, mn) :: a.getOrElse(k, Nil))
        }
      }
      if (m.isEmpty) null
      else m.view.mapValues(_.reverse: Seq[Any]).toMap
    }
  }

  private final class MapSt(val m: Map[Any, Any], val any: Boolean)
  private val MapStEmpty = new MapSt(Map.empty, false)

  def runMapUnion(ctx: MatchCtx, v: Option[String], e: AggEvalF): Any = {
    val mn = ctx.matchNumber
    val st = ctx.foldIncremental(e, v, MapStEmpty) { (a, r, l) =>
      e(r, l, mn) match {
        case null => a
        case mm: scala.collection.Map[_, _] =>
          var m = a.m
          mm.foreach { case (k, x) =>
            val nk = normKey(k); if (!m.contains(nk)) m = m.updated(nk, x)
          }
          new MapSt(m, true)
        case o => throw new IllegalArgumentException(
          s"map_union argument must be a map, got ${o.getClass.getSimpleName}")
      }
    }
    if (!st.any) null else st.m
  }

  /** `bool_or` / `bool_and` over a computed boolean feed; SQL
    * semantics: nulls skipped, empty feed is NULL. */
  def runBoolAgg(ctx: MatchCtx, isOr: Boolean, v: Option[String],
      e: AggEvalF): Any = {
    val mn = ctx.matchNumber
    val st = ctx.foldIncremental(e, v, new BoolSt(0L, !isOr)) { (a, r, l) =>
      e(r, l, mn) match {
        case null => a
        case b: java.lang.Boolean => new BoolSt(a.n + 1,
          if (isOr) a.acc || b.booleanValue() else a.acc && b.booleanValue())
        case o => throw new IllegalArgumentException(
          s"bool aggregate needs a boolean argument, got ${o.getClass.getSimpleName}")
      }
    }
    if (st.n == 0) null else Boolean.box(st.acc)
  }

  /** `array_max` / `array_min` over an array value (null elements
    * skipped; empty/null array is NULL). */
  def arrayMinMax(arr: Any, isMax: Boolean): Any = arr match {
    case null => null
    case s: Seq[_] =>
      var best: Any = null
      s.foreach { x =>
        if (x != null && (best == null || {
          val c = cmpVals(x, best); if (isMax) c > 0 else c < 0
        })) best = x
      }
      best
    case o => throw new IllegalArgumentException(
      s"array_max/array_min needs an array, got ${o.getClass.getSimpleName}")
  }

  /** Compile a SQL LIKE pattern (%, _) to an anchored regex. */
  def likeRegex(pat: String): java.util.regex.Pattern = {
    val sb = new StringBuilder
    pat.foreach {
      case '%' => sb ++= ".*"
      case '_' => sb += '.'
      case c => sb ++= java.util.regex.Pattern.quote(c.toString)
    }
    java.util.regex.Pattern.compile(sb.toString, java.util.regex.Pattern.DOTALL)
  }

  /** `MAP(ARRAY[...], ARRAY[...])` constructor inside aggregate args. */
  def mapFromArrays(ks: Any, vs: Any): Any = (ks, vs) match {
    case (null, _) | (_, null) => null
    case (a: Seq[_], b: Seq[_]) =>
      if (a.length != b.length) throw new IllegalArgumentException(
        "MAP key and value arrays must have the same length")
      a.iterator.zip(b.iterator).map { case (k, x) => normKey(k) -> x }.toMap
    case _ => throw new IllegalArgumentException("MAP expects two arrays")
  }

  private def valStr(v: Any): String = v match {
    case d: java.lang.Double
      if d == math.rint(d) && !d.isInfinite && math.abs(d) < (1L << 53) =>
      d.longValue().toString // integral-valued: render without ".0"
    case x => String.valueOf(x)
  }

  /** `array_join(arr, sep[, nullReplacement])`: nulls omitted unless a
    * replacement is given (reference ArrayJoin semantics). */
  def arrayJoin(arr: Any, sep: Any, nullRepl: Any): Any = arr match {
    case null => null
    case s: Seq[_] =>
      s.iterator.flatMap { e =>
        if (e == null) Option(nullRepl).map(valStr) else Some(valStr(e))
      }.mkString(String.valueOf(sep))
    case o => throw new IllegalArgumentException(
      s"array_join argument must be an array, got ${o.getClass.getSimpleName}")
  }

  /** `element_at(array, i)` (1-based, negative from end, out-of-range
    * NULL) / `element_at(map, key)` (absent → NULL). */
  def elementAt(coll: Any, key: Any): Any = coll match {
    case null => null
    case m: scala.collection.Map[_, _] =>
      m.asInstanceOf[scala.collection.Map[Any, Any]].getOrElse(normKey(key), null)
    case s: Seq[_] =>
      val n = key match {
        case k: Number => k.longValue().toInt
        case o => throw new IllegalArgumentException(
          s"element_at array index must be numeric, got ${o.getClass.getSimpleName}")
      }
      if (n == 0) throw new IllegalArgumentException("SQL array indices start at 1")
      val idx = if (n > 0) n - 1 else s.length + n
      if (idx < 0 || idx >= s.length) null else s(idx)
    case o => throw new IllegalArgumentException(
      s"element_at argument must be an array or map, got ${o.getClass.getSimpleName}")
  }

  /** Compile plus a history-freedom report: true when the predicate
    * reads only the current row and PHYSICAL prev/next navigation —
    * running FIRST/LAST (and cross-variable references, which are
    * running LAST) depend on the labels assigned so far, which
    * disables the matcher's visited-state memo. */
  def compileWithInfo(src: String, currentVar: String)
      : (MatchCtx => Boolean, Boolean) = {
    val p = new DefineParser(src, currentVar)
    val f = p.parse()
    (f, !p.usesHistory)
  }

  /** Like [[compileWithInfo]], plus a ROW-ONLY report: true when the
    * predicate depends on nothing but the physical row position (no
    * match history AND no MATCH_NUMBER), so its verdict for a row can
    * be memoized ACROSS match attempts within a key group. */
  def compileWithRowInfo(src: String, currentVar: String)
      : (MatchCtx => Boolean, Boolean, Boolean) = {
    val p = new DefineParser(src, currentVar)
    val f = p.parse()
    (f, !p.usesHistory, !p.usesHistory && !p.usesMatchNumber)
  }

  // Runtime helpers live on the (serializable) module so compiled
  // closures capture it, never the parser instance — the closures ship
  // to executors inside the mapPartitions pattern matcher.

  /** Three-valued comparison collapse: any null operand (navigation off
    * the partition edge, unmapped variable) is unknown → false, per the
    * standard. Numerics compare as doubles, strings lexicographically;
    * mixing the two in one comparison fails loudly. */
  def cmpAny(a: Any, b: Any, op: String): Boolean = {
    if (a == null || b == null) return false
    (a, b) match {
      case (x: Number, y: Number) =>
        // Integral pairs compare exactly in Long (epoch-nano columns
        // exceed 2^53, where double comparison quantizes to ~256 ns);
        // only fractional operands drop to double.
        val c =
          if (DefineParser.isIntegral(x) && DefineParser.isIntegral(y))
            java.lang.Long.compare(x.longValue(), y.longValue())
          else java.lang.Double.compare(x.doubleValue(), y.doubleValue())
        (op: @unchecked) match {
          case "<" => c < 0
          case "<=" => c <= 0
          case ">" => c > 0
          case ">=" => c >= 0
          case "=" => c == 0
          case "<>" | "!=" => c != 0
        }
      case (x: String, y: String) =>
        val c = x.compareTo(y)
        (op: @unchecked) match {
          case "<" => c < 0
          case "<=" => c <= 0
          case ">" => c > 0
          case ">=" => c >= 0
          case "=" => c == 0
          case "<>" | "!=" => c != 0
        }
      // array (in)equality: array_agg(CLASSIFIER()) = ARRAY['B','A','X']
      // (reference TestExpressionRewriteInRowPatternMatching); numbers
      // compare numerically, everything else structurally
      case (x: Seq[_], y: Seq[_]) if op == "=" || op == "<>" || op == "!=" =>
        val eq = x.length == y.length && x.iterator.zip(y.iterator).forall {
          case (a1: Number, b1: Number) =>
            if (DefineParser.isIntegral(a1) && DefineParser.isIntegral(b1))
              a1.longValue() == b1.longValue()
            else a1.doubleValue() == b1.doubleValue()
          case (a1, b1) => a1 == b1
        }
        if (op == "=") eq else !eq
      case (x: java.lang.Boolean, y: java.lang.Boolean) =>
        (op: @unchecked) match {
          case "=" => x == y
          case "<>" | "!=" => x != y
          case _ => throw new IllegalArgumentException(
            s"DEFINE: boolean operands support only = / <>, got $op")
        }
      case _ => throw new IllegalArgumentException(
        s"DEFINE: incomparable operand types " +
          s"${a.getClass.getSimpleName} vs ${b.getClass.getSimpleName}")
    }
  }

  def getVal(r: Row, c: String): Any =
    if (r == null) null else r.getAs[Any](c)

  /** Column accessor with a per-closure ordinal cache: all rows of a
    * key group share ONE StructType instance, so the name→index hash
    * lookup resolves once per task instead of once per DEFINE
    * evaluation (the NFA evaluates predicates O(rows × backtrack)
    * times — the name lookup was measurable in the mr13 profile). */
  def colGetter(c: String): Row => Any = new (Row => Any) with Serializable {
    @transient private[this] var sch: org.apache.spark.sql.types.StructType = _
    @transient private[this] var idx: Int = -1
    def apply(r: Row): Any = {
      if (r == null) return null
      val s = r.schema
      if (s == null) return r.getAs[Any](c)
      if (s ne sch) { idx = s.fieldIndex(c); sch = s }
      r.get(idx)
    }
  }

  private[sqlcompat] def isIntegral(n: Number): Boolean = n match {
    case _: java.lang.Long | _: java.lang.Integer | _: java.lang.Short |
         _: java.lang.Byte => true
    case _ => false
  }

  /** Null-propagating numeric arithmetic for DEFINE expressions
    * (string operands fail loudly — there is no string '+' here).
    * Integral operands compute exactly in Long (the measures layer is
    * already Long-exact for the same reason — epoch-nano deltas like
    * `ts_ns - PREV(ts_ns) <= 60000000000` exceed double's 2^53
    * exactness); division and fractional inputs fall back to Double,
    * mirroring RunAgg's integral/fractional split. */
  def arith(a: Any, b: Any, op: Char): Any = {
    if (a == null || b == null) return null
    (a, b) match {
      case (x: Number, y: Number) =>
        if (isIntegral(x) && isIntegral(y)) {
          // r17: `/` joins the integral path — the engine (and the
          // reference) integer-divide, truncating toward zero with
          // the standard's zero-divisor error; keeping DEFINE on
          // double division would make the pattern layer disagree
          // with the surrounding query's arithmetic
          val l = x.longValue(); val r = y.longValue()
          (op: @unchecked) match {
            case '+' => java.lang.Math.addExact(l, r)
            case '-' => java.lang.Math.subtractExact(l, r)
            case '*' => java.lang.Math.multiplyExact(l, r)
            case '/' =>
              if (r == 0) throw new ArithmeticException("Division by zero")
              else l / r
            case '%' =>
              if (r == 0) throw new ArithmeticException("Division by zero")
              else l % r
          }
        } else {
          val d = x.doubleValue(); val e = y.doubleValue()
          (op: @unchecked) match {
            case '+' => d + e
            case '-' => d - e
            case '*' => d * e
            case '/' => d / e
            case '%' => d % e
          }
        }
      case _ => throw new IllegalArgumentException(
        s"DEFINE: arithmetic needs numeric operands, got " +
          s"${a.getClass.getSimpleName} $op ${b.getClass.getSimpleName}")
    }
  }
}

private final class DefineParser(src: String, currentVar: String) {
  import graft.operators.MatchRecognize.MatchCtx
  import DefineParser.{cmpAny, getVal}

  /** Set while parsing when the predicate navigates the running match
    * (FIRST/LAST or a cross-variable reference). */
  var usesHistory: Boolean = false

  /** Set when the predicate reads MATCH_NUMBER(): constant within one
    * match attempt (so it never invalidates the matcher's per-attempt
    * visited memo) but different ACROSS attempts — which disables the
    * cross-attempt per-row classification memo. */
  var usesMatchNumber: Boolean = false

  private var pos = 0

  def parse(): MatchCtx => Boolean = {
    val p = pred()
    skipWs()
    require(pos >= src.length, s"trailing input at $pos in DEFINE '$src'")
    p
  }

  private[sqlcompat] def parseAggArgToEnd(): (AggEval, Option[String]) = {
    val r = aggExpr()
    skipWs()
    require(pos >= src.length, s"trailing input at $pos in aggregate argument '$src'")
    r
  }

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"DEFINE '$src': $msg (at $pos)")

  private def skipWs(): Unit =
    while (pos < src.length && src.charAt(pos).isWhitespace) pos += 1

  private def peekWord(w: String): Boolean = {
    skipWs()
    val re = s"(?is)^$w\\b".r
    re.findFirstIn(src.substring(pos)).isDefined
  }

  private def eatWord(w: String): Boolean = {
    if (peekWord(w)) { pos += w.length; true } else false
  }

  private def pred(): MatchCtx => Boolean = {
    var acc = conj()
    while (eatWord("OR")) {
      val r = conj()
      val l = acc
      acc = ctx => l(ctx) || r(ctx)
    }
    acc
  }

  private def conj(): MatchCtx => Boolean = {
    var acc = unit()
    while (eatWord("AND")) {
      val r = unit()
      val l = acc
      acc = ctx => l(ctx) && r(ctx)
    }
    acc
  }

  private def unit(): MatchCtx => Boolean = {
    skipWs()
    if (eatWord("TRUE")) _ => true
    else if (eatWord("FALSE")) _ => false
    else if (eatWord("NOT")) { val u = unit(); ctx => !u(ctx) }
    else if (pos < src.length && src.charAt(pos) == '(') {
      // lookahead: a paren may open a sub-predicate OR wrap an operand;
      // try predicate first, backtrack to comparison on failure
      val save = pos
      try {
        pos += 1
        val p = pred()
        skipWs()
        require(pos < src.length && src.charAt(pos) == ')', "expected ')'")
        pos += 1
        p
      } catch {
        case _: Exception => pos = save; cmp()
      }
    } else cmp()
  }

  private def cmp(): MatchCtx => Boolean = {
    val l = expr()
    skipWs()
    if (eatWord("IS")) { // IS [NOT] NULL
      val negated = eatWord("NOT")
      if (!eatWord("NULL")) fail("expected NULL after IS [NOT]")
      return ctx => (l(ctx) == null) != negated
    }
    if (peekWord("LIKE")) { // expr LIKE 'pattern' (SQL %/_ wildcards)
      pos += "LIKE".length
      skipWs()
      val re = DefineParser.likeRegex(stringLit())
      return ctx => {
        val v = l(ctx)
        v != null && re.matcher(String.valueOf(v)).matches()
      }
    }
    val ops = Seq("<=", ">=", "<>", "!=", "<", ">", "=")
    ops.find(o => src.startsWith(o, pos)) match {
      case Some(op) =>
        pos += op.length
        val r = expr()
        ctx => cmpAny(l(ctx), r(ctx), op)
      case None =>
        // a bare boolean-valued expression IS the predicate
        // (bool_or(CLASSIFIER() LIKE '%A') standalone in DEFINE —
        // reference TestExpressionRewriteInRowPatternMatching);
        // three-valued: null collapses to false
        // throws directly, NOT via fail(): a fail() call would capture
        // this (non-serializable) parser in the task closure
        ctx => l(ctx) match {
          case b: java.lang.Boolean => b.booleanValue()
          case null => false
          case o => throw new IllegalArgumentException(
            "DEFINE: expected comparison or boolean expression, " +
              s"got ${o.getClass.getSimpleName}")
        }
    }
  }

  // expr := term (('+'|'-') term)* ; term := factor (('*'|'/') factor)*
  // factor := '(' expr ')' | operand — SQL arithmetic over navigation
  // and column operands, null-propagating (DefineParser.arith).
  private def expr(): MatchCtx => Any = {
    var acc = term()
    var go = true
    while (go) {
      skipWs()
      if (pos < src.length && (src.charAt(pos) == '+' || src.charAt(pos) == '-')) {
        val op = src.charAt(pos); pos += 1
        val r = term(); val l = acc
        acc = ctx => DefineParser.arith(l(ctx), r(ctx), op)
      } else go = false
    }
    acc
  }

  private def term(): MatchCtx => Any = {
    var acc = factor()
    var go = true
    while (go) {
      skipWs()
      if (pos < src.length && (src.charAt(pos) == '*' || src.charAt(pos) == '/' ||
        src.charAt(pos) == '%')) {
        val op = src.charAt(pos); pos += 1
        val r = factor(); val l = acc
        acc = ctx => DefineParser.arith(l(ctx), r(ctx), op)
      } else go = false
    }
    acc
  }

  private def factor(): MatchCtx => Any = {
    skipWs()
    if (pos < src.length && src.charAt(pos) == '(') {
      pos += 1
      val e = expr()
      expect(')')
      e
    } else operand()
  }

  /** Consume a quoted string literal at `pos` ('' escapes a quote). */
  private def stringLit(): String = {
    skipWs()
    if (pos >= src.length || src.charAt(pos) != '\'') fail("expected string literal")
    pos += 1
    val sb = new StringBuilder
    var closed = false
    while (!closed) {
      if (pos >= src.length) fail("unterminated string literal")
      val ch = src.charAt(pos)
      if (ch == '\'') {
        if (pos + 1 < src.length && src.charAt(pos + 1) == '\'') {
          sb += '\''; pos += 2
        } else { closed = true; pos += 1 }
      } else { sb += ch; pos += 1 }
    }
    sb.toString
  }

  // exponent form included (reference vectors compare against 1e0)
  private val numRe = "^-?\\d+(?:\\.\\d+)?(?:[eE][+-]?\\d+)?".r

  // operand := number | 'string' | [var.]col | NAV(...)
  private def operand(): MatchCtx => Any = {
    skipWs()
    if (pos < src.length && src.charAt(pos) == '\'') {
      val v: String = stringLit()
      return _ => v
    }
    numRe.findFirstIn(src.substring(pos)) match {
      case Some(n) =>
        pos += n.length
        val v: java.lang.Double = n.toDouble
        _ => v
      case None =>
        val idRe = "^[A-Za-z_][A-Za-z0-9_]*".r
        val id = idRe.findFirstIn(src.substring(pos)).getOrElse(fail("expected operand"))
        pos += id.length
        id.toUpperCase match {
          case "MATCH_NUMBER" =>
            expect('('); expect(')')
            usesMatchNumber = true
            ctx => Long.box(ctx.matchNumber)
          case "IF" =>
            // lazily evaluated IF(cond, then, else) — the untaken arm
            // is never computed (reference testSimplifyExpressions:
            // IF(false, 0 / 0, MATCH_NUMBER()))
            expect('(')
            val c = pred()
            skipWs(); expect(',')
            val a = expr()
            skipWs(); expect(',')
            val b = expr()
            expect(')')
            ctx => if (c(ctx)) a(ctx) else b(ctx)
          case "ARRAY" =>
            skipWs()
            if (pos >= src.length || src.charAt(pos) != '[') fail("expected [")
            pos += 1
            val items = scala.collection.mutable.ArrayBuffer[MatchCtx => Any]()
            skipWs()
            if (pos < src.length && src.charAt(pos) != ']') {
              items += expr()
              skipWs()
              while (pos < src.length && src.charAt(pos) == ',') {
                pos += 1; items += expr(); skipWs()
              }
            }
            if (pos >= src.length || src.charAt(pos) != ']') fail("expected ]")
            pos += 1
            val evals = items.toIndexedSeq
            ctx => evals.map(e => e(ctx)): Seq[Any]
          case "BOOL_OR" | "BOOL_AND" =>
            expect('(')
            generalAggTail(id.toLowerCase)
          case "PREV" | "NEXT" =>
            val isPrev = id.equalsIgnoreCase("PREV")
            expect('(')
            skipWs()
            if (peekWord("CLASSIFIER")) {
              // PREV/NEXT(CLASSIFIER()[, n]) — the nth physical
              // neighbor's label; null outside the match
              pos += "CLASSIFIER".length
              expect('('); expect(')')
              skipWs()
              val n = if (pos < src.length && src.charAt(pos) == ',') {
                pos += 1; skipWs()
                val d = "^\\d+".r.findFirstIn(src.substring(pos))
                  .getOrElse(fail("expected offset"))
                pos += d.length; d.toInt
              } else 1
              expect(')')
              usesHistory = true
              if (!isPrev) fail("NEXT(CLASSIFIER()) is not supported " +
                "(labels beyond the current row are not assigned yet)")
              return ctx => ctx.classifierPrev(n)
            }
            val (q, c) = qualifiedCol()
            if (q.exists(v => !v.equalsIgnoreCase(currentVar)))
              fail(s"PREV/NEXT argument must reference the defined variable, got '${q.get}.$c'")
            skipWs()
            val n = if (pos < src.length && src.charAt(pos) == ',') {
              pos += 1; skipWs()
              val d = "^\\d+".r.findFirstIn(src.substring(pos)).getOrElse(fail("expected offset"))
              pos += d.length; d.toInt
            } else 1
            expect(')')
            val g = DefineParser.colGetter(c)
            ctx => g(if (isPrev) ctx.prev(n) else ctx.next(n))
          case "FIRST" | "LAST" =>
            val isFirst = id.equalsIgnoreCase("FIRST")
            expect('(')
            skipWs()
            if (peekWord("CLASSIFIER")) {
              // FIRST(CLASSIFIER()) / LAST(CLASSIFIER()) — first / last
              // (= current, running) matched row's label (reference
              // TestCopyAggregationStateInRowPatternMatching
              // testMapUnion compares against FIRST(CLASSIFIER()))
              pos += "CLASSIFIER".length
              expect('('); expect(')'); expect(')')
              usesHistory = true
              if (isFirst) ctx => ctx.classifierFirst
              else ctx => ctx.classifierCurrent
            } else {
              val (q, c) = qualifiedCol()
              val v = q.getOrElse(fail("FIRST/LAST in DEFINE requires a variable qualifier"))
              expect(')')
              usesHistory = true
              val g = DefineParser.colGetter(c)
              ctx => g(if (isFirst) ctx.first(v) else ctx.last(v))
            }
          case "CLASSIFIER" =>
            // bare CLASSIFIER() in DEFINE: the current row's tentative
            // label (running semantics)
            expect('('); expect(')')
            ctx => ctx.classifierCurrent
          case "SUM" | "AVG" | "MIN" | "MAX" | "COUNT" =>
            // running aggregates inside DEFINE (SQL:2016; reference
            // TestAggregationsInRowPatternMatching — running semantics
            // INCLUDE the row being classified): sum/avg/min/max over
            // [VAR.]col, count(*) / count() / count(V.*) / count([V.]col).
            // Computed arguments (CAST(B.id AS decimal), CLASSIFIER())
            // and the min/max N-variants take the general path below.
            val fn = id.toLowerCase
            expect('(')
            skipWs()
            val save = pos
            val simple: Option[MatchCtx => Any] =
              try {
                val (varQ, colOrNull): (Option[String], String) =
                  if (fn == "count" && pos < src.length && src.charAt(pos) == ')')
                    (None, null) // count()
                  else if (pos < src.length && src.charAt(pos) == '*') {
                    pos += 1; (None, null) // count(*)
                  } else {
                    val (q, c) = qualifiedCol()
                    if (c == "*") (q, null) // count(V.*)
                    else (q, c)
                  }
                skipWs()
                if (pos < src.length && src.charAt(pos) == ')') {
                  pos += 1
                  if (colOrNull == null && fn != "count")
                    fail(s"$fn(*) is not an aggregate form")
                  usesHistory = true
                  Some(ctx => ctx.runningAgg(fn, varQ, colOrNull))
                } else None
              } catch { case _: Exception => None }
            simple.getOrElse { pos = save; generalAggTail(fn) }
          case "ARRAY_AGG" =>
            expect('(')
            generalAggTail("array_agg")
          case "MIN_BY" | "MAX_BY" =>
            expect('(')
            generalAggTail(id.toLowerCase)
          case "MAP_AGG" | "MULTIMAP_AGG" | "MAP_UNION" =>
            expect('(')
            generalAggTail(id.toLowerCase)
          case "ARRAY_JOIN" =>
            // scalar wrapper over an array-valued expression:
            // array_join(arr, sep[, nullReplacement])
            expect('(')
            val arr = expr()
            expect(',')
            val sep = expr()
            skipWs()
            val nr: Option[MatchCtx => Any] =
              if (pos < src.length && src.charAt(pos) == ',') {
                pos += 1; Some(expr())
              } else None
            expect(')')
            ctx => DefineParser.arrayJoin(arr(ctx), sep(ctx), nr.map(_(ctx)).orNull)
          case "ELEMENT_AT" =>
            // element_at(array, index) — 1-based, negative from the
            // end, out-of-range NULL; element_at(map, key) — NULL when
            // absent (reference semantics)
            expect('(')
            val coll = expr()
            expect(',')
            val key = expr()
            expect(')')
            ctx => DefineParser.elementAt(coll(ctx), key(ctx))
          case _ =>
            skipWs()
            if (pos < src.length && src.charAt(pos) == '.') {
              pos += 1
              val c = idRe.findFirstIn(src.substring(pos)).getOrElse(fail("expected column"))
              pos += c.length
              if (id.equalsIgnoreCase(currentVar)) {
                val g = DefineParser.colGetter(c)
                ctx => g(ctx.row)
              }
              else {
                usesHistory = true
                val g = DefineParser.colGetter(c)
                ctx => g(ctx.last(id)) // cross-variable ref ≡ running LAST
              }
            } else {
              val g = DefineParser.colGetter(id)
              ctx => g(ctx.row)
            }
        }
    }
  }

  // ------- generalized aggregate arguments (computed expressions) ----
  private type AggEval = (Row, String, Long) => Any

  private def mergeScope(a: Option[String], b: Option[String]): Option[String] =
    (a, b) match {
      case (Some(x), Some(y)) if !x.equalsIgnoreCase(y) => fail(
        s"aggregate arguments must all reference one pattern variable, got $x and $y")
      case (Some(x), _) => Some(x)
      case _ => b
    }

  /** Full aggregate-argument EXPRESSION (reference
    * TestExpressionRewriteInRowPatternMatching feeds predicates into
    * bool_or/bool_and — `bool_or(CLASSIFIER() LIKE '%B')`,
    * `bool_and(MATCH_NUMBER() / 0 > 0 AND false)`): OR > AND >
    * comparison > additive > multiplicative > primary-with-LIKE.
    * Arithmetic is null-propagating via DefineParser.arith (doubles
    * divide IEEE — no raise), comparisons via cmpAny. */
  private def aggExpr(): (AggEval, Option[String]) = {
    var (acc, sc) = aggAnd()
    while (peekWord("OR")) {
      pos += 2
      val (r, s2) = aggAnd()
      sc = mergeScope(sc, s2)
      val l = acc
      acc = (row, lab, mn) => (l(row, lab, mn), r(row, lab, mn)) match {
        case (a: java.lang.Boolean, b: java.lang.Boolean) =>
          Boolean.box(a.booleanValue() || b.booleanValue())
        case (a, b) =>
          if (a == null || b == null) null
          else throw new IllegalArgumentException("OR needs boolean operands")
      }
    }
    (acc, sc)
  }

  private def aggAnd(): (AggEval, Option[String]) = {
    var (acc, sc) = aggCmp()
    while (peekWord("AND")) {
      pos += 3
      val (r, s2) = aggCmp()
      sc = mergeScope(sc, s2)
      val l = acc
      acc = (row, lab, mn) => (l(row, lab, mn), r(row, lab, mn)) match {
        case (a: java.lang.Boolean, b: java.lang.Boolean) =>
          Boolean.box(a.booleanValue() && b.booleanValue())
        case (a, b) =>
          if (a == null || b == null) null
          else throw new IllegalArgumentException("AND needs boolean operands")
      }
    }
    (acc, sc)
  }

  private def aggCmp(): (AggEval, Option[String]) = {
    val (l, s1) = aggAdd()
    skipWs()
    val ops = Seq("<=", ">=", "<>", "!=", "<", ">", "=")
    ops.find(o => src.startsWith(o, pos)) match {
      case Some(op) =>
        pos += op.length
        val (r, s2) = aggAdd()
        (((row, lab, mn) =>
          Boolean.box(DefineParser.cmpAny(l(row, lab, mn), r(row, lab, mn), op))): AggEval,
          mergeScope(s1, s2))
      case None => (l, s1)
    }
  }

  private def aggAdd(): (AggEval, Option[String]) = {
    var (acc, sc) = aggMul()
    var go = true
    while (go) {
      skipWs()
      if (pos < src.length && (src.charAt(pos) == '+' || src.charAt(pos) == '-')) {
        val op = src.charAt(pos); pos += 1
        val (r, s2) = aggMul()
        sc = mergeScope(sc, s2)
        val l = acc
        acc = (row, lab, mn) => DefineParser.arith(l(row, lab, mn), r(row, lab, mn), op)
      } else go = false
    }
    (acc, sc)
  }

  private def aggMul(): (AggEval, Option[String]) = {
    var (acc, sc) = aggArg()
    var go = true
    while (go) {
      skipWs()
      if (pos < src.length && (src.charAt(pos) == '*' || src.charAt(pos) == '/' ||
        src.charAt(pos) == '%')) {
        val op = src.charAt(pos); pos += 1
        val (r, s2) = aggArg()
        sc = mergeScope(sc, s2)
        val l = acc
        acc = (row, lab, mn) => DefineParser.arith(l(row, lab, mn), r(row, lab, mn), op)
      } else go = false
    }
    (acc, sc)
  }

  /** One aggregate argument: CLASSIFIER([V]) | CAST(arg AS type) |
    * ARRAY[args] | MAP(arrayArg, arrayArg) | literal | [VAR.]col.
    * Returns the per-feed-row evaluator plus the pattern-variable
    * scope it references — the reference's label-scoped aggregate
    * arguments (`avg(CAST(B.id AS decimal))` feeds only B rows). */
  private def aggArg(): (AggEval, Option[String]) = {
    skipWs()
    if (pos < src.length && src.charAt(pos) == '(') {
      pos += 1
      val e = aggExpr()
      expect(')')
      return likeTail(e)
    }
    if (pos < src.length && src.charAt(pos) == '\'') {
      val v = stringLit()
      return likeTail(((_, _, _) => v, None))
    }
    numRe.findFirstIn(src.substring(pos)) match {
      case Some(n) =>
        pos += n.length
        val v: java.lang.Double = n.toDouble
        ((_, _, _) => v, None)
      case None =>
        val idRe = "^[A-Za-z_][A-Za-z0-9_]*".r
        val id = idRe.findFirstIn(src.substring(pos))
          .getOrElse(fail("expected aggregate argument"))
        pos += id.length
        likeTail(id.toUpperCase match {
          case "TRUE" => (((_, _, _) => java.lang.Boolean.TRUE): AggEval, None)
          case "FALSE" => (((_, _, _) => java.lang.Boolean.FALSE): AggEval, None)
          case "MATCH_NUMBER" =>
            expect('('); expect(')')
            usesMatchNumber = true
            (((_, _, mn) => Long.box(mn)): AggEval, None)
          case "ARRAY_MAX" | "ARRAY_MIN" =>
            val isMax = id.equalsIgnoreCase("ARRAY_MAX")
            expect('(')
            val (e, sc) = aggArg()
            expect(')')
            (((r, l, mn) => DefineParser.arrayMinMax(e(r, l, mn), isMax)): AggEval, sc)
          case "CLASSIFIER" =>
            expect('(')
            skipWs()
            val scope =
              if (pos < src.length && src.charAt(pos) != ')') {
                val w = idRe.findFirstIn(src.substring(pos))
                  .getOrElse(fail("expected variable in CLASSIFIER()"))
                pos += w.length
                Some(w)
              } else None
            expect(')')
            (((_, l, _) => l): AggEval, scope)
          case "CAST" =>
            expect('(')
            val (e, sc) = aggArg()
            if (!eatWord("AS")) fail("expected AS in CAST")
            skipWs()
            val ty = idRe.findFirstIn(src.substring(pos))
              .getOrElse(fail("expected CAST target type")).toUpperCase
            pos += ty.length
            skipWs()
            if (pos < src.length && src.charAt(pos) == '(') { // (p[,s])
              val close = src.indexOf(')', pos)
              if (close < 0) fail("unterminated type arguments")
              pos = close + 1
            }
            expect(')')
            (((r, l, mn) => DefineParser.castTo(ty, e(r, l, mn))): AggEval, sc)
          case "ARRAY" =>
            skipWs()
            if (pos >= src.length || src.charAt(pos) != '[') fail("expected [")
            pos += 1
            val items = scala.collection.mutable.ArrayBuffer[(AggEval, Option[String])]()
            skipWs()
            if (pos < src.length && src.charAt(pos) != ']') {
              items += aggArg()
              skipWs()
              while (pos < src.length && src.charAt(pos) == ',') {
                pos += 1; items += aggArg(); skipWs()
              }
            }
            if (pos >= src.length || src.charAt(pos) != ']') fail("expected ]")
            pos += 1
            val evals = items.map(_._1).toIndexedSeq
            val sc = items.map(_._2).foldLeft(Option.empty[String])(mergeScope)
            (((r, l, mn) => evals.map(e => e(r, l, mn)): Seq[Any]): AggEval, sc)
          case "MAP" =>
            expect('(')
            val (ka, s1) = aggArg()
            expect(',')
            val (va, s2) = aggArg()
            expect(')')
            (((r, l, mn) => DefineParser.mapFromArrays(
              ka(r, l, mn), va(r, l, mn))): AggEval,
              mergeScope(s1, s2))
          case _ =>
            skipWs()
            if (pos < src.length && src.charAt(pos) == '.') {
              pos += 1
              val c = idRe.findFirstIn(src.substring(pos)).getOrElse(fail("expected column"))
              pos += c.length
              val g = DefineParser.colGetter(c)
              (((r, _, _) => g(r)): AggEval, Some(id))
            } else {
              val g = DefineParser.colGetter(id)
              (((r, _, _) => g(r)): AggEval, None)
            }
        })
    }
  }

  /** Optional `LIKE 'pattern'` tail on an aggregate argument — the
    * reference's boolean-argument aggregates (bool_or(CLASSIFIER()
    * LIKE '%B'), TestExpressionRewriteInRowPatternMatching). */
  private def likeTail(arg: (AggEval, Option[String])): (AggEval, Option[String]) = {
    if (!peekWord("LIKE")) return arg
    pos += "LIKE".length
    skipWs()
    val pat = stringLit()
    val re = DefineParser.likeRegex(pat)
    val (e, sc) = arg
    (((r, l, mn) => {
      val v = e(r, l, mn)
      if (v == null) null else Boolean.box(re.matcher(String.valueOf(v)).matches())
    }): AggEval, sc)
  }

  /** Parse the argument tail (after the opening paren) of an aggregate
    * that needs the generalized feed, and build its running evaluator
    * (reference TestCopyAggregationStateInRowPatternMatching /
    * TestAggregationsInRowPatternMatching surfaces). */
  private def generalAggTail(fn: String): MatchCtx => Any = {
    usesHistory = true
    def intArg(): Int = {
      skipWs()
      val d = "^\\d+".r.findFirstIn(src.substring(pos)).getOrElse(fail("expected integer"))
      pos += d.length
      d.toInt
    }
    val argStart = pos
    val (a1, s1) = aggExpr()
    val argEnd = pos
    fn match {
      case "sum" | "avg" | "count" =>
        expect(')')
        // count over a never-null unrestricted feed is the match row
        // count, O(1) from the match indices — CLASSIFIER() is the
        // reference's canonical such argument (mr13's closing
        // condition). Every other shape keeps the general fold.
        val argSrc = src.substring(argStart, argEnd).replaceAll("\\s+", "")
        if (fn == "count" && s1.isEmpty && argSrc.equalsIgnoreCase("CLASSIFIER()"))
          ctx => Long.box(ctx.matchRowCount)
        else
          ctx => DefineParser.runNumAgg(ctx, fn, s1, a1)
      case "min" | "max" =>
        val isMin = fn == "min"
        skipWs()
        if (pos < src.length && src.charAt(pos) == ',') {
          pos += 1
          val n = intArg()
          expect(')')
          ctx => DefineParser.runMinMaxN(ctx, isMin, s1, a1, n)
        } else {
          expect(')')
          ctx => DefineParser.runMinMax(ctx, isMin, s1, a1)
        }
      case "array_agg" =>
        expect(')')
        ctx => DefineParser.runArrayAgg(ctx, s1, a1)
      case "min_by" | "max_by" =>
        val isMin = fn == "min_by"
        expect(',')
        val (a2, s2) = aggExpr()
        val sc = mergeScope(s1, s2)
        skipWs()
        val n = if (pos < src.length && src.charAt(pos) == ',') {
          pos += 1; Some(intArg())
        } else None
        expect(')')
        ctx => DefineParser.runMinMaxBy(ctx, isMin, sc, a1, a2, n)
      case "map_agg" | "multimap_agg" =>
        val multi = fn == "multimap_agg"
        expect(',')
        val (a2, s2) = aggExpr()
        val sc = mergeScope(s1, s2)
        expect(')')
        ctx => DefineParser.runMapAgg(ctx, multi, sc, a1, a2)
      case "map_union" =>
        expect(')')
        ctx => DefineParser.runMapUnion(ctx, s1, a1)
      case "bool_or" | "bool_and" =>
        val isOr = fn == "bool_or"
        expect(')')
        ctx => DefineParser.runBoolAgg(ctx, isOr, s1, a1)
      case other => fail(s"unsupported aggregate '$other' in DEFINE")
    }
  }

  private def qualifiedCol(): (Option[String], String) = {
    skipWs()
    val idRe = "^[A-Za-z_][A-Za-z0-9_]*".r
    val a = idRe.findFirstIn(src.substring(pos)).getOrElse(fail("expected identifier"))
    pos += a.length
    skipWs()
    if (pos < src.length && src.charAt(pos) == '.') {
      pos += 1
      skipWs()
      if (pos < src.length && src.charAt(pos) == '*') { // count(V.*)
        pos += 1
        (Some(a), "*")
      } else {
        val b = idRe.findFirstIn(src.substring(pos)).getOrElse(fail("expected column"))
        pos += b.length
        (Some(a), b)
      }
    } else (None, a)
  }

  private def expect(c: Char): Unit = {
    skipWs()
    if (pos >= src.length || src.charAt(pos) != c) fail(s"expected '$c'")
    pos += 1
  }
}

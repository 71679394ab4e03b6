package graft.sqlcompat

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{expr, lit}

import graft.operators.Mutations

/** SQL-text front-end for row-level mutation — the reference's
  * DELETE / UPDATE / MERGE statements (grammar `SqlBase.g4:68`
  * delete, `:178-182` update/merge, `:693-701` mergeCase; executor
  * `operator/MergeWriterOperator.java`) lowered onto
  * [[graft.operators.Mutations]]'s copy-on-write rewrites, so a
  * reference user's mutation SQL runs as-is:
  *
  *   DELETE FROM t [WHERE pred]
  *   UPDATE t SET c1 = e1[, c2 = e2 …] [WHERE pred]
  *   MERGE INTO t [AS a] USING (query | table) [AS] b ON a.k = b.k
  *     [WHEN MATCHED AND cond THEN DELETE]
  *     [WHEN MATCHED THEN UPDATE SET c = e[, …]]
  *     [WHEN NOT MATCHED THEN INSERT VALUES (e, …)]
  *
  * `resolvePath` maps the TARGET table name to its writable parquet
  * path; `resolveSource` maps a bare USING table name to a DataFrame
  * (a parenthesized USING subquery runs through
  * [[Dialect.translate]] + spark.sql against registered views).
  * Alias prefixes (`a.`, `b.`) are stripped from clause expressions —
  * target and non-key source column names must be disjoint (the
  * operator enforces this).
  *
  * Supported subset fails LOUDLY outside itself: one optional
  * conditional DELETE case (which must precede the update case, since
  * the operator applies delete-then-update), one unconditional
  * UPDATE case, one unconditional full-schema INSERT VALUES case.
  * Conditional UPDATE/INSERT cases and column-subset INSERT raise.
  */
object MutationSql {

  private val truncateRe =
    "(?is)^\\s*TRUNCATE\\s+TABLE\\s+([A-Za-z_][A-Za-z0-9_]*)\\s*$".r
  private val deleteRe =
    "(?is)^\\s*DELETE\\s+FROM\\s+([A-Za-z_][A-Za-z0-9_]*)\\s*(?:WHERE\\s+(.+?))?\\s*$".r
  private val updateRe =
    "(?is)^\\s*UPDATE\\s+([A-Za-z_][A-Za-z0-9_]*)\\s+SET\\s+(.+?)\\s*(?:\\bWHERE\\s+(.+?))?\\s*$".r
  private val mergeRe =
    ("(?is)^\\s*MERGE\\s+INTO\\s+([A-Za-z_][A-Za-z0-9_]*)(?:\\s+AS)?(?:\\s+([A-Za-z_][A-Za-z0-9_]*))?" +
      "\\s+USING\\s+(.+?)\\s+ON\\s+(.+?)\\s*(WHEN\\s.+)$").r

  /** True when `sql` is a mutation statement this front-end handles. */
  def matches(sql: String): Boolean =
    "(?is)^\\s*(DELETE\\s+FROM|UPDATE\\s|MERGE\\s+INTO|TRUNCATE\\s+TABLE)".r
      .findFirstIn(sql).isDefined

  def translate(s: SparkSession, sql: String,
      resolvePath: String => String,
      resolveSource: String => DataFrame = null): DataFrame = sql match {

    // TRUNCATE TABLE t (grammar `SqlBase.g4:69`): a degenerate
    // unconditional DELETE — the copy-on-write rewrite commits a
    // schema-only table state
    case truncateRe(table) =>
      Mutations.delete(s, resolvePath(table), lit(true))

    case deleteRe(table, whereOrNull) =>
      val pred = Option(whereOrNull).map(w => expr(Dialect.translate(w)))
        .getOrElse(lit(true))
      Mutations.delete(s, resolvePath(table), pred)

    case updateRe(table, setList, whereOrNull) =>
      val assigned = assignments(setList, "UPDATE")(v => expr(Dialect.translate(v)))
      val pred = Option(whereOrNull).map(w => expr(Dialect.translate(w)))
        .getOrElse(lit(true))
      Mutations.update(s, resolvePath(table), assigned, pred)

    case mergeRe(table, tAliasOrNull, usingTxt, onTxt, casesTxt) =>
      mergeStatement(s, table, Option(tAliasOrNull), usingTxt.trim,
        onTxt.trim, casesTxt.trim, resolvePath, resolveSource)

    case other => throw new IllegalArgumentException(
      s"not a supported mutation statement: ${other.take(120)}")
  }

  /** `col = expr, …` → column name (a quoted identifier unquoted) →
    * value. */
  private def assignments(setList: String, what: String)(
      value: String => Column): Map[String, Column] =
    SqlLex.splitTopLevel(setList, ',').map { a =>
      val eq = a.indexOf('=')
      require(eq > 0, s"$what: bad assignment '$a'")
      SqlLex.identName(a.substring(0, eq)) -> value(a.substring(eq + 1).trim)
    }.toMap

  private def mergeStatement(s: SparkSession, table: String,
      tAlias: Option[String], usingTxt: String, onTxt: String,
      casesTxt: String, resolvePath: String => String,
      resolveSource: String => DataFrame): DataFrame = {
    // USING relation: (subquery) [AS] alias  |  tableName [AS] alias
    val subRe = "(?is)^\\((.+)\\)\\s*(?:AS\\s+)?([A-Za-z_][A-Za-z0-9_]*)\\s*$".r
    val tblRe = "(?is)^([A-Za-z_][A-Za-z0-9_]*)\\s*(?:AS\\s+)?([A-Za-z_][A-Za-z0-9_]*)?\\s*$".r
    val (source, sAlias) = usingTxt match {
      case subRe(q, a) => (s.sql(Dialect.translate(q)), Some(a))
      case tblRe(t, a) =>
        require(resolveSource != null,
          "MERGE USING a bare table name needs a resolveSource function")
        (resolveSource(t), Option(a))
      case other => throw new IllegalArgumentException(
        s"MERGE: unsupported USING relation: $other")
    }
    // alias stripping: clause expressions may qualify with the target/
    // source alias (or the table name); names are disjoint by operator
    // contract so the bare column resolves unambiguously
    val aliases = (Seq(table) ++ tAlias ++ sAlias).distinct
    def strip(e: String): String =
      aliases.foldLeft(e)((acc, a) =>
        acc.replaceAll(s"(?i)\\b$a\\.", ""))
    // ON: single equality between a target column and a source column
    val onRe = ("(?is)^\\s*([A-Za-z_][A-Za-z0-9_.]*)\\s*=\\s*" +
      "([A-Za-z_][A-Za-z0-9_.]*)\\s*$").r
    val (onL, onR) = onTxt match {
      case onRe(l, r) => (strip(l), strip(r))
      case other => throw new IllegalArgumentException(
        s"MERGE: ON must be one key equality, got: $other")
    }
    val srcCols = source.columns.map(_.toLowerCase).toSet
    val (targetKey, sourceKey) =
      if (srcCols(onR.toLowerCase)) (onL, onR)
      else if (srcCols(onL.toLowerCase)) (onR, onL)
      else throw new IllegalArgumentException(
        s"MERGE: neither ON side ($onL, $onR) is a source column")

    // mergeCase+ — split on WHEN keeping order
    val caseRe = ("(?is)WHEN\\s+(NOT\\s+)?MATCHED\\s*(?:AND\\s+(.+?))?\\s*THEN\\s+" +
      "(DELETE|UPDATE\\s+SET\\s+(.+?)|INSERT\\s*(?:\\(([^)]*)\\))?\\s*VALUES\\s*\\((.+?)\\))" +
      "\\s*(?=WHEN\\s|$)").r
    var deleteWhen: Option[Column] = None
    var updateSet: Map[String, Column] = Map.empty
    var insertValues: Option[Seq[Column]] = None
    var sawUpdate = false
    val ms = caseRe.findAllMatchIn(casesTxt).toSeq
    require(ms.nonEmpty, s"MERGE: no WHEN cases parsed from: $casesTxt")
    // fail-loud completeness: every non-space character of the case
    // text must belong to a parsed case (a silently dropped case would
    // silently change the mutation)
    require(casesTxt.replaceAll("\\s", "").length ==
      ms.map(_.matched.replaceAll("\\s", "").length).sum,
      s"MERGE: unparsed WHEN-case text in: $casesTxt")
    ms.foreach { m =>
      val notMatched = m.group(1) != null
      val cond = Option(m.group(2)).map(c => expr(Dialect.translate(strip(c))))
      val action = m.group(3).trim.toUpperCase
      if (action.startsWith("DELETE")) {
        require(!notMatched, "MERGE: WHEN NOT MATCHED THEN DELETE is not valid")
        require(deleteWhen.isEmpty, "MERGE: at most one DELETE case")
        require(!sawUpdate,
          "MERGE: the DELETE case must precede the UPDATE case " +
            "(the rewrite applies delete-then-update)")
        deleteWhen = Some(cond.getOrElse(lit(true)))
      } else if (action.startsWith("UPDATE")) {
        require(!notMatched, "MERGE: WHEN NOT MATCHED THEN UPDATE is not valid")
        require(cond.isEmpty,
          "MERGE: conditional UPDATE cases are not supported (split " +
            "the condition into the DELETE case or pre-filter the source)")
        require(updateSet.isEmpty, "MERGE: at most one UPDATE case")
        sawUpdate = true
        updateSet = assignments(m.group(4), "MERGE UPDATE")(
          v => expr(Dialect.translate(strip(v))))
      } else { // INSERT
        require(notMatched, "MERGE: WHEN MATCHED THEN INSERT is not valid")
        require(cond.isEmpty, "MERGE: conditional INSERT cases are not supported")
        require(insertValues.isEmpty, "MERGE: at most one INSERT case")
        require(m.group(5) == null,
          "MERGE: INSERT with a column subset is not supported — list " +
            "VALUES for the full target schema in order")
        insertValues = Some(SqlLex.splitTopLevel(m.group(6), ',')
          .map(v => expr(Dialect.translate(strip(v.trim)))))
      }
    }
    Mutations.mergeInto(s, resolvePath(table), source, targetKey, sourceKey,
      Mutations.MergeClauses(deleteWhen, updateSet, insertValues))
  }
}

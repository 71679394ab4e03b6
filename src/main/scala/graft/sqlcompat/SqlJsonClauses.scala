package graft.sqlcompat

/** SQL/JSON 2016 clause syntax for `json_exists` / `json_value` /
  * `json_query` (grammar `SqlBase.g4` jsonPathInvocation /
  * jsonValueBehavior / jsonQueryBehavior; reference
  * `sql/analyzer/ExpressionAnalyzer.java` + `operator/scalar/json/`):
  *
  *   json_value(input [FORMAT JSON], 'path'
  *     [PASSING expr [FORMAT JSON] AS name, ...]
  *     [RETURNING type]
  *     [{ERROR | NULL | DEFAULT expr} ON EMPTY]
  *     [{ERROR | NULL | DEFAULT expr} ON ERROR])
  *   json_query(...
  *     [{WITHOUT | WITH [CONDITIONAL|UNCONDITIONAL]} [ARRAY] WRAPPER]
  *     [{KEEP | OMIT} QUOTES [ON SCALAR STRING]]
  *     [{ERROR | NULL | EMPTY ARRAY | EMPTY OBJECT} ON EMPTY / ON ERROR])
  *   json_exists(... [{TRUE | FALSE | UNKNOWN | ERROR} ON ERROR])
  *
  * Lowered onto the status-struct UDFs (`graft_json_*_x`,
  * functions/GraftFunctions.scala): the UDF reports 0 ok / 1 empty /
  * 2 error plus the value, and the behaviors become CASE arms over the
  * status — so DEFAULT expressions stay arbitrary SQL evaluated by
  * Spark, and ERROR behaviors raise through raise_error(). PASSING
  * bindings travel as a map of JSON-fragment text: SQL values render
  * through the to_json(array(x)) fragment trick (a SQL NULL passes as
  * JSON null), FORMAT JSON values splice verbatim, and a NULL FORMAT
  * JSON binding is the standard's empty-sequence (NULL map value).
  *
  * Only calls that actually carry clause syntax are rewritten — the
  * plain 2-arg spellings keep the oracle-pinned simple UDFs. Runs on
  * canonical text (string literals are sentinels), AFTER the
  * subscript pass: the emitted '[' / '{' string literals must not be
  * re-read as subscripts. The path argument must be a string-literal
  * sentinel (the reference grammar requires a literal there); anything
  * else passes through for Spark to reject loudly.
  */
object SqlJsonClauses {

  private val fnRe = "(?i)\\bjson_(value|query|exists)\\s*\\(".r
  private val clauseKw =
    ("(?is).*\\b(PASSING|RETURNING|DEFAULT|ON\\s+EMPTY|ON\\s+ERROR|" +
      "WRAPPER|QUOTES|FORMAT\\s+JSON)\\b.*").r

  def pass(canon0: String, lex: SqlLex.Lexed): String = {
    val sb = new StringBuilder
    var rest = canon0
    var guard = 0
    while (guard < 64) {
      guard += 1
      fnRe.findFirstMatchIn(rest) match {
        case None =>
          sb ++= rest
          return sb.toString
        case Some(m) =>
          val open = rest.indexOf('(', m.start)
          val close = SqlLex.closeParen(rest, open)
          val body = rest.substring(open + 1, close)
          val rewritten =
            if (clauseKw.pattern.matcher(body).matches())
              try Some(rewrite(m.group(1).toLowerCase, body, lex))
              catch { case _: UnsupportedClauseError => None }
            else None
          rewritten match {
            case Some(t) =>
              sb ++= rest.substring(0, m.start)
              // re-scan the rewritten text: the INPUT argument may be
              // another clause-form call (testJsonQueryAsInput); the
              // emitted graft_json_*_x names no longer match fnRe, so
              // this terminates
              rest = t + rest.substring(close + 1)
            case None =>
              sb ++= rest.substring(0, close + 1)
              rest = rest.substring(close + 1)
          }
      }
    }
    sb.toString + rest
  }

  private final class UnsupportedClauseError(msg: String)
    extends RuntimeException(msg)

  private def bail(msg: String): Nothing = throw new UnsupportedClauseError(msg)

  // whitespace-only trim: spaces, tabs and line breaks
  private def tws(x: String): String =
    x.replaceAll("^[ \\t\\r\\n]+|[ \\t\\r\\n]+$", "")

  private def frag(x: String): String =
    s"substr(to_json(array($x)), 2, length(to_json(array($x))) - 2)"

  private sealed trait Behavior
  private case object BNull extends Behavior
  private case object BError extends Behavior
  private case object BTrue extends Behavior
  private case object BFalse extends Behavior
  private case object BUnknown extends Behavior
  private case object BEmptyArray extends Behavior
  private case object BEmptyObject extends Behavior
  private final case class BDefault(expr: String) extends Behavior

  /** Cursor over the call body, moving only at paren depth 0. */
  private final class Cursor(val src: String) {
    var pos = 0
    def skipWs(): Unit =
      while (pos < src.length && " \t\r\n".indexOf(src.charAt(pos)) >= 0) pos += 1
    def atEnd: Boolean = { skipWs(); pos >= src.length }
    def eatKw(w: String): Boolean = {
      skipWs()
      val end = pos + w.length
      if (end <= src.length && src.substring(pos, end).equalsIgnoreCase(w) &&
        (end == src.length || !isWord(src.charAt(end))) &&
        (pos == 0 || !isWord(src.charAt(pos - 1)))) { pos = end; true }
      else false
    }
    private def isWord(c: Char): Boolean = c.isLetterOrDigit || c == '_'
    /** Text up to the next top-level occurrence of any stop word /
      * comma; cursor lands on the stop. */
    def until(stopWords: Seq[String], stopComma: Boolean): String = {
      skipWs()
      val start = pos
      val kw =
        if (stopWords.isEmpty) src.length
        else SqlLex.clauseEnd(src, s"(?i)(?:${stopWords.mkString("|")})\\b".r, start)
      val comma =
        if (stopComma) start + SqlLex.splitTopLevel(src.substring(start), ',').head.length
        else src.length
      pos = math.min(kw, comma)
      src.substring(start, pos)
    }
    def expectKw(w: String): Unit =
      if (!eatKw(w)) bail(s"expected $w at $pos in: $src")
  }

  private val sentinelRe = s"^${SqlLex.LitP}".r

  private def rewrite(fn: String, body: String, lex: SqlLex.Lexed): String = {
    val cur = new Cursor(body)
    // input argument (optionally FORMAT JSON [ENCODING UTF8|16|32])
    var input = tws(cur.until(Seq.empty, stopComma = true))
    if (cur.pos >= body.length) bail("missing path argument")
    cur.pos += 1 // the comma
    input = decodeFormatJson(input)
    cur.skipWs()
    val pathM = sentinelRe.findFirstMatchIn(body.substring(cur.pos))
      .getOrElse(bail("path must be a string literal"))
    val path = pathM.matched
    cur.pos += pathM.end

    // clauses
    val clauseStops = Seq("PASSING", "RETURNING", "DEFAULT", "NULL",
      "ERROR", "TRUE", "FALSE", "UNKNOWN", "WITH", "WITHOUT", "KEEP",
      "OMIT", "EMPTY")
    var passing = Vector.empty[(String, String, Boolean)] // (name, expr, isJson)
    var returning: Option[String] = None
    var onEmpty: Option[Behavior] = None
    var onError: Option[Behavior] = None
    var wrapper = 0
    var omitQuotes = false

    def onClause(b: Behavior): Unit = {
      // ON EMPTY / ON ERROR discriminator follows the behavior word(s)
      cur.expectKw("ON")
      if (cur.eatKw("EMPTY")) onEmpty = Some(b)
      else { cur.expectKw("ERROR"); onError = Some(b) }
    }

    while (!cur.atEnd) {
      if (cur.eatKw("PASSING")) {
        var more = true
        while (more) {
          val expr0 = cur.until(Seq("AS"), stopComma = false)
          cur.expectKw("AS")
          cur.skipWs()
          // "quoted" (an identifier sentinel on canonical text),
          // `backticked`, or bare
          val rest = body.substring(cur.pos)
          val nameM = (s"^${SqlLex.IdentIdx}|^`([^`]+)`|" +
            "^([A-Za-z_][A-Za-z0-9_]*)").r
            .findFirstMatchIn(rest).getOrElse(bail("expected PASSING name"))
          // bare names canonicalize to UPPER CASE per the standard
          // (reference: PASSING 2 AS number does NOT bind $number —
          // "Try quoting to match case"); quoted names stay exact
          val name = Option(nameM.group(1)).map(i => lex.value(i.toInt))
            .orElse(Option(nameM.group(2)))
            .getOrElse(nameM.group(3).toUpperCase)
          cur.pos += nameM.end
          var expr = tws(expr0)
          val fmtTail = "(?is)\\s*FORMAT\\s+JSON\\s*$"
          // a json_query(...) parameter inherits FORMAT JSON (the
          // standard's JSON-returning-function rule,
          // testJsonQueryAsInput)
          val isJson = expr.matches("(?is).*\\bFORMAT\\s+JSON\\s*$") ||
            expr.matches("(?is)^json_query\\s*\\(.*")
          if (expr.matches("(?is).*\\bFORMAT\\s+JSON\\s*$"))
            expr = tws(expr.replaceAll(fmtTail, ""))
          passing :+= ((name, expr, isJson))
          cur.skipWs()
          if (cur.pos < body.length && body.charAt(cur.pos) == ',') {
            cur.pos += 1; more = true
          } else more = false
        }
      }
      else if (cur.eatKw("RETURNING")) {
        val tM = "^\\s*([A-Za-z_]+(\\s*\\(\\s*\\d+(\\s*,\\s*\\d+)?\\s*\\))?)".r
          .findFirstMatchIn(body.substring(cur.pos))
          .getOrElse(bail("expected RETURNING type"))
        returning = Some(tws(tM.group(1)))
        cur.pos += tM.end
        cur.eatKw("FORMAT") && cur.eatKw("JSON") // optional, consumed
      }
      else if (cur.eatKw("DEFAULT")) {
        val expr = tws(cur.until(Seq("ON"), stopComma = false))
        onClause(BDefault(expr))
      }
      else if (cur.eatKw("NULL")) onClause(BNull)
      else if (cur.eatKw("ERROR")) onClause(BError)
      else if (cur.eatKw("TRUE")) onClause(BTrue)
      else if (cur.eatKw("FALSE")) onClause(BFalse)
      else if (cur.eatKw("UNKNOWN")) onClause(BUnknown)
      else if (cur.eatKw("EMPTY")) {
        if (cur.eatKw("ARRAY")) onClause(BEmptyArray)
        else { cur.expectKw("OBJECT"); onClause(BEmptyObject) }
      }
      else if (cur.eatKw("WITHOUT")) {
        cur.eatKw("ARRAY"); cur.expectKw("WRAPPER"); wrapper = 0
      }
      else if (cur.eatKw("WITH")) {
        val cond = cur.eatKw("CONDITIONAL")
        if (!cond) cur.eatKw("UNCONDITIONAL")
        cur.eatKw("ARRAY"); cur.expectKw("WRAPPER")
        wrapper = if (cond) 2 else 1
      }
      else if (cur.eatKw("KEEP")) {
        cur.expectKw("QUOTES")
        if (cur.eatKw("ON")) { cur.expectKw("SCALAR"); cur.expectKw("STRING") }
        omitQuotes = false
      }
      else if (cur.eatKw("OMIT")) {
        cur.expectKw("QUOTES")
        if (cur.eatKw("ON")) { cur.expectKw("SCALAR"); cur.expectKw("STRING") }
        omitQuotes = true
      }
      else bail(s"unrecognized clause at ${cur.pos}: ${body.substring(cur.pos)}")
    }

    // ---- lowering
    val varsExpr =
      if (passing.isEmpty) "map()"
      else "map(" + passing.map { case (name, expr, isJson) =>
        val fragment =
          if (isJson) s"($expr)"
          else s"CASE WHEN ($expr) IS NULL THEN 'null' ELSE ${frag(s"($expr)")} END"
        s"${lex.lit(name)}, $fragment"
      }.mkString(", ") + ")"

    def castR(x: String): String = returning match {
      // RETURNING boolean follows the reference's JSON-item coercion:
      // JSON booleans cast textually, JSON numbers are `!= 0` — a bare
      // CAST('10' AS BOOLEAN) raises under ANSI
      case Some(t) if t.equalsIgnoreCase("boolean") =>
        s"(CASE WHEN lower($x) IN ('true', 'false') THEN CAST($x AS BOOLEAN) " +
          s"ELSE CAST($x AS DOUBLE) <> 0 END)"
      case Some(t) => s"CAST($x AS ${Dialect.renameType(t)})"
      case None => x
    }
    def arm(b: Behavior, what: String): String = b match {
      case BNull => "NULL"
      case BError => s"raise_error('$fn: $what behavior is ERROR')"
      case BTrue => "true"
      case BFalse => "false"
      case BUnknown => "CAST(NULL AS BOOLEAN)"
      case BEmptyArray => castR("'[]'")
      case BEmptyObject => castR("'{}'")
      case BDefault(e) => castR(s"($e)")
    }

    fn match {
      case "exists" =>
        val call = s"graft_json_exists_x($input, $path, $varsExpr)"
        val errArm = arm(onError.getOrElse(BFalse), "ON ERROR")
        s"(CASE WHEN $call.status = 2 THEN $errArm ELSE $call.value END)"
      case "value" =>
        val call = s"graft_json_value_x($input, $path, $varsExpr)"
        val emptyArm = arm(onEmpty.getOrElse(BNull), "ON EMPTY")
        val errArm = arm(onError.getOrElse(BNull), "ON ERROR")
        // RETURNING cast FAILURE is an ON ERROR condition in the
        // reference (json_value('...','lax 1000' RETURNING tinyint) →
        // NULL / DEFAULT, never a wrapped/overflowed value), so
        // non-boolean RETURNING goes through TRY_CAST and a null
        // result from a NON-null extracted value takes the error arm.
        val castFailable = returning.exists(!_.equalsIgnoreCase("boolean"))
        if (castFailable)
          s"(CASE WHEN $call.status = 1 THEN $emptyArm " +
            s"WHEN $call.status = 2 THEN $errArm " +
            s"WHEN $call.value IS NULL THEN NULL " +
            s"WHEN TRY_CAST($call.value AS ${Dialect.renameType(returning.get)}) IS NULL THEN $errArm " +
            s"ELSE TRY_CAST($call.value AS ${Dialect.renameType(returning.get)}) END)"
        else
          s"(CASE WHEN $call.status = 1 THEN $emptyArm " +
            s"WHEN $call.status = 2 THEN $errArm " +
            s"ELSE ${castR(s"$call.value")} END)"
      case "query" =>
        val call =
          s"graft_json_query_x($input, $path, $varsExpr, $wrapper, $omitQuotes)"
        val emptyArm = arm(onEmpty.getOrElse(BNull), "ON EMPTY")
        val errArm = arm(onError.getOrElse(BNull), "ON ERROR")
        s"(CASE WHEN $call.status = 1 THEN $emptyArm " +
          s"WHEN $call.status = 2 THEN $errArm " +
          s"ELSE ${castR(s"$call.value")} END)"
    }
  }

  private def stripFormatJson(e: String): String =
    tws(e.replaceAll("(?is)\\s*FORMAT\\s+JSON\\s*$", ""))

  private val encRe =
    "(?is)\\s*FORMAT\\s+JSON(\\s+ENCODING\\s+UTF(8|16|32))?\\s*$".r

  /** The Java charset for a SQL/JSON ENCODING keyword (the reference
    * reads little-endian for UTF16/32, per its JsonInputFunctions). */
  def charsetOf(enc: String): String = enc match {
    case "8" => "UTF-8"
    case "16" => "UTF-16LE"
    case "32" => "UTF-32LE"
  }

  /** Normalize an input argument: strip `FORMAT JSON`; with an
    * ENCODING the input is a binary string decoded through the named
    * charset (graft_decode — Spark's decode() rejects UTF-32); a
    * binary input without ENCODING reads as UTF-8 via CAST. A
    * character-string input with ENCODING is left to fail loudly at
    * analysis, like the reference's "Cannot read input of type
    * varchar as JSON using formatting JSON ENCODING" error. */
  private def decodeFormatJson(e0: String): String = {
    encRe.findFirstMatchIn(e0) match {
      case Some(m) if m.group(2) != null =>
        val inner = tws(e0.substring(0, m.start))
        if (sentinelRe.findFirstMatchIn(inner).isDefined)
          bail("ENCODING on character string input") // keep raw → loud
        s"graft_decode(($inner), '${charsetOf(m.group(2))}')"
      case Some(m) =>
        s"CAST((${tws(e0.substring(0, m.start))}) AS STRING)"
      case None =>
        // bare binary (X'..' hex literal) defaults to FORMAT JSON UTF-8
        if (e0.matches(s"(?s)^[Xx]\\s*${SqlLex.LitP}$$"))
          s"CAST(($e0) AS STRING)"
        else e0
    }
  }
}

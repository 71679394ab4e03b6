package graft.sqlcompat

import scala.util.matching.Regex

/** The reference dialect's lexical rules, in one place (grammar
  * `SqlBase.g4` STRING, QUOTED_IDENTIFIER, SIMPLE_COMMENT and
  * BRACKETED_COMMENT):
  *
  *   - `'…'` string literals, `''` escapes a quote;
  *   - `"…"` quoted identifiers, `""` escapes a quote;
  *   - `-- …` line comments and `/* … */` block comments.
  *
  * [[mask]] lexes a statement once into canonical text, where every
  * such token is a sentinel: a kind mark ([[Lit]], [[Ident]],
  * [[Comment]]), the token's index, then [[End]]. The marks are
  * private-use characters above U+0020 (String.trim keeps them) and
  * contain no SQL punctuation, so a regex pass over canonical text
  * can neither read nor rewrite what a token holds.
  *
  * The structural helpers skip every token, so they give the same
  * answer on raw text and on canonical text (except [[openParen]],
  * which scans backward and so needs canonical text).
  */
private[sqlcompat] object SqlLex {

  final val Lit = '\uE001'
  final val Ident = '\uE002'
  final val Comment = '\uE003'
  final val End = '\uE004'

  /** Regex for one string-literal sentinel. */
  final val LitP = "\uE001\\d+\uE004"
  /** Regex for one string-literal sentinel; group 1 is its index. */
  final val LitIdx = "\uE001(\\d+)\uE004"
  /** Regex for one identifier sentinel; group 1 is its index. */
  final val IdentIdx = "\uE002(\\d+)\uE004"
  private val anyRe = "[\uE001-\uE003](\\d+)\uE004".r

  def isSentinel(c: Char): Boolean = c >= Lit && c <= End

  // ---- compiled-regex cache ----------------------------------------
  // translate() chains ~70 passes, many of which used to compile their
  // patterns per CALL (`"...".r` is Pattern.compile every time) — the
  // dominant share of the ~0.6 ms/query translate floor the Isolate
  // pins kept hitting. The dialect's patterns route through this
  // process-wide cache; a nested object delays the map's own
  // initialization past the enclosing object's val-order.
  private object ReCache {
    val m = new java.util.concurrent.ConcurrentHashMap[String, Regex]()
  }
  private[sqlcompat] def cre(p: String): Regex = {
    var r = ReCache.m.get(p)
    if (r == null) { r = new Regex(p); ReCache.m.put(p, r) }
    r
  }

  /** `s.replaceAll(p, r)` with the compiled pattern cached — identical
    * Matcher.replaceAll semantics ($-group references, \\ escapes). */
  private[sqlcompat] def repAll(s: String, p: String, r: String): String =
    cre(p).replaceAllIn(s, r)

  /** End (exclusive) of the literal, quoted identifier or comment that
    * starts at `i`; `i` itself when none starts there. An unterminated
    * literal or comment runs to the end of the text; an unterminated
    * `"` is not a token (Spark rejects it). */
  def skip(s: String, i: Int): Int = s.charAt(i) match {
    case q @ ('\'' | '"') =>
      var j = i + 1
      var end = -1
      while (end < 0 && j < s.length) {
        if (s.charAt(j) != q) j += 1
        else if (j + 1 < s.length && s.charAt(j + 1) == q) j += 2
        else end = j + 1
      }
      if (end >= 0) end else if (q == '\'') s.length else i
    case '-' if s.startsWith("--", i) =>
      val nl = s.indexOf('\n', i)
      if (nl < 0) s.length else nl + 1
    case '/' if s.startsWith("/*", i) =>
      val e = s.indexOf("*/", i + 2)
      if (e < 0) s.length else e + 2
    case _ => i
  }

  /** A statement lexed into canonical text plus its token table. */
  final class Lexed private[SqlLex] (raw: String) {
    private val toks = scala.collection.mutable.ArrayBuffer[String]()

    val text: String = {
      val sb = new StringBuilder(raw.length)
      var i = 0
      while (i < raw.length) {
        val j = skip(raw, i)
        if (j > i) { sb ++= add(raw.substring(i, j)); i = j }
        else { sb += raw.charAt(i); i += 1 }
      }
      sb.toString
    }

    private def add(tok: String): String = {
      toks += tok
      val mark = tok.charAt(0) match {
        case '\'' => Lit
        case '"' => Ident
        case _ => Comment
      }
      s"$mark${toks.length - 1}$End"
    }

    /** A new string-literal sentinel holding `content`. */
    def lit(content: String): String = add("'" + content.replace("'", "''") + "'")

    /** The raw token (quotes included) behind sentinel index `i`. */
    def token(i: Int): String = toks(i)

    /** Unquoted, unescaped content of literal or identifier `i`. */
    def value(i: Int): String = {
      val t = toks(i)
      val q = t.charAt(0).toString
      t.substring(1, t.length - (if (t.length > 1 && t.endsWith(q)) 1 else 0))
        .replace(q + q, q)
    }

    /** Replace every sentinel in `s` with its token, in Spark's
      * spelling: a literal keeps its text with each backslash doubled
      * (the reference has no backslash escapes, Spark's parser does),
      * an identifier becomes a backtick identifier with any inner
      * backtick doubled, and a comment is restored verbatim (a line
      * comment that ended the text gains its newline, so text a pass
      * appended after it stays code). */
    def restore(s: String): String = anyRe.replaceAllIn(s, m => {
      val i = m.group(1).toInt
      val t = toks(i)
      val out = t.charAt(0) match {
        case '\'' => t.replace("\\", "\\\\")
        case '"' => "`" + value(i).replace("`", "``") + "`"
        case _ => if (t.startsWith("--") && !t.endsWith("\n")) t + "\n" else t
      }
      Regex.quoteReplacement(out)
    })
  }

  def mask(sql: String): Lexed = new Lexed(sql)

  /** The name a possibly double-quoted identifier spells. */
  def identName(s: String): String = {
    val l = mask(s.trim)
    if (l.text.matches(IdentIdx)) l.value(0) else s.trim
  }

  /** Index of the ')' matching the '(' at `open`. */
  def closeParen(s: String, open: Int): Int = {
    var depth = 0
    var i = open
    while (i < s.length) {
      val j = skip(s, i)
      if (j > i) i = j
      else {
        val c = s.charAt(i)
        if (c == '(') depth += 1
        else if (c == ')') { depth -= 1; if (depth == 0) return i }
        i += 1
      }
    }
    throw new IllegalArgumentException(s"unbalanced parentheses in: $s")
  }

  /** Index of the innermost '(' still open at `pos` — for a ')' at
    * `pos`, its matching '('; -1 when none is open. The scan runs
    * backward, where a line comment cannot be told from code: callers
    * pass canonical text, in which comments are sentinels. */
  def openParen(s: String, pos: Int): Int = {
    var depth = 0
    var i = pos - 1
    while (i >= 0) {
      s.charAt(i) match {
        // a quoted token's escapes pair up, so the previous quote of
        // the same kind is its start (or an escape's end, then start)
        case q @ ('\'' | '"') => i = s.lastIndexOf(q, i - 1)
        case '/' if i > 0 && s.charAt(i - 1) == '*' => i = s.lastIndexOf("/*", i - 2)
        case ')' => depth += 1
        case '(' => if (depth == 0) return i else depth -= 1
        case _ =>
      }
      i -= 1
    }
    -1
  }

  /** Split on `sep` at paren and bracket depth 0. */
  def splitTopLevel(s: String, sep: Char): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0
    var start = 0
    var i = 0
    while (i < s.length) {
      val j = skip(s, i)
      if (j > i) i = j
      else {
        s.charAt(i) match {
          case '(' | '[' => depth += 1
          case ')' | ']' => depth -= 1
          case c if c == sep && depth == 0 => out += s.substring(start, i); start = i + 1
          case _ =>
        }
        i += 1
      }
    }
    out += s.substring(start)
    out.result()
  }

  /** End of the clause starting at `from`: the first paren-depth-0
    * word start where `stop` matches, the ')' that closes the
    * enclosing group, or the end of the text. */
  def clauseEnd(s: String, stop: Regex, from: Int): Int = {
    val m = stop.pattern.matcher(s)
    var depth = 0
    var i = from
    while (i < s.length) {
      val j = skip(s, i)
      if (j > i) i = j
      else {
        val c = s.charAt(i)
        if (c == '(') depth += 1
        else if (c == ')') { if (depth == 0) return i; depth -= 1 }
        else if (depth == 0 && c.isLetter && (i == 0 || !isWord(s.charAt(i - 1))) &&
          m.region(i, s.length).lookingAt()) return i
        i += 1
      }
    }
    s.length
  }

  /** First paren-depth-0 word start at or after `from` where `kw`
    * matches, before the enclosing group closes; -1 if none. */
  def topLevelIndexOf(s: String, kw: Regex, from: Int = 0): Int = {
    val i = clauseEnd(s, kw, from)
    if (i < s.length && s.charAt(i) != ')') i else -1
  }

  /** The ')' that closes the group enclosing `from`, or the end of
    * the text. */
  def groupEnd(s: String, from: Int): Int = clauseEnd(s, noKeyword, from)
  private val noKeyword = "(?!)".r

  /** Last paren-depth-0 word start in [`from`, `until`) where `kw`
    * matches; -1 if none. */
  def lastTopLevelIndexOf(s: String, kw: Regex, from: Int, until: Int): Int = {
    var last = -1
    var i = topLevelIndexOf(s, kw, from)
    while (i >= 0 && i < until) { last = i; i = topLevelIndexOf(s, kw, i + 1) }
    last
  }

  /** Positions of the `?` parameter markers. */
  def paramPositions(s: String): Seq[Int] = {
    val b = Seq.newBuilder[Int]
    var i = 0
    while (i < s.length) {
      val j = skip(s, i)
      if (j > i) i = j
      else { if (s.charAt(i) == '?') b += i; i += 1 }
    }
    b.result()
  }

  private def isWord(c: Char): Boolean = c.isLetterOrDigit || c == '_'
}

package graft.sqlcompat

import scala.util.chaining._

import SqlLex.{LitIdx, LitP, closeParen, cre, openParen, repAll, splitTopLevel}

/** Reference-dialect → Spark SQL translation (SURVEY §7.1 `sqlcompat`):
  * lets a user of the reference engine run their existing SQL against
  * this engine. The input is the reference dialect, not Spark SQL: the
  * function renames rewrite calls that Spark also spells, with the
  * reference's meaning (`split(`, `substr(`, `greatest(`, `repeat(`,
  * `format(` and others), so a valid Spark query can change meaning
  * here. Covers function renames, cast-type spellings, operator sugar
  * and the relation-level forms (UNNEST, TABLESAMPLE, OFFSET / FETCH);
  * every rewrite matches whole words outside string literals.
  *
  * Rename table sources: reference function inventory in
  * `metadata/SystemFunctionBundle.java:350` vs Spark's
  * FunctionRegistry; type names from `SqlBase.g4` vs Spark DDL.
  */
object Dialect {

  /** Simple function renames (reference name → Spark name): same arity
    * and argument order on both sides, so a plain name rewrite is safe.
    * Anything needing argument surgery lives in the call-translation
    * pass below; reference functions with no sound Spark mapping (e.g.
    * numeric `truncate`) are deliberately absent and pass through
    * untouched so Spark reports them as unresolved. */
  private val renames: Seq[(String, String)] = Seq(
    // keep the reference spelling: the registered approx_distinct
    // (CompatAliases) carries the reference's 2.3% default standard
    // error — renaming onto Spark's approx_count_distinct builtin
    // would silently degrade to its 5% default
    "approx_distinct" -> "approx_distinct",
    "strpos" -> "instr",
    "split_to_map" -> "str_to_map", // same (text, entryDelim, kvDelim) order
    "codepoint" -> "ascii",
    // json_extract / json_extract_scalar keep their registered UDFs
    // (CompatAliases → jsonQuery/jsonValue): get_json_object would
    // return container text from json_extract_scalar, where the
    // reference returns NULL for any non-scalar (TestJsonFunctions)
    "bitwise_left_shift" -> "shiftleft",
    "bitwise_right_shift" -> "shiftrightunsigned", // reference shift is logical
    "bitwise_right_shift_arithmetic" -> "shiftright",
    "json_array_length" -> "json_array_length", // same
    "arbitrary" -> "any_value",
    // reference-contract central moments (CentralMoments.scala):
    // reference kurtosis is SAMPLE-adjusted excess kurtosis (Spark's
    // builtin is the population form — different value at every n)
    // and both return NULL below their n thresholds (3 / 4)
    "skewness" -> "graft_skewness",
    "kurtosis" -> "graft_kurtosis",
    // reference NULL contract: any NULL argument → NULL (Spark's
    // builtins skip nulls) — see CompatAliases graft_greatest
    "greatest" -> "graft_greatest",
    "least" -> "graft_least",
    "listagg" -> "listagg", // Spark 4 native
    "array_join" -> "array_join", // same
    "cardinality" -> "cardinality", // same
    "log" -> "log", // same signature (base, x)
    // keep the reference spelling: the registry's is_nan propagates
    // NULL; Spark's isnan(NULL) is false
    "is_nan" -> "is_nan",
    "regexp_like" -> "regexp_like", // same in Spark 3.2+
    "now" -> "current_timestamp",
    // reference repeat(element, count) builds an ARRAY (ArrayFunctions
    // repeat); Spark's builtin repeat is string-repetition, so the
    // reference spelling must route to array_repeat
    "repeat" -> "array_repeat",
    // format() (FormatFunction.java) is printf over java.util.Formatter
    // — exactly Spark's format_string
    "format" -> "format_string",
    // zip pads the shorter arrays with NULL in both engines; the
    // reference returns rows, Spark structs (positionally identical)
    "zip" -> "arrays_zip",
    // reference split takes a LITERAL delimiter (SplitFunction.java);
    // Spark's builtin takes a regex — graft_split escapes it
    "split" -> "graft_split",
    // reference substr(s, 0[, n]) is '' (StringFunctions.java substr:
    // `if (start == 0) return EMPTY`); Spark treats 0 as position 1
    "substr" -> "graft_substr",
    "substring" -> "graft_substr",
    // reference regexp_extract defaults to group 0 and yields NULL on
    // no-match / non-participating groups (Spark: group 1 and '');
    // 2-arg regexp_replace deletes matches
    "regexp_extract" -> "graft_regexp_extract",
    "regexp_replace" -> "graft_regexp_replace",
    "format_datetime" -> "format_datetime") // our Joda-compat UDF

  private val typeRenames: Seq[(String, String)] = Seq(
    "varbinary" -> "binary",
    "real" -> "float",
    "varchar" -> "string",
    "json" -> "string",
    "uuid" -> "string",
    "ipaddress" -> "string",
    "tdigest" -> "binary", // serialized sketches ARE binary here
    "qdigest" -> "binary",
    "setdigest" -> "binary",
    "hyperloglog" -> "binary",
    "time" -> "bigint") // TIME emulated as nanos-of-day

  /** Rename a single reference type spelling to its Spark type —
    * passes that emit CAST text AFTER the rename pass
    * (SQL/JSON clauses, constructor RETURNING) call this to stay
    * consistent with it. Length parameters drop with the rename
    * (`string(255)` does not parse; Spark's string is unbounded). */
  private[sqlcompat] def renameType(t0: String): String = {
    var t = t0
    for ((from, to) <- typeRenames if from != to) {
      t = repAll(t, s"(?i)^$from\\s*\\(\\s*\\d+(\\s*,\\s*\\d+)?\\s*\\)$$", to)
      t = repAll(t, s"(?i)^$from$$", to)
    }
    t
  }

  // ---- CHAR comparison semantics (PAD SPACE) -----------------------
  // The reference compares CHAR values padded to the common length
  // with spaces (TestCharOperators.java; SQL PAD SPACE), while this
  // engine erases CHAR to unbounded STRING (SURVEY §1.3) — so 'a' and
  // 'a ' must compare equal, and 'abc\0' < 'abc' (the '\0' sorts below
  // the implicit pad space). CHAR operands are only ever statically
  // visible here (table columns are parquet strings), so the pad
  // semantics apply where a comparison / BETWEEN / IS [NOT] DISTINCT
  // FROM has a syntactic CHAR cast or CHAR literal operand: both sides
  // wrap in rpad(x, greatest(char_length(x), char_length(y))) — NULLs
  // stay NULL through rpad, preserving 3VL. Rewrites that match the
  // operand shapes but carry NO CHAR operand are emitted verbatim.
  // CHAR cast over a paren-free source (a literal, NULL, a column, or
  // a concatenation of those) — nested calls inside the cast are out
  // of scope and pass through untouched (safe-by-omission)
  // left boundary + optional TRY_ prefix: without them the pattern
  // matched the CAST(...) suffix INSIDE TRY_CAST(...), leaving a
  // dangling `TRY_` outside the rpad() wrap — invalid SQL
  private val charCastP =
    "(?<![A-Za-z0-9_])(?:TRY_)?CAST\\s*\\(\\s*[^()]+?\\s+AS\\s+CHAR(?:\\s*\\(\\s*\\d+\\s*\\))?\\s*\\)"
  private val charLitP = s"CHAR\\s*$LitP"
  // bare column identifier — keyword-guarded so CASE ... END or a
  // boolean keyword can never be mistaken for a comparison operand
  private val identP =
    "(?!(?i:END|NULL|TRUE|FALSE|CASE|WHEN|THEN|ELSE|AND|OR|NOT|BETWEEN|IS|" +
      "IN|LIKE|SELECT|FROM|WHERE|GROUP|ORDER|HAVING|ON|JOIN|UNION|ALL|" +
      "DISTINCT|AS|CAST|CHAR)\\b)[A-Za-z_][A-Za-z0-9_.]*"
  private val charOperandRe = cre(s"(?i)^(?:$charCastP|$charLitP)$$")
  private val anyOperandP = s"(?:$charCastP|$charLitP|$LitP|NULL|$identP)"
  private val charGuardRe = cre(s"(?i)AS\\s+CHAR\\b|\\bCHAR\\s*$LitP")
  // adjacency guards: an operand that is itself part of a larger
  // expression (`'p' || CAST(… AS CHAR(2)) = x`) must not be wrapped —
  // `||`/arithmetic bind tighter than comparison
  private val preGuard = "(?<![|+\\-*/%]\\s{0,20})"
  private val postGuard = "(?!\\s{0,20}[|+\\-*/%])"
  private val charBetweenRe =
    cre(s"(?i)$preGuard($anyOperandP)\\s+(NOT\\s+)?BETWEEN\\s+($anyOperandP)\\s+AND\\s+($anyOperandP)$postGuard")
  private val charDistinctRe =
    cre(s"(?i)$preGuard($anyOperandP)\\s+IS\\s+(NOT\\s+)?DISTINCT\\s+FROM\\s+($anyOperandP)$postGuard")
  private val charCmpRe =
    cre(s"(?i)$preGuard($anyOperandP)\\s*(=|<>|!=|<=|>=|<|>)\\s*($anyOperandP)$postGuard")

  private def charComparePass(sql: String): String = {
    if (charGuardRe.findFirstIn(sql).isEmpty) return sql
    def isChar(s: String) = charOperandRe.findFirstIn(s.trim).isDefined
    // coalesce(char_length, 0): this pass runs BEFORE the rename stage,
    // so the emitted greatest becomes graft_greatest (reference NULL
    // contract: any NULL argument → NULL) — a NULL operand must not
    // NULL the other side's pad length (IS DISTINCT FROM is
    // null-sensitive; rpad(NULL, …) is NULL regardless)
    def pad(a: String, b: String) =
      s"rpad($a, greatest(coalesce(char_length($a), 0), coalesce(char_length($b), 0)))"
    var out = sql
    out = charBetweenRe.replaceAllIn(out, m => {
      val (v, lo, hi) = (m.group(1), m.group(3), m.group(4))
      val not = Option(m.group(2)).getOrElse("")
      if (!(isChar(v) || isChar(lo) || isChar(hi))) q(m.matched)
      else {
        val cmp = s"(${pad(v, lo)} >= ${pad(lo, v)} AND ${pad(v, hi)} <= ${pad(hi, v)})"
        q(if (not.nonEmpty) s"(NOT $cmp)" else cmp)
      }
    })
    out = charDistinctRe.replaceAllIn(out, m => {
      val (a, b) = (m.group(1), m.group(3))
      val not = Option(m.group(2)).getOrElse("")
      if (!(isChar(a) || isChar(b))) q(m.matched)
      else q(s"(${pad(a, b)} IS ${not}DISTINCT FROM ${pad(b, a)})")
    })
    charCmpRe.replaceAllIn(out, m => {
      val (a, op, b) = (m.group(1), m.group(2), m.group(3))
      if (!(isChar(a) || isChar(b))) q(m.matched)
      else q(s"(${pad(a, b)} $op ${pad(b, a)})")
    })
  }

  private def q(s: String): String = java.util.regex.Matcher.quoteReplacement(s)

  /** Trim spaces, tabs and line breaks only. */
  private def ws(x: String): String = repAll(x, "^[ \\t\\r\\n]+|[ \\t\\r\\n]+$", "")

  /** Translate a reference-dialect SQL string to Spark SQL. String
    * literals are preserved verbatim; identifiers are rewritten only
    * on whole-word match (case-insensitive) when followed by `(` for
    * functions, or inside CAST(... AS <type>) for types.
    *
    * One lexer ([[SqlLex]]): the statement is lexed ONCE into
    * canonical text, where every string literal, double-quoted
    * identifier and comment is a sentinel, and every pass below runs
    * over that text — no pass re-lexes the statement or guards quotes
    * on its own, so none can read or rewrite a literal's, an
    * identifier's or a comment's content. Passes that need a literal's
    * value look it up by the sentinel's index, and passes that emit a
    * literal mint a new sentinel. After the last pass every sentinel
    * restores verbatim: literals with each backslash doubled,
    * identifiers as Spark backtick identifiers, comments as written.
    * A ScalaCheck property (PropertiesSpec) pins that translate()
    * never alters literal or quoted-identifier content for arbitrary
    * queries, with comments anywhere between them. */
  def translate(sql: String): String = {
    val lex = SqlLex.mask(sql)
    lex.restore(constructorPass(renamePass(literalPass(
      charComparePass(normalizePass(lex.text, lex)), lex)), lex))
  }

  /** normalize(): the standard's form argument is a BARE keyword
    * (normalize(x, NFD)) and the one-arg form defaults to NFC — quote
    * / supply it for the registered (string, form) UDF. */
  private def normalizePass(sql: String, lex: SqlLex.Lexed): String = {
    val two = cre("(?i)\\bnormalize\\s*\\(([^()]*?),\\s*(NFC|NFD|NFKC|NFKD)\\s*\\)")
    val one = cre("(?i)\\bnormalize\\s*\\(([^(),]*)\\)")
    one.replaceAllIn(
      two.replaceAllIn(sql, m => q(s"normalize(${m.group(1)}, ${lex.lit(m.group(2))})")),
      m => q(s"normalize(${m.group(1)}, ${lex.lit("NFC")})"))
  }

  private val units = Set("millisecond", "second", "minute", "hour",
    "day", "week", "month", "quarter", "year")
  private val dayOrCoarser = Set("day", "week", "month", "quarter", "year")
  // operand of `x AT TIME ZONE 'zone'`: a call, an identifier, or one
  // parenthesized group — none reaching across a string literal
  private val atTzRe = cre(("(?i)([A-Za-z_][A-Za-z0-9_.]*\\s*\\([^()\uE001]*\\)|" +
    s"[A-Za-z_][A-Za-z0-9_.]*|\\([^()\uE001]*\\))\\s+AT\\s+TIME\\s+ZONE\\s*($LitP)"))
  // \b anchor: without it an identifier ending in ...timestamp (e.g.
  // `my_timestamp TIMESTAMP '…' AT TIME ZONE …`) would match and be
  // mangled into `my_from_utc_timestamp(timestamp …`.
  private val atTzLitRe = cre(s"(?i)\\b(TIMESTAMP|DATE)\\s*($LitP)\\s*AT\\s+TIME\\s+ZONE\\s*($LitP)")
  private val zonedLitRe = cre(("^'(\\d{4}-\\d{2}-\\d{2}[ T]\\d{2}:\\d{2}(:\\d{2}(\\.\\d+)?)?)\\s+" +
    "([A-Za-z][A-Za-z0-9_+\\-]*(?:/[A-Za-z0-9_+\\-]+)+|UTC|[+-]\\d{2}:\\d{2})'$"))
  // group 1: the type keyword and its spacing, 2: the keyword, 3: the
  // literal's index. The one-letter lookahead rejects most word starts
  // before the keyword alternation is tried.
  private val typedLitRe = cre(("(?i)\\b(?=[bcdijrstuv])((REAL|DECIMAL|VARCHAR|CHAR|TINYINT|" +
    s"SMALLINT|INTEGER|BIGINT|DOUBLE|BOOLEAN|TIME|DATE|UUID|IPADDRESS|JSON)\\s*)$LitIdx"))
  private val uuidBinCastRe = cre(("(?i)\\b(?:TRY_)?CAST\\s*\\(\\s*(UUID|IPADDRESS)\\s*" +
    s"$LitIdx\\s*AS\\s+VARBINARY\\s*\\)"))
  private val returningRe = cre(("(?i)\\b(json_value|json_query)(\\s*\\(\\s*[^()]*" +
    s"$LitP)\\s*RETURNING\\s+([A-Za-z0-9_]+(?:\\s*\\(\\s*\\d+(?:\\s*,\\s*\\d+)?" +
    "\\s*\\))?)\\s*\\)"))

  /** Rewrites that read or replace a string literal, each a regex over
    * canonical text that names the literal's sentinel. */
  private def literalPass(sql: String, lex: SqlLex.Lexed): String = {
    if (sql.indexOf(SqlLex.Lit) < 0) return sql
    def body(idx: String): String = {
      val t = lex.token(idx.toInt)
      t.substring(1, t.length - 1)
    }
    // each rewrite runs only when its keyword is in the statement
    val lower = sql.toLowerCase
    var out = sql
    def when(kw: String)(rewrite: String => String): Unit =
      if (lower.contains(kw)) out = rewrite(out)
    // Reference datetime calls whose FIRST argument is a quoted unit
    // literal — date_diff('day', a, b) → end-start in units ≡ Spark
    // timestampdiff(DAY, a, b). date_add('hour', n, ts) ≡
    // timestampadd(HOUR, n, ts) for sub-day units; day-or-coarser units
    // route to our graft_date_add expression instead, because the
    // reference returns DATE for DATE inputs while Spark's timestampadd
    // always widens to TIMESTAMP (graft_date_add preserves the input
    // type — functions/TrinoDateAdd.scala).
    when("date_")(cre(s"(?i)\\b(date_diff|date_add)(\\s*\\(\\s*)$LitIdx").replaceAllIn(_, m => {
      val fn = m.group(1).toLowerCase
      val unit = body(m.group(3)).toLowerCase
      q(if (!units(unit)) m.matched
        else if (fn == "date_add" && dayOrCoarser(unit))
          // keep the unit as a string literal; graft_date_add takes it
          "graft_date_add" + m.matched.substring(fn.length)
        else (if (fn == "date_diff") "timestampdiff" else "timestampadd") +
          m.group(2) + unit.toUpperCase) // bare unit identifier
    }))

    // `expr AT TIME ZONE 'zone'` (reference grammar `SqlBase.g4:482`
    // AT_TIMEZONE) → from_utc_timestamp(expr, 'zone'), which renders
    // the instant on the zone's wall clock (the session zone is UTC);
    // the zone id itself is not carried (SURVEY §1.3 type-loss note).
    // Documented limitation: operands with nested parens or embedded
    // string literals (e.g. `date_trunc('day', ts) AT TIME ZONE 'X'`)
    // do NOT match — the expression passes through untranslated and
    // Spark rejects the AT TIME ZONE syntax loudly (asserted in
    // DialectSpec), which is safe-by-failure rather than a silent
    // mistranslation. A datetime-literal operand (`TIMESTAMP '…' AT
    // TIME ZONE '…'`) has its own form.
    when("zone")(atTzRe.replaceAllIn(_, "from_utc_timestamp($1, $2)"))
    when("zone")(atTzLitRe.replaceAllIn(_, "from_utc_timestamp($1 $2, $3)"))

    // Zone-suffixed TIMESTAMP literals (the reference's TIMESTAMP WITH
    // TIME ZONE literal form, `TIMESTAMP '2017-01-02 09:12:34.123
    // Europe/Warsaw'` — AbstractDistributedEngineOnlyQueries
    // testTimestampWithTimeZoneLiteralsWithDifferentZone): Spark cannot
    // parse the zone suffix. Consistent with at_timezone /
    // with_timezone's documented instant-only degradation (SURVEY
    // §1.3), the literal denotes its INSTANT —
    // to_utc_timestamp(TIMESTAMP '<dt>', '<zone>'); zone-PRESERVING
    // values use the TimestampTz struct emulation explicitly.
    when("timestamp")(cre(s"(?i)\\bTIMESTAMP\\s*$LitIdx").replaceAllIn(_, m =>
      q(zonedLitRe.findFirstMatchIn(lex.token(m.group(1).toInt)) match {
        case Some(zm) =>
          s"to_utc_timestamp(TIMESTAMP ${lex.lit(zm.group(1))}, ${lex.lit(zm.group(4))})"
        case None => m.matched
      })))

    // Typed literals Spark lacks (grammar `SqlBase.g4` typeConstructor;
    // reference types REAL and DECIMAL): `REAL '1.0'` →
    // `CAST('1.0' AS FLOAT)`; `DECIMAL '2.0'` → CAST to the
    // decimal type the reference infers FROM THE LITERAL — precision =
    // digit count, scale = digits after the point (SqlBase: decimal
    // literal typing). `VARCHAR 'x'` → CAST AS STRING; the integer
    // family (`SMALLINT '3'` etc.) → CAST to the named type. DOUBLE
    // 'x' too: Spark's typed-literal grammar only covers
    // date/time/interval/binary, not numerics.
    // value-form VARBINARY cast of a UUID / IPADDRESS typed literal
    // folds to the 16-byte hex literal here (constant, VALUES-safe) —
    // reference TestUuidOperators/TestIpAddressOperators varbinary
    // rows expect the value bytes, not text bytes
    when("varbinary")(uuidBinCastRe.replaceAllIn(_, m => {
      val b = body(m.group(2))
      val bytes =
        if (m.group(1).equalsIgnoreCase("UUID"))
          graft.functions.UuidIpCompat.uuidBytes(graft.functions.UuidIpCompat.uuidCanon(b))
        else graft.functions.UuidIpCompat.ipBytes(graft.functions.UuidIpCompat.ipCanon(b))
      q("X" + lex.lit(bytes.map(x => f"${x & 0xff}%02X").mkString))
    }))
    out = typedLitRe.replaceAllIn(out, m => {
      val lit = m.matched.substring(m.group(1).length)
      val b = body(m.group(3))
      val rewritten: String = m.group(2).toUpperCase match {
        case "JSON" =>
          // JSON 'x' literal → validated canonical JSON text on the
          // JSON↦VARCHAR mapping (invalid literals raise, like the
          // reference's INVALID_LITERAL); folded at runtime by
          // ConstantFolding since json_parse is deterministic
          s"json_parse($lit)"
        case "TIME" =>
          // TIME 'H:mm:ss[.f…]' literal → the engine's nanos-of-day
          // BIGINT convention, folded here (it is a constant).
          // Zoned forms (TIME '… +05:00') pass through untouched for
          // the TimestampTz emulation layer / fail-loud path.
          cre("^(\\d{1,2}):(\\d{2})(?::(\\d{2}))?(\\.\\d+)?$").findFirstMatchIn(b.trim) match {
            case Some(g) =>
              val h = g.group(1).toLong; val mi = g.group(2).toLong
              val s = Option(g.group(3)).map(_.toLong).getOrElse(0L)
              val frac = Option(g.group(4))
                .map(f => (f.drop(1).padTo(9, '0').take(9)).toLong).getOrElse(0L)
              val nanos = ((h * 3600 + mi * 60 + s) * 1000000000L) + frac
              s"CAST($nanos AS BIGINT)"
            case None => m.matched
          }
        case "DATE" =>
          // reference DATE literals allow 1+ year digits with
          // leading zeros (type/TestDate.java: DATE '13-2-2' →
          // 0013-02-02, '02013-02-02' → 2013) and surrounding
          // whitespace; Spark's parser requires a 4-digit year, so
          // canonicalize here. Invalid calendar dates raise at
          // translate time like the reference's INVALID_LITERAL.
          // Shapes outside the y-m-d form (3-digit months, intra
          // whitespace, huge years) pass through for Spark to judge.
          cre("^(\\d{1,5})-(\\d{1,2})-(\\d{1,2})$").findFirstMatchIn(b.trim)
            .map(g => (g.group(1).replaceFirst("^0+(?=\\d)", ""), g))
            .filter(_._1.length <= 4) match {
            case Some((y, g)) =>
              val (yi, mo, dy) = (y.toInt, g.group(2).toInt, g.group(3).toInt)
              try java.time.LocalDate.of(yi, mo, dy)
              catch {
                case _: java.time.DateTimeException =>
                  throw new IllegalArgumentException(
                    s"'$b' is not a valid date literal")
              }
              m.group(1) + lex.lit(f"$yi%04d-$mo%02d-$dy%02d")
            case None => m.matched
          }
        case kw @ ("UUID" | "IPADDRESS") =>
          // string-emulated types canonicalize AT TRANSLATE TIME
          // (lowercase UUID / RFC 5952 IPADDRESS — UuidIpCompat):
          // the operand IS a literal, and folding it here keeps the
          // result usable inside VALUES inline tables, where UDF
          // calls are not evaluable. Invalid literals raise like the
          // reference's INVALID_LITERAL.
          lex.lit(
            if (kw == "UUID") graft.functions.UuidIpCompat.uuidCanon(b)
            else graft.functions.UuidIpCompat.ipCanon(b))
        case kw =>
          val target = kw match {
            case "REAL" => "FLOAT"
            case "VARCHAR" | "CHAR" => "STRING"
            case "TINYINT" | "SMALLINT" | "INTEGER" | "BIGINT" | "DOUBLE" |
                 "BOOLEAN" => kw
            case _ =>
              val digits = b.count(_.isDigit)
              val dot = b.indexOf('.')
              val scale = if (dot < 0) 0 else b.length - dot - 1
              s"DECIMAL(${math.max(digits, 1)}, $scale)"
          }
          s"CAST($lit AS $target)"
      }
      q(rewritten)
    })

    // SQL/JSON 2016 RETURNING clause (grammar `SqlBase.g4:540-563`):
    // json_value(x, 'path' RETURNING t) → TRY_CAST(json_value(x,
    // 'path') AS t); the rename pass below then maps reference type
    // spellings (varchar→string …). Only the simple trailing-RETURNING
    // form is handled; ON EMPTY / ON ERROR clauses pass through for
    // SqlJsonClauses. TRY_CAST, not CAST: a RETURNING cast failure is
    // the reference's ON ERROR condition, whose default is NULL
    // (TestJsonValueFunction: 'lax 1000' RETURNING tinyint → NULL,
    // never a wrapped value or an ANSI error)
    when("returning")(returningRe.replaceAllIn(_, m =>
      q(s"TRY_CAST(${m.group(1).toLowerCase}${m.group(2)}) AS ${m.group(3)})")))
    out
  }

  /** Function renames, operator sugar and type spellings: whole-word
    * regexes over canonical text. A character class that must not
    * reach across a string literal excludes its sentinel mark. */
  private def renamePass(sql: String): String = {
    var out = sql
    // cheap lowercase containment precheck before each rename
    // regex — queries use a handful of the ~60 renamable names, so
    // skipping the misses cuts most of the regex
    // executions; the lowered view refreshes only when a rename
    // actually fires (a fired rename can introduce later names)
    var lowered = out.toLowerCase
    for ((from, to) <- renames if from != to)
      if (lowered.contains(from)) {
        out = repAll(out, s"(?i)\\b$from\\s*\\(", s"$to(")
        lowered = out.toLowerCase
      }
    // zero-arg constants: consume the parens entirely
    out = repAll(out, "(?i)\\bnan\\s*\\(\\s*\\)", "double('NaN')")
    out = repAll(out, "(?i)\\binfinity\\s*\\(\\s*\\)", "double('Infinity')")
    // utf8 codecs: Spark's decode/encode require an explicit charset.
    // Conservative single-argument form (no nested parens/literals/
    // commas — the reference's two-arg from_utf8(x, repl) form passes
    // through untouched rather than mistranslating).
    out = repAll(out,
      "(?i)\\bfrom_utf8\\s*\\(([^(),'\uE001]*)\\)", "decode($1, 'UTF-8')")
    out = repAll(out,
      "(?i)\\bto_utf8\\s*\\(([^(),'\uE001]*)\\)", "encode($1, 'UTF-8')")
    // bitwise scalar fns → Spark's infix operators; operand groups
    // exclude commas so a malformed extra-arg call passes through
    // for Spark to reject instead of silently dropping arguments
    out = repAll(out,
      "(?i)\\bbitwise_and\\s*\\(([^(),'\uE001]+),([^(),'\uE001]+)\\)", "($1 & $2)")
    out = repAll(out,
      "(?i)\\bbitwise_or\\s*\\(([^(),'\uE001]+),([^(),'\uE001]+)\\)", "($1 | $2)")
    out = repAll(out,
      "(?i)\\bbitwise_xor\\s*\\(([^(),'\uE001]+),([^(),'\uE001]+)\\)", "($1 ^ $2)")
    out = repAll(out,
      "(?i)\\bbitwise_not\\s*\\(([^(),'\uE001]+)\\)", "~($1)")
    // EXTRACT field spellings: the reference's DOW/DAY_OF_WEEK are
    // ISO (Monday=1); Spark's DOW is Sunday=0, so both route to
    // DOW_ISO. Underscore spellings map onto Spark's field names.
    out = repAll(out,
      "(?i)\\bextract\\s*\\(\\s*(?:dow|day_of_week)\\s+from\\b",
      "extract(DOW_ISO FROM")
    out = repAll(out,
      "(?i)\\bextract\\s*\\(\\s*(?:doy|day_of_year)\\s+from\\b",
      "extract(DOY FROM")
    out = repAll(out,
      "(?i)\\bextract\\s*\\(\\s*day_of_month\\s+from\\b",
      "extract(DAY FROM")
    out = repAll(out,
      "(?i)\\bextract\\s*\\(\\s*(?:yow|year_of_week)\\s+from\\b",
      "extract(YEAROFWEEK FROM")
    // standard empty grouping set `GROUP BY ()` (reference grammar
    // groupingSet): Spark parses only the GROUPING SETS spelling
    out = repAll(out,
      "(?i)\\bGROUP\\s+BY\\s*\\(\\s*\\)", "GROUP BY GROUPING SETS (())")
    // bare NULL as a predicate (`WHERE NULL`): the reference types
    // it UNKNOWN and drops every row; Spark refuses the VOID
    // filter, so type it explicitly
    out = repAll(out,
      "(?i)\\b(WHERE|HAVING)\\s+NULL\\b(?!\\s*(IN|NOT|IS|=|<|>|\\+|-))",
      "$1 CAST(NULL AS BOOLEAN)")
    // CAST(x AS JSON) renders the VALUE as JSON text (see
    // castAsJsonPass) — shield it from the json→string rename
    // with a sentinel the pass consumes
    out = repAll(out, "(?i)\\bAS\\s+JSON\\s*\\)", "AS GRAFT_JSON_CAST)")
    // CAST(x AS UUID / IPADDRESS) canonicalize + validate on the
    // string emulation (castAsUuidIpPass) — shield from the
    // uuid/ipaddress→string renames with sentinels the pass eats
    out = repAll(out, "(?i)\\bAS\\s+UUID\\s*\\)", "AS GRAFT_UUID_CAST)")
    out = repAll(out, "(?i)\\bAS\\s+IPADDRESS\\s*\\)", "AS GRAFT_IP_CAST)")
    // length-parametric character casts carry VALUE semantics in
    // the reference (TestCharacterStringCasts): CAST AS VARCHAR(n)
    // truncates to n, CAST AS CHAR(n) truncates AND pads to n,
    // bare CHAR is CHAR(1) — materialized by castCharLenPass;
    // sentinels shield the length from the plain-erasure renames
    out = repAll(out, "(?i)\\bAS\\s+VARCHAR\\s*\\(\\s*(\\d+)\\s*\\)\\s*\\)",
      "AS GRAFT_VCAST_$1)")
    out = repAll(out, "(?i)\\bAS\\s+CHAR\\s*\\(\\s*(\\d+)\\s*\\)\\s*\\)",
      "AS GRAFT_CCAST_$1)")
    out = repAll(out, "(?i)\\bAS\\s+CHAR\\s*\\)", "AS GRAFT_CCAST_1)")
    lowered = out.toLowerCase
    for ((from, to) <- typeRenames if from != to)
      if (lowered.contains(from)) {
        // a length/precision parameter is dropped with the rename:
        // CAST(x AS VARCHAR(255)) → CAST(x AS string) — Spark's
        // string is unbounded, and `string(255)` does not parse
        out = repAll(out, s"(?i)\\bAS\\s+$from\\s*\\(\\s*\\d+\\s*\\)", s"AS $to")
        out = repAll(out, s"(?i)\\bAS\\s+$from\\b", s"AS $to")
        out = repAll(out, s"(?i)\\b$from\\s*'", s"$to '") // typed literals
        lowered = out.toLowerCase
      }
    // TRY(expr) → try_(...) has no direct generic form; map the
    // common arithmetic case TRY(a / b) → try_divide(a, b). The
    // denominator may be a single parenthesized group. Documented
    // divergence: on DOUBLE operands the reference's TRY is a
    // no-op (IEEE division never errors, so x/0e0 → ±Infinity/
    // NaN) while try_divide yields NULL; plain `/` on doubles DOES
    // carry the IEEE contract (plans/IeeeDoubleDivide.scala).
    out = repAll(out,
      "(?i)\\bTRY\\s*\\(\\s*([^()/,\uE001]+)/\\s*(\\([^()\uE001]*\\)|[^(),\uE001]+)\\s*\\)",
      "try_divide($1,$2)")
    // Quantified comparison predicates are handled whole-text by
    // quantifiedPass (constructorPass below): the r13 shortcuts
    // `= ANY` → IN and `<> ALL` → NOT IN were REMOVED because
    // Spark's IN/NOT IN (subquery) in a PROJECTION context yields
    // FALSE where the standard (and the reference) yield NULL —
    // the reference's own quantified-comparison corner-case
    // vectors caught this (ReferenceSqlVectorsSpec). The generic
    // CASE rewrite is null-correct in every context.
    out
  }

  /** Projected (value-context) IN-subquery: Spark plans `x IN (SELECT
    * …)` in a SELECT list as an ExistenceJoin, whose output is
    * 2-VALUED — rows that should yield NULL (no match but the subquery
    * has NULLs, or NULL lhs with a non-empty subquery) come out FALSE,
    * breaking SQL:2016 §8.4 three-valued semantics (the reference's
    * AbstractTestJoinQueries semi-join null-handling corpus pins this).
    * Lower value-context IN/NOT IN onto the quantified machinery
    * (`= ANY` / `<> ALL` → quantifiedPass's null-correct counting
    * CASE). FILTER-context INs (WHERE/HAVING/ON conjuncts) stay
    * NATIVE: under filter semantics NULL and FALSE both drop the row,
    * and Spark's semi/anti joins are the 100-TB-correct plan there —
    * only the value context pays the scalar-subquery price.
    *
    * Context detection (canonical text, literals sentineled): walk
    * backward from the IN at its own paren depth to the nearest clause
    * keyword; SELECT and (GROUP/ORDER) BY are value contexts, WHERE/
    * HAVING/ON/WHEN are filter contexts. */
  private val clauseKwRe =
    cre("(?i)(SELECT|BY|WHERE|HAVING|ON|WHEN|FROM|JOIN|THEN|ELSE)\\b")

  private def projectedInPass(canon0: String): String = {
    val re = cre("(?i)\\b(NOT\\s+)?IN\\s*\\(\\s*SELECT\\b")
    var out = canon0
    var guard = 0
    var from = 0
    while (guard < 64) {
      guard += 1
      val m = re.findFirstMatchIn(out.substring(from))
      if (m.isEmpty) return out
      val start = from + m.get.start
      // nearest preceding clause keyword at the SAME paren depth
      val at = SqlLex.lastTopLevelIndexOf(out, clauseKwRe, openParen(out, start) + 1, start)
      val clause =
        if (at < 0) null
        else clauseKwRe.findPrefixMatchOf(out.substring(at)).get.group(1).toUpperCase
      // THEN/ELSE are VALUE positions: the CASE result carries the IN's
      // NULL through (unlike WHEN, where NULL and FALSE both skip the
      // branch). The quantified rewrite is 3-valued-correct in every
      // context, so classify them as value even inside a WHERE — the
      // scalar-subquery price only hits this rare CASE-branch shape.
      if (clause == "SELECT" || clause == "BY" ||
          clause == "THEN" || clause == "ELSE") {
        val isNot = m.get.group(1) != null
        val open = out.indexOf('(', start)
        val rep = if (isNot) "<> ALL (" else "= ANY ("
        out = out.substring(0, start) + rep + out.substring(open + 1)
        from = start // quantified form starts here; skip past it
      } else from = start + m.get.group(0).length
    }
    out
  }

  /** A character of an identifier, qualified name or sentinel. */
  private def operandChar(c: Char): Boolean =
    c.isLetterOrDigit || c == '_' || c == '.' || SqlLex.isSentinel(c)

  /** General quantified comparison predicates `x op ALL|ANY|SOME
    * (subquery)` (grammar `SqlBase.g4` comparisonQuantifier). Spark
    * has no quantified syntax, so each form lowers onto a three-valued CASE
    * over counting scalar subqueries, reproducing SQL:2016 §8.9
    * exactly (replayed against the reference's own 72
    * quantified-comparison corner-case vectors in
    * ReferenceSqlVectorsSpec):
    *
    *   x op ALL (S) → TRUE when S is empty; NULL when x is NULL;
    *     FALSE when any non-null s fails `x op s`; NULL when no
    *     failure but S contains a NULL; else TRUE.
    *   x op ANY (S) → FALSE when S is empty; NULL when x is NULL;
    *     TRUE when any non-null s satisfies; NULL when no success but
    *     S contains a NULL; else FALSE.
    *
    * The subquery text is repeated across the CASE arms —
    * Catalyst's MergeScalarSubqueries/ReuseSubquery collapse the
    * duplicates, and uncorrelated forms execute as one-row scalar
    * subqueries, so the plan cost is one evaluation of S. The LHS
    * operand is captured textually: a parenthesized group (with an
    * optional function head, e.g. `CAST(...)`) or one
    * identifier/literal/number token. Anything else is left
    * untranslated for Spark to reject loudly. */
  private def quantifiedPass(canon0: String): String = {
    val re = cre("(?i)(<=|>=|<>|!=|=|<|>)\\s*(ALL|ANY|SOME)\\s*\\(")
    var out = canon0
    var guard = 0
    var m = re.findFirstMatchIn(out)
    while (m.isDefined && guard < 64) {
      guard += 1
      val mm = m.get
      val op = if (mm.group(1) == "<>") "!=" else mm.group(1)
      val quant = mm.group(2).toUpperCase match {
        case "SOME" => "ANY"; case q => q
      }
      val i = closeParen(out, mm.end - 1) + 1
      val sub = out.substring(mm.end, i - 1)
      // LHS operand: backward scan
      var e = mm.start
      while (e > 0 && out.charAt(e - 1).isWhitespace) e -= 1
      var s0 = e
      if (e > 0 && out.charAt(e - 1) == ')') {
        s0 = openParen(out, e - 1)
        while (s0 > 0 && (out.charAt(s0 - 1).isLetterOrDigit ||
          out.charAt(s0 - 1) == '_')) s0 -= 1
      } else {
        while (s0 > 0 && operandChar(out.charAt(s0 - 1))) s0 -= 1
      }
      // extend the captured operand left over an arithmetic chain
      // (`t.x + u.x > ALL (...)` — reference TestJoin
      // testQuantifiedComparisonInJoinCriteria); a keyword stops the
      // extension so `WHERE -x > ALL` does not swallow WHERE
      val kwStop = Set("WHERE", "ON", "AND", "OR", "NOT", "WHEN", "THEN",
        "ELSE", "SELECT", "BY", "HAVING", "SET", "CASE", "END", "IN",
        "BETWEEN", "LIKE", "IS", "ALL", "ANY", "SOME")
      var extend = true
      while (extend) {
        extend = false
        var p = s0
        while (p > 0 && out.charAt(p - 1).isWhitespace) p -= 1
        if (p > 0 && "+-*/%".indexOf(out.charAt(p - 1)) >= 0) {
          var p2 = p - 1
          while (p2 > 0 && out.charAt(p2 - 1).isWhitespace) p2 -= 1
          if (p2 > 0 && out.charAt(p2 - 1) == ')') {
            var s1 = openParen(out, p2 - 1)
            while (s1 > 0 && (out.charAt(s1 - 1).isLetterOrDigit ||
              out.charAt(s1 - 1) == '_')) s1 -= 1
            s0 = s1; extend = true
          } else if (p2 > 0 && {
            val c = out.charAt(p2 - 1)
            c.isLetterOrDigit || c == '_' || c == '.' || c == SqlLex.End
          }) {
            var s1 = p2
            while (s1 > 0 && operandChar(out.charAt(s1 - 1))) s1 -= 1
            val tok = out.substring(s1, p2).toUpperCase
            if (!kwStop(tok)) { s0 = s1; extend = true }
          }
        }
      }
      val lhs = out.substring(s0, e).trim
      require(lhs.nonEmpty,
        s"cannot capture the quantified-comparison operand in: $canon0")
      val nullB = "CAST(NULL AS BOOLEAN)"
      def cnt(extra: String) =
        s"(SELECT count(1) FROM ($sub) __qsub(__qc)$extra)"
      // constant-list fast path: `op ALL/ANY (VALUES <literals>)` with
      // no NULL literal lowers to a pure AND/OR chain — null-correct
      // (non-null constants, so only a NULL lhs is UNKNOWN) and legal
      // where correlated scalar subqueries are not, e.g. inside a JOIN
      // condition (reference TestJoin
      // testQuantifiedComparisonInJoinCriteria)
      val litTok = "(?:-?\\d+(?:\\.\\d+)?(?:[eE][+-]?\\d+)?|[\uE001\uE002]\\d+\uE004)"
      val constList: Option[Seq[String]] =
        if (sub.matches(s"(?is)^\\s*VALUES\\s+$litTok(\\s*,\\s*$litTok)*\\s*$$"))
          Some(splitTopLevel(
            repAll(sub, "(?is)^\\s*VALUES", ""), ',').map(_.trim))
        else None
      val rep = constList match {
        case Some(items) =>
          val join = if (quant == "ALL") " AND " else " OR "
          val body = items.map(c => s"(($lhs) $op $c)").mkString(join)
          s"(CASE WHEN ($lhs) IS NULL THEN $nullB ELSE ($body) END)"
        case None =>
        if (quant == "ALL")
          s"(CASE WHEN ${cnt("")} = 0 THEN TRUE" +
            s" WHEN ($lhs) IS NULL THEN $nullB" +
            s" WHEN ${cnt(s" WHERE NOT(($lhs) $op __qc)")} > 0 THEN FALSE" +
            s" WHEN ${cnt(" WHERE __qc IS NULL")} > 0 THEN $nullB" +
            " ELSE TRUE END)"
        else
          s"(CASE WHEN ${cnt("")} = 0 THEN FALSE" +
            s" WHEN ($lhs) IS NULL THEN $nullB" +
            s" WHEN ${cnt(s" WHERE ($lhs) $op __qc")} > 0 THEN TRUE" +
            s" WHEN ${cnt(" WHERE __qc IS NULL")} > 0 THEN $nullB" +
            " ELSE FALSE END)"
      }
      out = out.substring(0, s0) + rep + out.substring(i)
      m = re.findFirstMatchIn(out)
    }
    out
  }

  /** INNER-join ON conditions carrying an `IN (SELECT …)` subquery
    * (reference TestJoin testInPredicateInJoinCriteria — the subquery
    * may correlate to BOTH join inputs, which Spark's
    * RewritePredicateSubquery rejects inside a join predicate): for an
    * INNER join `A JOIN B ON cond` ≡ `A JOIN B ON true WHERE cond`, so
    * the whole condition relocates to the block's WHERE (Catalyst
    * pushes the non-subquery conjuncts straight back into the join).
    * Outer joins keep their ON: relocation would change semantics;
    * Spark natively covers their uncorrelated forms and rejects the
    * correlated ones, exactly like the reference. Runs BEFORE
    * inValuesPass so `IN (VALUES …)` (which Spark handles natively in
    * ON once wrapped) is not swept up. */
  private def innerJoinOnSubqueryPass(canon0: String): String = {
    val joinRe = cre("(?i)\\bJOIN\\b")
    val inSubRe = cre("(?is)\\bIN\\s*\\(\\s*SELECT\\b")
    val stopRe = cre(("(?is)^(INNER|LEFT|RIGHT|FULL|CROSS|JOIN|WHERE|GROUP|" +
      "HAVING|WINDOW|ORDER|LIMIT|OFFSET|FETCH|UNION|INTERSECT|EXCEPT|ON)\\b"))
    var out = canon0
    var searchFrom = 0
    var guard = 0
    while (guard < 64) {
      guard += 1
      val m = joinRe.findFirstMatchIn(out.substring(searchFrom))
      if (m.isEmpty) return out
      val jPos = searchFrom + m.get.start
      // outer/cross joins keep their ON
      val before = out.substring(0, jPos)
      val prevWord = cre("(?is)([A-Za-z_]+)\\s*$").findFirstMatchIn(before)
        .map(_.group(1).toUpperCase).getOrElse("")
      val isInner = !Set("LEFT", "RIGHT", "FULL", "CROSS", "OUTER")(prevWord)
      // the next same-depth stop keyword, or the block's closing paren
      def stopAt(from: Int): (Int, String) = {
        val i = SqlLex.clauseEnd(out, stopRe, from)
        (i, stopRe.findPrefixMatchOf(out.substring(i)).fold("")(_.group(1).toUpperCase))
      }
      // this join's ON at the same depth (before any other stop keyword)
      val onPos = stopAt(jPos + 4) match { case (i, "ON") => i; case _ => -1 }
      if (!isInner || onPos < 0) searchFrom = jPos + 4
      else {
        val condEnd = stopAt(onPos + 2)._1
        val cond = out.substring(onPos + 2, condEnd)
        if (inSubRe.findFirstIn(cond).isEmpty) searchFrom = condEnd
        else {
          // locate (or create) the block's WHERE after the FROM clause
          var (k, kw) = stopAt(condEnd)
          while (Set("INNER", "LEFT", "RIGHT", "FULL", "CROSS", "JOIN", "ON")(kw)) {
            val next = stopAt(k + 1); k = next._1; kw = next._2
          }
          val wherePos = if (kw == "WHERE") k else -1
          val insertAt = k
          out =
            if (wherePos >= 0)
              out.substring(0, onPos) + "ON true " +
                out.substring(condEnd, wherePos) +
                s"WHERE ($cond) AND " + out.substring(wherePos + 5)
            else
              out.substring(0, onPos) + "ON true " +
                out.substring(condEnd, insertAt) +
                s" WHERE ($cond) " + out.substring(insertAt)
          searchFrom = 0
        }
      }
    }
    out
  }

  /** `x IN (VALUES r1, r2, …)` — the reference's inline-table IN form.
    * Spark parses a bare `VALUES (a), (b)` inside an IN list as a
    * function call, so wrap it as the subquery it denotes:
    * `IN (SELECT * FROM (VALUES …))`. */
  private def inValuesPass(canon0: String): String = {
    val re = cre("(?i)\\bIN\\s*\\(\\s*VALUES\\b")
    var out = canon0
    var m = re.findFirstMatchIn(out)
    var guard = 0
    while (m.isDefined && guard < 32) {
      guard += 1
      val open = out.indexOf('(', m.get.start)
      val close = closeParen(out, open)
      val body = out.substring(open + 1, close)
      out = out.substring(0, open) + s"(SELECT * FROM ($body) __invals)" + out.substring(close + 1)
      m = re.findFirstMatchIn(out)
    }
    out
  }

  /** `reduce_agg(x, init, inputFn, combineFn)` (reference
    * `ReduceAggregationFunction.java`) in SQL TEXT → Spark's
    * higher-order `aggregate(collect_list(x), init, inputFn)`; the
    * combine lambda is redundant in the sequential fold (the reference
    * requires it consistent with the input fold). NOTE the rewrite
    * materializes the group as an array — fine for SQL-text
    * convenience; the scalable partial-aggregating path is the
    * `graft.functions.ReduceAgg` Scala API. */
  private def reduceAggPass(canon0: String): String = {
    val re = cre("(?i)\\breduce_agg\\s*\\(")
    var out = canon0
    var m = re.findFirstMatchIn(out)
    var guard = 0
    while (m.isDefined && guard < 32) {
      guard += 1
      val open = out.indexOf('(', m.get.start)
      val close = closeParen(out, open)
      val args = splitTopLevel(out.substring(open + 1, close), ',')
        .map(_.trim)
      require(args.length == 4,
        s"reduce_agg takes (value, initialState, inputFn, combineFn), got ${args.length} args")
      // WINDOW form (reference TestReduceAgg testInWindowFunction:
      // reduce_agg(...) OVER (...)): the OVER belongs to the
      // collect_list, not to the scalar fold — pull it inside
      val afterTxt = out.substring(close + 1)
      val overM = cre(("(?is)^\\s*OVER\\s*(\\([^()]*" +
        "(?:\\([^()]*\\)[^()]*)*\\)|[A-Za-z_][A-Za-z0-9_]*)"))
        .findPrefixMatchOf(afterTxt)
      val (collect, restFrom) = overM match {
        case Some(om) =>
          (s"collect_list(${args(0)}) OVER ${om.group(1)}", close + 1 + om.end)
        case None => (s"collect_list(${args(0)})", close + 1)
      }
      out = out.substring(0, m.get.start) +
        s"aggregate($collect, ${args(1)}, ${args(2)})" +
        out.substring(restFrom)
      m = re.findFirstMatchIn(out)
    }
    out
  }

  /** Recursive reference→Spark type-syntax translation for the
    * composite spellings (`SqlBase.g4` type rule): `ROW(n T, …)` →
    * `STRUCT<n: T, …>`, `ARRAY(T)` → `ARRAY<T>`, `MAP(K, V)` →
    * `MAP<K, V>`; scalar leaves go through typeRenames. Anonymous row
    * fields (`ROW(INTEGER)`) take Spark's positional `colN` names —
    * CAST to struct renames fields, so lookups by the reference's
    * anonymous accessors were impossible anyway. */
  private def sparkType(t0: String): String = {
    val t = t0.trim
    val lower = t.toLowerCase
    def inner(): String = {
      val open = t.indexOf('(')
      t.substring(open + 1, closeParen(t, open))
    }
    if (lower.matches("(?s)row\\s*\\(.*")) {
      val fields = splitTopLevel(inner(), ',').map(_.trim)
      val fs = fields.zipWithIndex.map { case (f, i) =>
        val sp = f.indexWhere(_.isWhitespace)
        val paren = f.indexOf('(')
        // "name TYPE" iff the first whitespace precedes any '(' —
        // otherwise the whole field is a bare (possibly composite) type
        if (sp > 0 && (paren < 0 || sp < paren) &&
          !f.substring(0, sp).equalsIgnoreCase("row") &&
          !f.substring(0, sp).equalsIgnoreCase("array") &&
          !f.substring(0, sp).equalsIgnoreCase("map"))
          f.substring(0, sp) + ": " + sparkType(f.substring(sp + 1))
        else s"col${i + 1}: " + sparkType(f)
      }
      s"STRUCT<${fs.mkString(", ")}>"
    } else if (lower.matches("(?s)array\\s*\\(.*")) {
      s"ARRAY<${sparkType(inner())}>"
    } else if (lower.matches("(?s)map\\s*\\(.*")) {
      val kv = splitTopLevel(inner(), ',').map(_.trim)
      require(kv.length == 2, s"MAP type takes (K, V): $t")
      s"MAP<${sparkType(kv(0))}, ${sparkType(kv(1))}>"
    } else {
      typeRenames.collectFirst {
        case (from, to) if t.equalsIgnoreCase(from) => to
      }.getOrElse(t)
    }
  }

  /** `CAST(x AS ROW(…))` targets: anchor on the type position and hand
    * the whole composite spelling to [[sparkType]]. Runs BEFORE the
    * constructor rewrite, which would otherwise turn the type into
    * `AS struct(` (the pre-r14 fail-loud posture). */
  private def rowTypePass(canon0: String): String = {
    val re = cre("(?i)\\bAS\\s+(ROW|ARRAY|MAP)\\s*\\(")
    var out = canon0
    var m = re.findFirstMatchIn(out)
    var guard = 0
    while (m.isDefined && guard < 32) {
      guard += 1
      val typeStart = m.get.start(1)
      val open = out.indexOf('(', typeStart)
      val close = closeParen(out, open)
      out = out.substring(0, typeStart) +
        sparkType(out.substring(typeStart, close + 1)) +
        out.substring(close + 1)
      m = re.findFirstMatchIn(out)
    }
    out
  }

  /** Ranking window functions over an UNORDERED window —
    * `row_number() OVER ()` — are legal in the reference (arbitrary
    * numbering, `SqlBase.g4` windowSpecification makes ORDER BY
    * optional) but rejected by Spark's analyzer. A constant ordering
    * has exactly the arbitrary-order semantics, so append
    * `ORDER BY 1` when the OVER body lacks one. Aggregate window
    * functions are left alone: adding ORDER BY would silently shrink
    * their default frame from the whole partition to
    * RANGE … CURRENT ROW. */
  private def unorderedRankingPass(canon0: String): String = {
    val re = cre(("(?i)\\b(row_number|rank|dense_rank|percent_rank|cume_dist|" +
      "ntile)\\s*\\([^)]*\\)\\s*OVER\\s*\\("))
    var out = canon0
    var guard = 0
    var from = 0
    while (guard < 64) {
      guard += 1
      val m = re.findFirstMatchIn(out.substring(from))
      if (m.isEmpty) return out
      val open = from + m.get.end - 1
      val close = closeParen(out, open)
      val body = out.substring(open + 1, close)
      if (!cre("(?i)\\bORDER\\s+BY\\b").findFirstIn(body).isDefined) {
        val sep = if (body.trim.isEmpty) "ORDER BY 1" else " ORDER BY 1"
        out = out.substring(0, close) + sep + out.substring(close)
      }
      from = open + 1
    }
    out
  }

  /** Default null placement in ORDER BY: the reference sorts nulls
    * LAST ascending and FIRST descending (`SqlBase.g4` sortItem /
    * SQL:2016 implementation-defined choice), Spark the exact
    * OPPOSITE — so every translated sort item without an explicit
    * `NULLS FIRST|LAST` gets the reference's default appended.
    * Explicit spellings pass through untouched. Covers query-level
    * ORDER BY, window `OVER (ORDER BY …)`, and aggregate
    * `agg(x ORDER BY y)` alike: items run to a depth-0 comma, a
    * depth-0 terminator keyword (LIMIT/ROWS/…), an unmatched `)`, or
    * end of text. */
  private val obTermRe =
    cre(("(?i)\\A(LIMIT|OFFSET|FETCH|WINDOW|UNION|INTERSECT|EXCEPT|ROWS|" +
      "RANGE|GROUPS|HAVING|FOR|MEASURES|SEPARATOR)\\b"))

  private def orderByNullsPass(canon0: String): String = {
    var out = canon0
    val re = cre("(?i)\\bORDER\\s+BY\\b")
    // right-to-left so inserted suffixes never shift unprocessed spans
    for (m <- re.findAllMatchIn(out).toList.reverse) {
      val end = SqlLex.clauseEnd(out, obTermRe, m.end)
      var items = List.empty[(Int, Int)] // [start, end), built right-to-left
      var itemStart = m.end
      for (it <- splitTopLevel(out.substring(m.end, end), ',')) {
        items ::= (itemStart -> (itemStart + it.length))
        itemStart += it.length + 1
      }
      for ((s, e) <- items) { // right-to-left within the clause too
        val item = out.substring(s, e)
        val body = item.trim
        val explicit = cre("(?is)NULLS\\s+(FIRST|LAST)\\s*\\z")
          .findFirstIn(body).isDefined
        if (body.nonEmpty && !explicit) {
          val suffix =
            if (cre("(?is)\\bDESC\\s*\\z").findFirstIn(body).isDefined) " NULLS FIRST"
            else " NULLS LAST"
          val insertAt = s + item.lastIndexWhere(!_.isWhitespace) + 1
          out = out.substring(0, insertAt) + suffix + out.substring(insertAt)
        }
      }
    }
    out
  }

  /** Explicit row-constructor syntax in VALUES lists: `VALUES
    * ROW(a, b), ROW(c, d)` declares 2-COLUMN rows (`SqlBase.g4`
    * rowValue), equivalent to Spark's bare `(a, b)` tuples — NOT
    * struct values, which the blanket `ROW(` → `struct(` rewrite
    * would produce (one struct column; caught writing the reference's
    * testRows vectors). Strip the ROW token from each top-level list
    * item; nested `ROW(…)` inside an item stays a constructor. */
  private def valuesRowPass(canon0: String): String = {
    val vre = cre("(?i)\\bVALUES\\b")
    val rowRe = cre("(?is)\\A(\\s*)ROW\\s*(?=\\()")
    var out = canon0
    // reverse order: the pass only deletes characters AFTER each
    // VALUES position, so earlier positions stay valid
    for (vm <- vre.findAllMatchIn(canon0).toList.reverse) {
      // the item list: top-level commas up to the enclosing ')'
      val end = SqlLex.groupEnd(out, vm.end)
      val items = splitTopLevel(out.substring(vm.end, end), ',')
        .map(rowRe.replaceFirstIn(_, "$1")) // keep the whitespace, drop ROW
      out = out.substring(0, vm.end) + items.mkString(",") + out.substring(end)
    }
    out
  }

  /** `(VALUES …)` rows holding lambda expressions (reference
    * testLambdaInValuesAndUnnest): Spark's inline-table resolution
    * rejects higher-order functions outright, so such a table lowers
    * onto the equivalent `SELECT … UNION ALL SELECT …` (the standard's
    * own definition of a table value constructor). Only lambda-bearing
    * VALUES are rewritten — plain ones keep Spark's native inline
    * table (better plans: LocalRelation, not a Union). */
  private def valuesLambdaPass(canon0: String): String = {
    val re = cre("(?i)\\(\\s*VALUES\\b")
    var out = canon0
    var guard = 0
    var from = 0
    while (guard < 32) {
      guard += 1
      val m = re.findFirstMatchIn(out.substring(from))
      if (m.isEmpty) return out
      val open = from + m.get.start
      val close = closeParen(out, open)
      val body = out.substring(from + m.get.end, close)
      if (!body.contains("->")) { from = open + 1 }
      else {
        val rows = splitTopLevel(body, ',').map(_.trim)
        val selects = rows.map { r =>
          val exprs =
            if (r.startsWith("(") && closeParen(r, 0) == r.length - 1)
              r.substring(1, r.length - 1)
            else r
          s"SELECT $exprs"
        }
        out = out.substring(0, open + 1) + selects.mkString(" UNION ALL ") +
          out.substring(close)
        from = open + 1
      }
    }
    out
  }

  /** Scalar lambda application: the reference's `apply(x, v -> body)`
    * (`ApplyFunction.java`) has no Spark spelling — Spark's
    * higher-order functions are collection-bound — so wrap the scalar
    * in a 1-element array, transform it, and take the element back
    * out: `element_at(transform(array(x), v -> body), 1)`. Capture
    * (outer columns, outer lambda variables, shadowing) rides Spark's
    * own lambda resolution, which the reference's testLambdaCapture
    * vectors pin. Nested applies converge over iterations (outer
    * first; the inner call text survives into the rewritten form). */
  private def applyPass(canon0: String): String = {
    val re = cre("(?i)\\bapply\\s*\\(")
    var out = canon0
    var m = re.findFirstMatchIn(out)
    var guard = 0
    while (m.isDefined && guard < 32) {
      guard += 1
      val open = out.indexOf('(', m.get.start)
      val close = closeParen(out, open)
      val args = splitTopLevel(out.substring(open + 1, close), ',')
        .map(_.trim)
      require(args.length == 2,
        s"apply takes (input, lambda), got ${args.length} args")
      val rewritten =
        if (args(0).toUpperCase.contains("SELECT")) {
          // Spark forbids subquery expressions inside higher-order
          // functions, so a subquery input must be BETA-REDUCED into
          // the body instead. Safe only when the body rebinds nothing
          // (no nested lambda): substitution is then capture-free.
          // The lambda var can't be dot-qualified, so occurrences
          // after '.' are field/column references and are skipped.
          val arrow = args(1).indexOf("->")
          require(arrow > 0, s"malformed lambda: ${args(1)}")
          val param = args(1).substring(0, arrow).trim.stripPrefix("(").stripSuffix(")").trim
          val body = args(1).substring(arrow + 2).trim
          require(!body.contains("->"),
            "apply() with a subquery input supports only non-nested lambdas " +
              "(Spark disallows subqueries in higher-order functions)")
          repAll(body, 
            "(?<![\\w.])" + java.util.regex.Pattern.quote(param) + "(?![\\w])",
            java.util.regex.Matcher.quoteReplacement(s"(${args(0)})"))
        } else
          s"element_at(transform(array(${args(0)}), ${args(1)}), 1)"
      out = out.substring(0, m.get.start) + "(" + rewritten + ")" +
        out.substring(close + 1)
      m = re.findFirstMatchIn(out)
    }
    out
  }

  /** Two-argument `IF(cond, value)` (reference `SqlBase.g4` IF /
    * `IfCodeGenerator` — absent ELSE is NULL); Spark's `if` is
    * strictly ternary, so pad the NULL explicitly. */
  /** SQL/JSON 2016 constructors (grammar `SqlBase.g4` jsonObject /
    * jsonArray; reference `sql/analyzer/ExpressionAnalyzer.java` JSON
    * constructor handling): `json_object(k : v, …)` (also the
    * standard `KEY k VALUE v` spelling) and `json_array(v, …)`, with
    * `NULL ON NULL` / `ABSENT ON NULL`, per-value `FORMAT JSON` (raw
    * JSON splice), and `RETURNING type [FORMAT JSON]`. Lowered onto
    * JSON-fragment concatenation: each key/value renders through
    * `to_json(array(x))` with the outer brackets stripped — Spark's
    * JSON writer does the quoting, escaping, and number rendering —
    * and FORMAT JSON values splice verbatim. Defaults per SQL:2016
    * §6.32/6.33: object NULL ON NULL, array ABSENT ON NULL. Runs on
    * canonical text (string literals are sentinels, so ':' inside
    * them can't mis-split a pair). */
  /** `CAST(x AS JSON)` / `TRY_CAST(x AS JSON)` — on the JSON↦VARCHAR
    * mapping the cast renders the SQL VALUE as its JSON text
    * (reference `type/TestJsonOperators.java` casts-to-JSON: strings
    * quote, numbers/booleans render bare, arrays/maps/rows become
    * JSON containers, a top-level SQL NULL stays SQL NULL). Lowered
    * onto Spark's JSON writer via the same `to_json(array(x))`
    * fragment the SQL/JSON constructors use. Erasure caveat
    * (docs/MIGRATION.md): a value that is ALREADY a JSON text
    * (json_parse output) re-encodes as a quoted JSON string — the
    * reference's identity cast is untypeable once JSON ≡ varchar. */
  private def castAsJsonPass(canon0: String): String = {
    if (!canon0.toLowerCase.contains("graft_json_cast")) return canon0
    val out = castSites(canon0, cre("(?is)\\bAS\\s+GRAFT_JSON_CAST\\s*\\)")) { (_, e, _) =>
      val expr = "(" + repAll(e, "[ \\t\\r\\n]+$", "") + ")"
      val frag =
        s"substr(to_json(array($expr)), 2, length(to_json(array($expr))) - 2)"
      s"IF($expr IS NULL, CAST(NULL AS STRING), $frag)"
    }
    // leftover sentinels were NOT cast positions (e.g. an alias
    // literally named json) — restore the original spelling
    repAll(out, "(?i)\\bAS\\s+GRAFT_JSON_CAST\\b", "AS json")
  }

  /** Rewrite every `CAST(e AS …)` / `TRY_CAST(e AS …)` whose type
    * position matches `re` (a match ending at the cast's ')'):
    * `f(isTry, e, match)` replaces the whole cast. Sites that are not
    * a cast's type position are left for the caller's fallback. */
  private def castSites(canon0: String, re: scala.util.matching.Regex)(
      f: (Boolean, String, scala.util.matching.Regex.Match) => String): String = {
    var out = canon0
    var from = 0
    var guard = 0
    var m = re.findFirstMatchIn(out)
    // generous bound: conformance batteries legitimately pack hundreds
    // of casts into ONE statement; an exhausted guard would silently
    // fall back to Spark's native cast semantics for the tail
    while (m.isDefined && guard < 100000) {
      guard += 1
      val (mStart, mEnd) = (from + m.get.start, from + m.get.end)
      val open = openParen(out, mEnd - 1)
      // the word before the open paren, spaces skipped
      var pre = open
      while (pre > 0 && " \t\r\n".indexOf(out.charAt(pre - 1)) >= 0) pre -= 1
      def endsWith(w: String) = out.regionMatches(true, pre - w.length, w, 0, w.length)
      val kind = if (endsWith("TRY_CAST")) 8 else if (endsWith("CAST")) 4 else 0
      if (open > 0 && kind > 0) {
        val rep = f(kind == 8, out.substring(open + 1, mStart), m.get)
        out = out.substring(0, pre - kind) + rep + out.substring(mEnd)
        from = 0
      } else from = mEnd
      m = re.findFirstMatchIn(out.substring(from))
    }
    out
  }

  /** `CAST(x AS UUID)` / `CAST(x AS IPADDRESS)` (+ TRY_CAST forms) on
    * the string emulation (SURVEY §1.3): validate and canonicalize —
    * UUID lowercases the 8-4-4-4-12 hex form, IPADDRESS renders the
    * reference's canonical text (dotted quad for IPv4/IPv4-mapped,
    * RFC 5952 for IPv6) — kernels in functions/UuidIpCompat.scala,
    * vectors from type/TestUuidOperators.java +
    * TestIpAddressOperators.java. A binary-literal operand
    * (`X'…'` — an X followed by a literal sentinel on canonical
    * text) routes to the 4/16-byte decoder. */
  private def castAsUuidIpPass(canon0: String): String = {
    val lower = canon0.toLowerCase
    if (!lower.contains("graft_uuid") && !lower.contains("graft_ip")) return canon0
    var out = canon0
    for ((sentinel, fn) <- Seq(
      "GRAFT_UUID_CAST" -> "graft_uuid",
      "GRAFT_IP_CAST" -> "graft_ipaddress")) {
      out = castSites(out, cre(s"(?is)\\bAS\\s+$sentinel\\s*\\)")) { (isTry, e, _) =>
        val expr = ws(e)
        if (cre(s"(?i)^X$LitP$$").findFirstIn(expr).isDefined) s"${fn}_bin($expr)"
        else if (isTry) s"${fn}_try($expr)"
        else s"$fn($expr)"
      }
      out = repAll(out, s"(?i)\\bAS\\s+$sentinel\\b",
        "AS " + (if (sentinel.contains("UUID")) "uuid" else "ipaddress"))
    }
    // value-form VARBINARY casts over UUID/IPADDRESS EXPRESSIONS:
    // `CAST(CAST(x AS UUID) AS VARBINARY)` arrives here (varbinary is
    // already renamed to binary) as `CAST(graft_uuid(x) AS binary)` —
    // route to the 16-byte kernels instead of Spark's text-bytes cast
    val vbRe = cre(("(?i)\\b(TRY_)?CAST\\s*\\(\\s*(graft_uuid(?:_try|_bin)?|" +
      "graft_ipaddress(?:_try|_bin)?)\\s*\\("))
    var vfrom = 0
    var vguard = 0
    var vm = vbRe.findFirstMatchIn(out)
    while (vm.isDefined && vguard < 10000) {
      vguard += 1
      val m = vm.get
      val mStart = m.start + vfrom
      val innerStart = m.start(2) + vfrom
      // balanced close of the inner graft_* call
      val i = closeParen(out, m.end + vfrom - 1) + 1
      val tailM = cre("(?i)^\\s*AS\\s+binary\\s*\\)")
        .findFirstMatchIn(out.substring(i))
      if (tailM.isDefined) {
        val innerCall = out.substring(innerStart, i)
        val toBin =
          if (m.group(2).toLowerCase.startsWith("graft_uuid")) "graft_uuid_to_bin"
          else "graft_ipaddress_to_bin"
        out = out.substring(0, mStart) + s"$toBin($innerCall)" +
          out.substring(i + tailM.get.end)
        vfrom = 0
      } else vfrom = m.end + vfrom
      vm = vbRe.findFirstMatchIn(out.substring(vfrom))
    }
    out
  }

  /** Materialize the reference's length-parametric character-cast
    * VALUE semantics (type/TestCharacterStringCasts.java) on the
    * erased-string mapping: `CAST(e AS VARCHAR(n))` truncates —
    * substr(CAST(e AS STRING), 1, n); `CAST(e AS CHAR(n))` truncates
    * and space-pads — rpad(substr(..., 1, n), n) (so a CHAR value
    * renders padded, exactly as the reference's char→varchar casts
    * show); bare `AS CHAR` is CHAR(1). TRY_CAST keeps its NULL-on-
    * failure inner cast. NULL propagates through substr/rpad. */
  private def castCharLenPass(canon0: String): String = {
    val lower = canon0.toLowerCase
    if (!lower.contains("graft_vcast_") && !lower.contains("graft_ccast_")) return canon0
    var out = castSites(canon0, cre("(?is)\\bAS\\s+GRAFT_(V|C)CAST_(\\d+)\\s*\\)")) {
      (isTry, e, m) =>
        val n = m.group(2)
        // left(), not substr(): the dialect renames substr to the
        // reference-semantics UDF on a later translate, which would
        // break idempotence AND foldability inside VALUES
        val inner = s"${if (isTry) "TRY_CAST" else "CAST"}(" +
          ws(e) + " AS STRING)"
        if (m.group(1).equalsIgnoreCase("V")) s"left($inner, $n)"
        else s"rpad(left($inner, $n), $n)"
    }
    // leftover sentinels were NOT cast positions — restore spellings
    out = repAll(out, "(?i)\\bAS\\s+GRAFT_VCAST_(\\d+)\\b", "AS varchar($1)")
    repAll(out, "(?i)\\bAS\\s+GRAFT_CCAST_(\\d+)\\b", "AS char($1)")
  }

  private def jsonConstructorPass(canon0: String): String = {
    val re = cre("(?i)\\bjson_(object|array)\\s*\\(")
    var out = canon0
    var m = re.findFirstMatchIn(out)
    var guard = 0
    def frag(x: String): String =
      s"substr(to_json(array($x)), 2, length(to_json(array($x))) - 2)"
    while (m.isDefined && guard < 32) {
      guard += 1
      val isObject = m.get.group(1).equalsIgnoreCase("object")
      val open = out.indexOf('(', m.get.start)
      val close = closeParen(out, open)
      var body = ws(out.substring(open + 1, close))
      var returning: Option[String] = None
      var retEncoding: Option[String] = None
      val retRe =
        cre(("(?is)\\s+RETURNING\\s+([A-Za-z_]+(\\s*\\(\\s*\\d+\\s*\\))?)" +
          "(\\s+FORMAT\\s+JSON(\\s+ENCODING\\s+UTF(8|16|32))?)?\\s*$"))
      retRe.findFirstMatchIn(body).foreach { r =>
        returning = Some(r.group(1))
        retEncoding = Option(r.group(5))
        body = body.substring(0, r.start) }
      // {WITH | WITHOUT} UNIQUE [KEYS] (grammar order: before RETURNING,
      // after the null treatment — both tails accepted here)
      var uniqueKeys = false
      val uniqRe = cre("(?is)\\s+(WITH|WITHOUT)\\s+UNIQUE(\\s+KEYS)?\\s*$")
      uniqRe.findFirstMatchIn(body).foreach { r =>
        uniqueKeys = r.group(1).equalsIgnoreCase("WITH")
        body = body.substring(0, r.start) }
      var absent = !isObject
      val onNullRe = cre("(?is)\\s+(NULL|ABSENT)\\s+ON\\s+NULL\\s*$")
      onNullRe.findFirstMatchIn(body).foreach { r =>
        absent = r.group(1).equalsIgnoreCase("ABSENT")
        body = body.substring(0, r.start) }
      val rawArgs = if (ws(body).isEmpty) Seq.empty[String]
        else splitTopLevel(body, ',').map(ws)
      val fmtRe =
        cre("(?is)\\s+FORMAT\\s+JSON(\\s+ENCODING\\s+UTF(8|16|32))?\\s*$")
      def encCharset(e: String): String = e match {
        case "8" => "UTF-8"
        case "16" => "UTF-16LE"
        case _ => "UTF-32LE"
      }
      // JSON-returning functions carry implicit FORMAT JSON (SQL:2016
      // JSON-returning-function rule): a nested json_object /
      // json_array / json_query value splices raw instead of being
      // re-encoded as a quoted string. EXPLICIT `FORMAT JSON` values
      // re-parse through graft_json_norm — the reference validates and
      // minifies them (malformed input raises, duplicate object keys
      // collapse); ENCODING forms decode the binary first.
      val jsonValued = cre("(?is)^json_(object|array|query)\\s*\\(.*")
      // (expr, raw: implicit splice, fmt: explicit FORMAT JSON [+enc])
      val items = rawArgs.map { a0 =>
        var a = a0
        var fmt = false
        var enc: Option[String] = None
        fmtRe.findFirstMatchIn(a).foreach { r =>
          fmt = true; enc = Option(r.group(2)); a = a.substring(0, r.start) }
        (ws(a), fmt, enc)
      }
      if (uniqueKeys && items.exists(_._2))
        throw new IllegalArgumentException(
          "WITH UNIQUE KEYS behavior is not supported for JSON_OBJECT " +
            "function when input expression has FORMAT")
      def valFrag(v: String, fmt: Boolean, enc: Option[String]): String =
        if (fmt) enc match {
          case Some(e) => s"graft_json_norm(graft_decode(($v), '${encCharset(e)}'))"
          case None => s"graft_json_norm(($v))"
        }
        else if (jsonValued.pattern.matcher(v).matches()) s"($v)"
        else frag(v)
      val rendered =
        if (isObject) {
          val kvRe = cre("(?is)^KEY\\s+(.*?)\\s+VALUE\\s+(.*)$")
          // the KEY-less `k VALUE v` spelling (testArgumentPassing
          // Conventions) — only split on a top-level VALUE keyword
          val kvRe2 = cre("(?is)^(.*?)\\s+VALUE\\s+(.*)$")
          val parsed = items.map { case (kv, fmt, enc) =>
            val (k, v) = kvRe.findFirstMatchIn(kv) match {
              case Some(r) => (ws(r.group(1)), ws(r.group(2)))
              case None =>
                val parts = splitTopLevel(kv, ':')
                if (parts.length == 2) (ws(parts(0)), ws(parts(1)))
                else kvRe2.findFirstMatchIn(kv) match {
                  case Some(r) => (ws(r.group(1)), ws(r.group(2)))
                  case None => throw new IllegalArgumentException(
                    s"json_object pair needs `k : v` or KEY k VALUE v, got: $kv")
                }
            }
            (k, v, fmt, enc)
          }
          // a null key is an error, never a member (testNullKey)
          def keyFrag(k: String): String =
            s"CASE WHEN ($k) IS NULL THEN raise_error('null value passed " +
              s"for JSON object key to JSON_OBJECT function') ELSE ${frag(k)} END"
          val pairs = parsed.map { case (k, v, fmt, enc) =>
            val vf = valFrag(v, fmt, enc)
            if (absent)
              s"CASE WHEN ($v) IS NULL THEN NULL ELSE concat(${keyFrag(k)}, ':', $vf) END"
            else
              s"concat(${keyFrag(k)}, ':', CASE WHEN ($v) IS NULL THEN 'null' ELSE $vf END)"
          }
          val obj =
            if (pairs.isEmpty) "'{}'"
            else s"concat('{', concat_ws(',', ${pairs.mkString(", ")}), '}')"
          // duplicate keys are an error in the reference regardless of
          // the UNIQUE KEYS option (it cannot construct a duplicate-key
          // object); only the error message differs
          if (parsed.length > 1) {
            val keys = parsed.map { case (k, _, _, _) => frag(k) }.mkString(", ")
            val msg =
              if (uniqueKeys) "duplicate key passed to JSON_OBJECT function"
              else "cannot construct a JSON object with duplicate key"
            s"IF(size(array_distinct(array($keys))) < ${parsed.length}, " +
              s"raise_error('$msg'), $obj)"
          } else obj
        } else {
          val elems = items.map { case (v, fmt, enc) =>
            val vf = valFrag(v, fmt, enc)
            if (absent) s"CASE WHEN ($v) IS NULL THEN NULL ELSE $vf END"
            else s"CASE WHEN ($v) IS NULL THEN 'null' ELSE $vf END"
          }
          if (elems.isEmpty) "'[]'"
          else s"concat('[', concat_ws(',', ${elems.mkString(", ")}), ']')"
        }
      val full = (returning, retEncoding) match {
        case (Some(_), Some(e)) =>
          // RETURNING varbinary FORMAT JSON ENCODING UTFxx
          s"graft_encode($rendered, '${encCharset(e)}')"
        case (Some(t), None) => s"CAST($rendered AS ${renameType(t)})"
        case _ => rendered
      }
      out = out.substring(0, m.get.start) + full + out.substring(close + 1)
      m = re.findFirstMatchIn(out)
    }
    out
  }

  /** Ordered aggregates (grammar `SqlBase.g4` aggregation orderBy;
    * reference sql/query/TestOrderedAggregation) and the reference's
    * null-KEEPING array_agg (Spark's array_agg/collect_list silently
    * drops NULL elements). Spark has no ORDER BY inside aggregate
    * calls, so: order-INSENSITIVE aggregates (sum/avg/min/max/...)
    * simply DROP the clause; `array_agg` collects struct(keys...,
    * value) — a struct row is never null, so NULL values survive —
    * sorts with an explicit comparator lambda (per-key direction and
    * NULLS placement; the reference's defaults are NULLS LAST for ASC
    * and NULLS FIRST for DESC), and projects the value back out. A
    * plain `array_agg(v)` gets the null-keeping struct wrap alone.
    * DISTINCT and a trailing FILTER clause stay attached. */
  /** FILTER on a WINDOW aggregate (`agg(x) FILTER (WHERE c) OVER w`,
    * reference grammar `SqlBase.g4` filter clause + window frame):
    * Spark raises "Window aggregate function with filter predicate is
    * not supported yet", so lower the FILTER into the argument — each
    * agg argument becomes `CASE WHEN c THEN arg END` (aggregates skip
    * NULL inputs, so this is the exact FILTER semantics), `*` becomes
    * `CASE WHEN c THEN 1 END`, and `array_agg` (which KEEPS nulls in
    * the reference) rides the null-preserving struct wrap with a
    * `transform` unwrap around the whole windowed call. Runs on
    * canonical text before orderedAggPass. */
  private def windowedFilterPass(canon0: String): String = {
    val re = cre("(?i)\\bFILTER\\s*\\(")
    var out = canon0
    var guard = 0
    var searchFrom = 0
    while (guard < 64) {
      guard += 1
      val m = re.findFirstMatchIn(out.substring(searchFrom))
      if (m.isEmpty) return out
      val fOpen = out.indexOf('(', searchFrom + m.get.start + 6)
      val fClose = closeParen(out, fOpen)
      val afterFilter = out.substring(fClose + 1)
      val overM = cre("(?is)^\\s*OVER\\b").findPrefixMatchOf(afterFilter)
      // the FILTER must trail a call: ...fn(args) FILTER
      val beforeTxt = out.substring(0, searchFrom + m.get.start)
      val beforeTrim = repAll(beforeTxt, "[ \\t\\r\\n]+$", "")
      if (overM.isEmpty || beforeTrim.isEmpty || beforeTrim.last != ')') {
        searchFrom = fClose + 1
      } else {
        val callClose = beforeTrim.length - 1
        val callOpen = openParen(out, callClose)
        val fnM = cre("(?i)([a-z_][a-z0-9_]*)\\s*$")
          .findFirstMatchIn(out.substring(0, callOpen))
        if (fnM.isEmpty) { searchFrom = fClose + 1 }
        else {
          val fn = fnM.get.group(1).toLowerCase
          val cond = ws(out.substring(fOpen + 1, fClose))
            .pipe(repAll(_, "(?is)^WHERE\\b", ""))
          val body = out.substring(callOpen + 1, callClose)
          // top-level ORDER BY inside a FILTERed window agg has no
          // Spark lowering — fail loud rather than silently drop it
          val hasTopOrderBy =
            SqlLex.topLevelIndexOf(body, cre("(?is)^ORDER\\s+BY\\b")) >= 0
          require(!hasTopOrderBy,
            "FILTER with an aggregate-level ORDER BY in a window context is unsupported")
          val isDistinct = cre("(?is)^\\s*DISTINCT\\b.*").matches(body)
          val inner = ws(if (isDistinct) repAll(body, "(?is)^\\s*DISTINCT", "") else body)
          val distinctKw = if (isDistinct) "DISTINCT " else ""
          if (fn == "array_agg") {
            // null-keeping: wrap the value in a struct so a NULL value
            // under a TRUE condition still collects
            val overClose = {
              val oOpen = out.indexOf('(', fClose + 1 + overM.get.end)
              if (oOpen >= 0 && ws(out.substring(fClose + 1 + overM.get.end,
                  oOpen)).isEmpty) closeParen(out, oOpen)
              else {
                // named window: OVER w — extend past the window
                // identifier so it stays inside the transform() wrapper
                val tail = out.substring(fClose + 1 + overM.get.end)
                val idM =
                  cre("(?s)^[ \\t\\r\\n]*(?:[A-Za-z_][A-Za-z0-9_]*|\"[^\"]+\")")
                    .findPrefixMatchOf(tail)
                fClose + overM.get.end + idM.map(_.end).getOrElse(0)
              }
            }
            val overRaw = ws(out.substring(fClose + 1, overClose + 1))
            val collected = s"transform(array_agg(${distinctKw}CASE WHEN (" +
              s"$cond) THEN struct($inner AS __v) END) $overRaw, __x -> __x.__v)"
            // reference semantics: a window array_agg whose frame (or
            // filter) selects nothing yields NULL, not []
            val rewritten =
              s"CASE WHEN size($collected) < 1 THEN NULL ELSE $collected END"
            out = out.substring(0, fnM.get.start(1)) + rewritten +
              out.substring(overClose + 1)
            searchFrom = fnM.get.start(1)
          } else {
            val wrapped =
              if (ws(inner) == "*") s"CASE WHEN ($cond) THEN 1 END"
              else splitTopLevel(inner, ',').map(ws)
                .map(a => s"CASE WHEN ($cond) THEN $a END").mkString(", ")
            out = out.substring(0, callOpen + 1) + distinctKw + wrapped +
              ")" + out.substring(fClose + 1)
            searchFrom = callOpen
          }
        }
      }
    }
    out
  }

  /** Loud analysis guard for the WITH RECURSIVE forms this engine
    * (like the reference — linear recursion only since Trino 352)
    * does not support: MUTUAL recursion (a recursive CTE referencing
    * a sibling defined later in the same WITH list) and NON-LINEAR
    * recursion (more than one self-reference in the CTE body). Spark
    * surfaces these as obscure plan-time failures or wrong loops;
    * failing here names the problem. Runs on canonical text (string
    * literals are sentinels, so names inside quotes never count). */
  /** CTE column-alias lists with DUPLICATE names (`WITH x(a, a) AS
    * …`) are rejected by the reference (TestAnalyzer
    * DUPLICATE_COLUMN_NAME) but silently accepted by Spark (duplicate
    * output names are legal there until referenced) — fail loudly at
    * translate time. The `name(idents) AS (` shape only occurs for
    * CTE alias lists on canonical text; lists whose items aren't
    * plain identifiers are skipped. */
  private def cteAliasGuard(canon: String): Unit = {
    if (cre("(?i)\\bAS\\s*\\(").findFirstIn(canon).isEmpty) return
    val re = cre("(?is)\\b([A-Za-z_][A-Za-z0-9_]*)\\s*\\(([^()]*)\\)\\s*AS\\s*\\(")
    for (m <- re.findAllMatchIn(canon)) {
      val items = m.group(2).split(",").map(_.trim)
      if (items.nonEmpty &&
        items.forall(_.matches("[A-Za-z_][A-Za-z0-9_]*"))) {
        val dups = items.groupBy(_.toLowerCase).filter(_._2.length > 1).keys
        if (dups.nonEmpty)
          throw new IllegalArgumentException(
            s"WITH ${m.group(1)}: duplicate column name " +
              s"'${dups.head}' in the CTE column alias list")
      }
    }
  }

  private def recursiveGuard(canon: String): Unit = {
    val wrM = cre("(?is)\\bWITH\\s+RECURSIVE\\b").findFirstMatchIn(canon)
    if (wrM.isEmpty) return
    val names = scala.collection.mutable.ArrayBuffer[(String, String)]()
    val nameRe =
      cre("(?is)^\\s*([A-Za-z_][A-Za-z0-9_]*)\\s*(\\([^()]*\\))?\\s*AS\\s*\\(")
    var pos = wrM.get.end
    var cont = true
    while (cont) {
      nameRe.findPrefixMatchOf(canon.substring(pos)) match {
        case Some(m) =>
          val open = pos + m.end - 1
          val close = closeParen(canon, open)
          names += ((m.group(1), canon.substring(open + 1, close)))
          val comma = cre("(?s)^\\s*,").findPrefixMatchOf(canon.substring(close + 1))
          if (comma.isDefined) pos = close + 1 + comma.get.end
          else cont = false
        case None => cont = false
      }
    }
    // count only RELATION-position references: a qualified column
    // reference (`t.n`) or a qualified name's tail (`s.t`) is not a
    // self-reference — `SELECT t.n + 1 FROM t WHERE t.n < 5` is the
    // canonical LINEAR recursive member and must count exactly 1
    def refs(name: String, txt: String): Int =
      cre(("(?i)(?<!\\.)\\b" + java.util.regex.Pattern.quote(name) +
        "\\b(?!\\s*\\.)"))
        .findAllIn(txt).length
    for (((n, body), idx) <- names.zipWithIndex) {
      names.drop(idx + 1).foreach { case (later, laterBody) =>
        if (refs(later, body) > 0 && refs(n, laterBody) > 0)
          throw new IllegalArgumentException(
            s"WITH RECURSIVE: mutual recursion between '$n' and '$later' " +
              "is not supported — only linear self-recursion " +
              "(one self-reference in the recursive member)")
      }
      if (refs(n, body) > 1)
        throw new IllegalArgumentException(
          s"WITH RECURSIVE: non-linear recursion in '$n' — the recursive " +
            s"member may reference '$n' at most once")
    }
  }

  /** LISTAGG `ON OVERFLOW` clause (reference grammar
    * `SqlBase.g4:348-356,502-504`; vectors
    * `sql/query/TestListagg.java:204-384`): Spark's native listagg
    * has no overflow clause, so
    * `LISTAGG([DISTINCT] v[, sep] ON OVERFLOW ERROR | TRUNCATE
    * [filler] WITH|WITHOUT COUNT) WITHIN GROUP (ORDER BY k)` lowers
    * onto `graft_listagg_capped([DISTINCT] struct(k AS __o0…,
    * CAST(v AS STRING) AS __v), sep, isError, filler, withCount,
    * array(desc…), array(nullsFirst…))` —
    * functions/ListaggOverflow.ListaggCappedAgg replays the
    * reference's byte-capped output walk as ONE ordered aggregate
    * with per-group state bounded at ~the 1 MiB cap (the r19 form
    * buffered every entry through array_agg before finishing).
    * Plain LISTAGG without the clause stays native. */
  private def listaggOverflowPass(canon0: String, lex: SqlLex.Lexed): String = {
    var out = canon0
    var from = 0
    var guard = 0
    val re = cre("(?i)\\bLISTAGG\\s*\\(")
    while (guard < 64) {
      guard += 1
      val m = re.findFirstMatchIn(out.substring(from))
      if (m.isEmpty) return out
      val start = from + m.get.start
      val open = out.indexOf('(', start)
      val close = closeParen(out, open)
      val body = out.substring(open + 1, close)
      val ovPos = SqlLex.topLevelIndexOf(body, cre("(?is)^ON\\s+OVERFLOW\\b"))
      if (ovPos < 0) { from = close + 1 }
      else {
        val pre = ws(body.substring(0, ovPos))
        val beh = ws(repAll(body.substring(ovPos), "(?is)^ON\\s+OVERFLOW", ""))
        val (isError, filler, withCount) =
          if (beh.matches("(?is)^ERROR$")) (true, lex.lit(""), false)
          else {
            val tm = cre((s"(?is)^TRUNCATE\\s*($LitP)?\\s*" +
              "(WITH|WITHOUT)\\s+COUNT$")).findFirstMatchIn(beh).getOrElse(
              throw new IllegalArgumentException(
                s"LISTAGG ON OVERFLOW: expected ERROR or TRUNCATE " +
                  s"[filler] WITH|WITHOUT COUNT, got '$beh'"))
            (false, Option(tm.group(1)).getOrElse(lex.lit("...")),
              tm.group(2).equalsIgnoreCase("WITH"))
          }
        // value [, separator-literal]; the separator (grammar: string)
        // is always a literal sentinel on canonical text
        val parts = splitTopLevel(pre, ',').map(ws)
        val (valuePart, sep) =
          if (parts.length >= 2 && parts.last.matches(s"^$LitP$$"))
            (parts.dropRight(1).mkString(", "), parts.last)
          else (parts.mkString(", "), lex.lit(""))
        // the WITHIN GROUP (ORDER BY ...) tail, when present, moves
        // into the array_agg argument
        val wgM = cre("(?is)^\\s*WITHIN\\s+GROUP\\s*\\(")
          .findPrefixMatchOf(out.substring(close + 1))
        var endPos = close + 1
        var orderBy = ""
        wgM.foreach { w =>
          val wgOpen = out.indexOf('(', close + w.end - 1)
          val wgClose = closeParen(out, wgOpen)
          orderBy = ws(out.substring(wgOpen + 1, wgClose))
          endPos = wgClose + 1
        }
        // bounded-state lowering (r20): ONE ordered
        // TypedImperativeAggregate whose per-group state tops out at
        // ~the 1 MiB output cap, instead of array_agg-buffering every
        // entry and finishing on the full array
        val isDistinct = valuePart.matches("(?is)^DISTINCT\\b.*")
        val valueExpr = ws(
          if (isDistinct) repAll(valuePart, "(?is)^DISTINCT", "")
          else valuePart)
        val parsed: Seq[(String, Boolean, Boolean)] =
          if (orderBy.isEmpty) Seq.empty
          else parseOrderKeys(repAll(orderBy, "(?is)^ORDER\\s+BY", ""))
        val fields = (parsed.zipWithIndex.map { case ((k, _, _), ix) =>
          s"$k AS __o$ix"
        } :+ s"CAST($valueExpr AS STRING) AS __v").mkString(", ")
        val descArr = parsed.map(_._2).mkString("array(", ", ", ")")
        val nfArr = parsed.map(_._3).mkString("array(", ", ", ")")
        val distinctKw = if (isDistinct) "DISTINCT " else ""
        val rewritten = s"graft_listagg_capped(${distinctKw}struct($fields), " +
          s"$sep, $isError, $filler, $withCount, $descArr, $nfArr)"
        out = out.substring(0, start) + rewritten + out.substring(endPos)
        from = start + rewritten.length
      }
    }
    out
  }

  /** Parse an ORDER BY key list (`k1 [ASC|DESC] [NULLS FIRST|LAST],
    * …` — the `ORDER BY` keywords already stripped) into (expr, desc,
    * nullsFirst) triples; nulls default FIRST iff DESC (the SQL
    * default). Shared by the ordered-aggregate and LISTAGG-overflow
    * lowerings. */
  private def parseOrderKeys(keysTxt: String): Seq[(String, Boolean, Boolean)] = {
    splitTopLevel(keysTxt, ',').map(ws).map { it0 =>
      var it = it0
      var nulls: Option[Boolean] = None // Some(true) = FIRST
      cre("(?is)\\s+NULLS\\s+(FIRST|LAST)\\s*$")
        .findFirstMatchIn(it).foreach { nm =>
          nulls = Some(nm.group(1).equalsIgnoreCase("FIRST"))
          it = it.substring(0, nm.start)
        }
      var desc = false
      cre("(?is)\\s+(ASC|DESC)\\s*$").findFirstMatchIn(it).foreach { dm =>
        desc = dm.group(1).equalsIgnoreCase("DESC")
        it = it.substring(0, dm.start)
      }
      (ws(it), desc, nulls.getOrElse(desc))
    }
  }

  private def orderedAggPass(canon0: String): String = {
    val re = cre(("(?i)\\b(array_agg|sum|avg|min|max|count|bool_and|bool_or|" +
      "every|any_value|arbitrary|geometric_mean|stddev|stddev_samp|" +
      "stddev_pop|variance|var_samp|var_pop)\\s*\\("))
    var out = canon0
    var from = 0
    var guard = 0
    while (guard < 64) {
      guard += 1
      val m = re.findFirstMatchIn(out.substring(from))
      if (m.isEmpty) return out
      val fn = m.get.group(1).toLowerCase
      val callStart = from + m.get.start
      val open = out.indexOf('(', callStart)
      val close = closeParen(out, open)
      val body = out.substring(open + 1, close)
      // top-level ORDER BY position within the body
      val obPos = SqlLex.topLevelIndexOf(body, cre("(?is)\\bORDER\\s+BY\\b"))
      // a window invocation is NOT rewritten: OVER must attach to the
      // aggregate itself, and Spark's native array_agg window handles
      // it. A FILTER(...) group between the call and OVER can nest
      // parentheses, so skip past it with closeParen rather than a
      // regex that can't balance.
      val windowed = {
        val fM = cre("(?is)^\\s*FILTER\\s*\\(")
          .findPrefixMatchOf(out.substring(close + 1))
        val checkFrom = fM match {
          case Some(f) =>
            closeParen(out, out.indexOf('(', close + 1 + f.end - 1)) + 1
          case None => close + 1
        }
        cre("(?is)^\\s*OVER\\b")
          .findPrefixMatchOf(out.substring(checkFrom)).isDefined
      }
      if (windowed) { from = close + 1 }
      else if (obPos < 0 && fn != "array_agg") { from = close + 1 }
      else if (fn != "array_agg") {
        // order-insensitive aggregate: the clause is semantically void
        out = out.substring(0, open + 1) + ws(body.substring(0, obPos)) +
          out.substring(close)
        from = callStart
      } else {
        val value0 = ws(if (obPos < 0) body else body.substring(0, obPos))
        if (value0 == "*" || value0.isEmpty) { from = close + 1 }
        else {
          val isDistinct = value0.matches("(?is)^DISTINCT\\b.*")
          val valueExpr =
            ws(if (isDistinct) repAll(value0, "(?is)^DISTINCT", "") else value0)
          val parsed: Seq[(String, Boolean, Boolean)] = if (obPos < 0) Seq.empty
          else parseOrderKeys(
            repAll(body.substring(obPos), "(?is)^ORDER\\s+BY", ""))
          // trailing FILTER (WHERE ...) stays inside the wrap
          var tail = close + 1
          val fM = cre("(?is)^\\s*FILTER\\s*\\(")
            .findPrefixMatchOf(out.substring(close + 1))
          var filterTxt = ""
          if (fM.isDefined) {
            val fOpen = out.indexOf('(', close + 1 + fM.get.end - 1)
            val fClose = closeParen(out, fOpen)
            filterTxt = out.substring(close + 1, fClose + 1)
            tail = fClose + 1
          }
          val aggArg = if (isDistinct) "DISTINCT " else ""
          val rewritten =
            if (parsed.isEmpty) {
              // null-keeping plain array_agg
              s"transform(array_agg(${aggArg}struct($valueExpr AS __v))" +
                s"$filterTxt, __x -> __x.__v)"
            } else {
              val fields = parsed.zipWithIndex
                .map { case ((k, _, _), ix) => s"$k AS __o$ix" }
                .mkString("", ", ", ", ") + s"$valueExpr AS __v"
              val arms = parsed.zipWithIndex.flatMap { case ((_, d, nf), ix) =>
                val (lt, gt) = if (d) ("1", "-1") else ("-1", "1")
                val (nl, nr) = if (nf) ("-1", "1") else ("1", "-1")
                Seq(
                  s"WHEN __l.__o$ix IS NULL AND __r.__o$ix IS NOT NULL THEN $nl",
                  s"WHEN __l.__o$ix IS NOT NULL AND __r.__o$ix IS NULL THEN $nr",
                  s"WHEN __l.__o$ix < __r.__o$ix THEN $lt",
                  s"WHEN __l.__o$ix > __r.__o$ix THEN $gt")
              }.mkString(" ")
              s"transform(array_sort(array_agg(${aggArg}struct($fields))" +
                s"$filterTxt, (__l, __r) -> CASE $arms ELSE 0 END), " +
                "__x -> __x.__v)"
            }
          out = out.substring(0, callStart) + rewritten + out.substring(tail)
          from = callStart + rewritten.length
        }
      }
    }
    out
  }

  /** Composed grouping (grammar `SqlBase.g4` groupBy: groupingElement
    * list; reference testGroupingCombinationsAll/Distinct): the
    * standard's GROUP BY takes a LIST of grouping elements whose sets
    * CROSS-PRODUCT — `GROUP BY a, ROLLUP (b, c), CUBE (d)` is 3×2 = 6
    * grouping sets over {a} — and `GROUP BY DISTINCT` dedups the
    * resulting sets. Spark's analyzer only accepts a single analytics
    * element, so mixed forms expand here into one explicit
    * GROUPING SETS (...) whose sets are the computed cross-product.
    * Plain GROUP BY lists and single-element analytics pass through
    * untouched. */
  private def groupByCompositionPass(canon0: String): String = {
    val re = cre("(?i)\\bGROUP\\s+BY\\s+(DISTINCT\\s+|ALL\\s+)?")
    val stopRe = cre(("(?is)^(HAVING|ORDER|LIMIT|OFFSET|FETCH|WINDOW|UNION|" +
      "EXCEPT|INTERSECT)\\b"))
    var out = canon0
    var from = 0
    var guard = 0
    while (guard < 64) {
      guard += 1
      val m = re.findFirstMatchIn(out.substring(from))
      if (m.isEmpty) return out
      val start = from + m.get.start
      val listStart = from + m.get.end
      val distinct = Option(m.get.group(1)).exists(_.trim.equalsIgnoreCase("DISTINCT"))
      // clause extent: to the next top-level stop keyword / ')' / end
      val end = SqlLex.clauseEnd(out, stopRe, listStart)
      val listTxt = out.substring(listStart, end)
      val items = splitTopLevel(listTxt, ',')
        .map(ws)
        .filter(_.nonEmpty)
      def isAnalytics(it: String): Boolean =
        it.matches("(?is)^(ROLLUP|CUBE|GROUPING\\s+SETS)\\s*\\(.*")
      val needsRewrite =
        distinct || (items.count(isAnalytics) > 0 &&
          (items.length > 1 || distinct))
      if (!needsRewrite) { from = end }
      else {
        // each element → its list of sets (a set = list of key texts)
        def innerArgs(it: String): Seq[String] = {
          val open = it.indexOf('(')
          val close = closeParen(it, open)
          splitTopLevel(it.substring(open + 1, close), ',')
            .map(ws)
            .filter(_.nonEmpty)
        }
        // a ROLLUP/CUBE inner argument may itself be a parenthesized
        // COMPOSITE key — its columns move through the expansion as one
        // unit (SQL:2016 <ordinary grouping set> in rollup/cube lists)
        def units(it: String): Seq[Seq[String]] = innerArgs(it).map { g =>
          if (g.startsWith("(")) {
            val c2 = closeParen(g, 0)
            splitTopLevel(g.substring(1, c2), ',')
              .map(ws)
              .filter(_.nonEmpty)
          } else Seq(g)
        }
        val perItem: Seq[Seq[Seq[String]]] = items.map { it =>
          if (it.matches("(?is)^ROLLUP\\s*\\(.*")) {
            val ks = units(it)
            (ks.length to 0 by -1).map(n => ks.take(n).flatten)
          } else if (it.matches("(?is)^CUBE\\s*\\(.*")) {
            val ks = units(it)
            (0 until (1 << ks.length)).map { mask =>
              ks.zipWithIndex.collect {
                case (k, ix) if (mask & (1 << ix)) == 0 => k
              }.flatten.toSeq
            }
          } else if (it.matches("(?is)^GROUPING\\s+SETS\\s*\\(.*")) {
            innerArgs(it).map { g =>
              if (g.startsWith("(")) {
                val c2 = closeParen(g, 0)
                splitTopLevel(g.substring(1, c2), ',')
                  .map(ws)
                  .filter(_.nonEmpty)
              } else Seq(g)
            }
          } else Seq(Seq(it)) // plain key: one singleton set
        }
        val product = perItem.foldLeft(Seq(Seq.empty[String])) { (acc, sets) =>
          for (a <- acc; st <- sets) yield a ++ st
        }
        require(product.length <= 128,
          s"GROUP BY composition expands to ${product.length} grouping sets")
        val finalSets0 = product.map(_.distinct)
        val finalSets = if (distinct) finalSets0.distinct else finalSets0
        val rendered = finalSets
          .map(st => "(" + st.mkString(", ") + ")").mkString(", ")
        val repl = s"GROUP BY GROUPING SETS ($rendered) "
        out = out.substring(0, start) + repl + out.substring(end)
        from = start + repl.length
      }
    }
    out
  }


  /** Row-constructor star expansion (grammar `SqlBase.g4`
    * selectItem `primaryExpression . ASTERISK [AS columnAliases]`;
    * reference sql/query/TestSelectAll): `ROW(e1, ..., en).*` /
    * `(ROW(...)).*` / `(e1, e2).*` in a SELECT list expand INLINE to
    * their elements — the arity is statically known from the
    * constructor text, which Spark's parser (identifier-only
    * qualified stars) cannot do. An optional `AS (a, b, ...)` alias
    * list zips onto the elements. Stars over non-constructor
    * expressions pass through (struct COLUMNS support `.*`
    * natively). */
  private def rowStarPass(canon0: String): String = {
    var out = canon0
    var guard = 0
    while (guard < 64) {
      guard += 1
      val idx = out.indexOf(").*")
      if (idx < 0) return out
      // balanced group ending at idx
      val open = openParen(out, idx)
      if (open < 0) return out
      // optional function head (struct)
      var hs = open
      while (hs > 0 && (out.charAt(hs - 1).isLetterOrDigit || out.charAt(hs - 1) == '_'))
        hs -= 1
      val head = out.substring(hs, open)
      var inner = out.substring(open + 1, idx)
      val isStruct = head.equalsIgnoreCase("struct")
      // (struct(...)).* — parenthesized constructor
      val parenStruct = !isStruct && head.isEmpty &&
        inner.matches("(?is)^\\s*struct\\s*\\(.*\\)\\s*$")
      if (parenStruct) {
        val io = inner.indexOf('(')
        inner = inner.substring(io + 1, closeParen(inner, io))
      }
      val elems = splitTopLevel(inner, ',')
        .map(ws)
      val isTuple = head.isEmpty && !parenStruct && elems.length > 1 &&
        !inner.matches("(?is)^\\s*SELECT\\b.*") // a subquery star is not a tuple
      if (!isStruct && !parenStruct && !isTuple) {
        // not a constructor star (e.g. a struct column's t.*): leave
        // this occurrence; scan past it by blanking temporarily
        val before = out.substring(0, idx + 3)
        val rest = rowStarPass(out.substring(idx + 3))
        return before + rest
      }
      // optional AS (a, b, ...) alias list
      var tail = idx + 3
      var aliased = elems
      val aM = cre("(?is)^\\s*AS\\s*\\(").findPrefixMatchOf(out.substring(tail))
      if (aM.isDefined) {
        val ao = out.indexOf('(', tail + aM.get.end - 1)
        val ac = closeParen(out, ao)
        val names = splitTopLevel(out.substring(ao + 1, ac), ',')
          .map(_.trim)
        require(names.length == elems.length,
          s"row star alias list arity ${names.length} != ${elems.length}")
        aliased = elems.zip(names).map { case (e, n) => s"$e AS $n" }
        tail = ac + 1
      }
      out = out.substring(0, hs) + aliased.mkString(", ") + out.substring(tail)
    }
    out
  }

  private def ifTwoArgPass(canon0: String): String = {
    val re = cre("(?i)\\bif\\s*\\(")
    var out = canon0
    var from = 0
    var guard = 0
    while (guard < 256) {
      guard += 1
      val m = re.findFirstMatchIn(out.substring(from))
      if (m.isEmpty) return out
      val open = out.indexOf('(', from + m.get.start)
      val close = closeParen(out, open)
      val args = splitTopLevel(out.substring(open + 1, close), ',')
      if (args.length == 2)
        out = out.substring(0, close) + ", NULL" + out.substring(close)
      from = open + 1
    }
    out
  }

  /** Reference TRIM semantics (`StringFunctions.java:478` + the
    * `sql/query/TestTrim.java` corpus):
    *
    *  - no-argument TRIM/LTRIM/RTRIM strip every UNICODE whitespace
    *    code point (airlift SliceUtf8 ≡ Character.isWhitespace — the
    *    corpus pins U+2028), Spark's strip ASCII space only → lower
    *    onto the u_trim/u_ltrim/u_rtrim kernels;
    *  - parametrized forms (explicit code-point set) have identical
    *    set semantics in Spark → keyword forms pass through, the
    *    reference's 2-arg function forms respell as keyword forms;
    *  - a CHAR-typed source's trailing padding is insignificant, so
    *    trim on CHAR yields the bare value (testCharTrim: BOTH,
    *    LEADING and TRAILING all drop the padding) → when the source
    *    is a CAST(... AS CHAR...) the whole result takes an outer
    *    space-rtrim.
    */
  private def trimPass(canon0: String): String = {
    val re = cre("(?i)\\b(trim|ltrim|rtrim)\\s*\\(")
    def isCharCast(src: String): Boolean =
      cre("(?is)^CAST\\s*\\(.*\\bAS\\s+(CHAR\\b|GRAFT_CCAST_\\d+).*\\)$")
        .matches(ws(src))
    def charWrap(src: String, expr: String): String =
      if (isCharCast(src)) s"rtrim($expr)" else expr
    var out = canon0
    var from = 0
    var guard = 0
    while (guard < 256) {
      guard += 1
      val m = re.findFirstMatchIn(out.substring(from))
      if (m.isEmpty) return out
      val fn = m.get.group(1).toLowerCase
      val open = out.indexOf('(', from + m.get.start)
      val close = closeParen(out, open)
      val start = from + m.get.start
      val inner = out.substring(open + 1, close)
      val innerT = ws(inner)
      var replacement: Option[String] = None
      if (fn == "ltrim" || fn == "rtrim") {
        val args = splitTopLevel(inner, ',').map(ws)
        val u = if (fn == "ltrim") "u_ltrim" else "u_rtrim"
        val spec = if (fn == "ltrim") "LEADING" else "TRAILING"
        if (args.length == 1)
          replacement = Some(charWrap(args.head, s"$u(${args.head})"))
        else if (args.length == 2)
          // reference 2-arg form: (source, codepoints-to-trim)
          replacement = Some(charWrap(args.head,
            s"TRIM($spec ${args(1)} FROM ${args.head})"))
      } else {
        val specM = cre("(?is)^(LEADING|TRAILING|BOTH)\\b").findPrefixMatchOf(innerT)
        // top-level FROM inside the trim parens
        val fromAt = SqlLex.topLevelIndexOf(inner, cre("(?is)^FROM\\b"))
        (specM, fromAt) match {
          case (Some(sm), at) if at >= 0 =>
            val spec = sm.group(1).toUpperCase
            val lead = inner.length -
              repAll(inner, "^[ \\t\\r\\n]+", "").length
            val mid = ws(inner.substring(lead + sm.end, at))
            val src = ws(inner.substring(at + 4))
            val u = spec match {
              case "LEADING" => "u_ltrim"; case "TRAILING" => "u_rtrim"
              case _ => "u_trim"
            }
            replacement = Some(
              if (mid.isEmpty) charWrap(src, s"$u($src)")
              else charWrap(src, s"TRIM($spec $mid FROM $src)"))
          case (None, at) if at >= 0 =>
            // TRIM(<chars> FROM <x>) — BOTH with an explicit set
            val chars = ws(inner.substring(0, at))
            val src = ws(inner.substring(at + 4))
            replacement = Some(charWrap(src, s"TRIM(BOTH $chars FROM $src)"))
          case _ =>
            val args = splitTopLevel(inner, ',').map(ws)
            if (args.length == 1)
              replacement = Some(charWrap(args.head, s"u_trim(${args.head})"))
            else if (args.length == 2)
              replacement = Some(charWrap(args.head,
                s"TRIM(BOTH ${args(1)} FROM ${args.head})"))
        }
      }
      replacement match {
        case Some(rep) =>
          out = out.substring(0, start) + rep + out.substring(close + 1)
          from = start + rep.length
        case None => from = close + 1
      }
    }
    out
  }

  // ---- relation lowering -------------------------------------------
  // The reference's relation-level forms have no Spark spelling: the
  // UNNEST relation (grammar `SqlBase.g4` relationPrimary UNNEST),
  // sampledRelation, and the queryNoWith OFFSET / FETCH clauses. Each
  // lowers here onto a Spark form, so every statement through
  // translate() gets them; a form outside the subset below stays as
  // written and Spark rejects it.

  private val relIdentP = "(?:[A-Za-z_]\\w*|\uE002\\d+\uE004)"
  private val unnestRe = cre(("(?i)(?:\\b(FROM)\\s+|(,)\\s*|" +
    "\\b(CROSS|LEFT(?:\\s+OUTER)?|INNER)?\\s*\\bJOIN\\s+)UNNEST\\s*\\("))
  private val unnestTailRe = cre(("(?is)\\A(\\s+WITH\\s+ORDINALITY)?(?:\\s*(?:AS\\s+)?" +
    "(?!(?:ON|WHERE|GROUP|ORDER|LIMIT|OFFSET|FETCH|JOIN|INNER|LEFT|RIGHT|FULL|CROSS|" +
    s"NATURAL|UNION|INTERSECT|EXCEPT|HAVING|LATERAL|WINDOW|TABLESAMPLE)\\b)($relIdentP)" +
    "(?:\\s*\\(([^()]*)\\))?)?"))
  private val onTrueRe = cre("(?is)\\A\\s*ON\\s+TRUE\\b")

  /** `UNNEST(e1[, e2, …]) [WITH ORDINALITY] [[AS] a[(c1, …)]]` after
    * FROM, a comma, CROSS JOIN, or `[INNER | LEFT [OUTER]] JOIN … ON
    * TRUE` (the LEFT form keeps rows whose collections are empty or
    * NULL). Every
    * form calls the one generator `graft_unnest(ordinality, e1, …)`
    * ([[graft.functions.Unnest]]), which reads the argument types:
    * the join forms become `LATERAL VIEW [OUTER] graft_unnest(…) a AS
    * c1, …`, the FROM form `FROM (SELECT graft_unnest(…)) a(c1, …)`.
    * Spark checks the column list against the generator's output, so
    * a count mismatch fails at analysis. LATERAL VIEW follows every
    * join of its FROM clause, so an UNNEST joined before another
    * relation does not parse. */
  private def unnestPass(canon0: String): String = {
    if (!canon0.toLowerCase.contains("unnest")) return canon0
    var out = canon0
    var m = unnestRe.findFirstMatchIn(out)
    while (m.isDefined) {
      val mm = m.get
      val close = closeParen(out, mm.end - 1)
      val tm = unnestTailRe.findPrefixMatchOf(out.substring(close + 1)).get
      val call = s"graft_unnest(${tm.group(1) != null}, ${out.substring(mm.end, close)})"
      val alias = Option(tm.group(2))
      val cols = Option(tm.group(3))
      var rest = out.substring(close + 1 + tm.end)
      val rep = if (mm.group(1) != null) {
        s"FROM (SELECT $call)" + alias.fold("")(a => s" $a" + cols.fold("")(c => s"($c)"))
      } else {
        val kind =
          if (mm.group(2) != null) "CROSS"
          else Option(mm.group(3)).map(_.toUpperCase).getOrElse("INNER")
        if (kind != "CROSS") {
          val on = onTrueRe.findPrefixMatchOf(rest)
          require(on.isDefined, s"$kind JOIN UNNEST requires ON TRUE")
          rest = rest.substring(on.get.end)
        }
        val outer = if (kind.startsWith("LEFT")) "OUTER " else ""
        s" LATERAL VIEW $outer$call ${alias.getOrElse("__unnest")}" + cols.fold("")(c => s" AS $c")
      }
      out = out.substring(0, mm.start) + rep + rest
      m = unnestRe.findFirstMatchIn(out)
    }
    out
  }

  private val sampleRe = cre(
    "(?i)\\bTABLESAMPLE\\s+(?:BERNOULLI|SYSTEM)\\s*\\(\\s*(\\d+(?:\\.\\d*)?|\\.\\d+)\\s*\\)")
  private val sampleAliasRe = cre(s"(?is)\\s+(?:AS\\s+)?$relIdentP\\s*\\z")
  private val relationStartRe = cre("(?is)(?:\\bFROM|\\bJOIN|,|\\()\\s*\\z")

  /** `r [AS a] TABLESAMPLE BERNOULLI | SYSTEM (p)` → `r TABLESAMPLE
    * (p PERCENT) REPEATABLE (42) [AS a]`: Spark writes the sample
    * before the alias. Both methods sample rows (Spark has no block
    * sampling), which gives the same row-count distribution as
    * SYSTEM. The fixed seed makes a rerun of one statement return the
    * same rows; Spark rejects a percentage outside [0, 100]. */
  private def samplePass(canon0: String): String = {
    if (!canon0.toLowerCase.contains("tablesample")) return canon0
    var out = canon0
    var m = sampleRe.findFirstMatchIn(out)
    while (m.isDefined) {
      val mm = m.get
      val sample = s"TABLESAMPLE (${mm.group(1)} PERCENT) REPEATABLE (42)"
      val before = out.substring(0, mm.start)
      val aliasAt = sampleAliasRe.findFirstMatchIn(before)
        .filter(a => relationStartRe.findFirstIn(before.substring(0, a.start)).isEmpty)
        .map(_.start)
      out = aliasAt match {
        case Some(at) =>
          out.substring(0, at) + " " + sample + before.substring(at) + out.substring(mm.end)
        case None => before + sample + out.substring(mm.end)
      }
      m = sampleRe.findFirstMatchIn(out)
    }
    out
  }

  private val rowCountP = "(\\d+|\\([^()]*\\))"
  private val fetchRe = cre("(?i)\\b(?:OFFSET|FETCH)\\b")
  private val fetchTailRe = cre(("(?is)\\A(?:OFFSET\\s+" + rowCountP + "(?:\\s+ROWS?\\b)?\\s*)?" +
    "(?:LIMIT\\s+(\\d+|ALL\\b|\\([^()]*\\))|FETCH\\s+(?:FIRST|NEXT)\\s+(?:" + rowCountP +
    "\\s+)?ROWS?\\s+(ONLY|WITH\\s+TIES)\\b)?"))
  private val orderByRe = cre("(?i)ORDER\\s+BY\\b")
  private val emptyOrderByRe = cre("(?is)\\bORDER\\s+BY\\s*\\z")
  private val ordinalKeyRe = cre("(?is)\\A\\s*\\d+(\\s+(ASC|DESC))?(\\s+NULLS\\s+(FIRST|LAST))?\\s*\\z")

  /** `[OFFSET k [ROW | ROWS]] [LIMIT n | FETCH FIRST | NEXT [n] ROW |
    * ROWS ONLY]` → Spark's `[LIMIT n] [OFFSET k]` (Spark writes LIMIT
    * first; FETCH without a count takes one row), and
    * `ORDER BY k FETCH FIRST n ROWS WITH TIES` → `(<query>) |> EXTEND
    * rank() OVER (ORDER BY k) AS __rk |> WHERE __rk <= n |> DROP __rk
    * |> ORDER BY k`, the rank-filter form Spark plans as
    * WindowGroupLimit. The rank runs over the query's output, so the
    * WITH TIES sort keys must name output columns (a key that is not
    * one fails at analysis; an ordinal would rank every row equal, so
    * it is refused here), and OFFSET with WITH TIES is refused. A
    * malformed FETCH clause stays as written. */
  private def fetchPass(canon0: String): String = {
    val low = canon0.toLowerCase
    if (!low.contains("fetch") && !low.contains("offset")) return canon0
    var out = canon0
    def next(from: Int): Int =
      fetchRe.findFirstMatchIn(out.substring(from)).fold(-1)(_.start + from)
    var at = next(0)
    while (at >= 0) {
      val tm = fetchTailRe.findPrefixMatchOf(out.substring(at)).get
      val offset = Option(tm.group(1))
      val fetch = Option(tm.group(4)).map(_.toUpperCase)
      val limit = Option(tm.group(2)).orElse(fetch.map(_ => Option(tm.group(3)).getOrElse("1")))
      if (fetch.isDefined)
        require(emptyOrderByRe.findFirstIn(out.substring(0, at)).isEmpty,
          "ORDER BY requires at least one sort key")
      if (tm.end == 0) at = next(at + 1) // not a clause, or a malformed FETCH
      else if (!fetch.exists(_.startsWith("WITH"))) {
        val rep = limit.fold("")(n => s"LIMIT $n") + offset.fold("")(k => s" OFFSET $k")
        out = out.substring(0, at) + rep + out.substring(at + tm.end)
        at = next(at + rep.length)
      } else {
        require(offset.isEmpty, "OFFSET with FETCH FIRST ... WITH TIES is not supported")
        val qStart = openParen(out, at) + 1
        val ob = SqlLex.lastTopLevelIndexOf(out, orderByRe, qStart, at)
        require(ob >= 0, "FETCH FIRST ... WITH TIES requires ORDER BY")
        val keys = ws(out.substring(ob + orderByRe.findPrefixMatchOf(out.substring(ob)).get.end, at))
        require(!splitTopLevel(keys, ',').exists(k => ordinalKeyRe.findFirstIn(k).isDefined),
          "FETCH FIRST ... WITH TIES sorts by output columns, not ordinals")
        val rep = s"(${ws(out.substring(qStart, ob))}) |> EXTEND rank() OVER (ORDER BY $keys) " +
          s"AS __rk |> WHERE __rk <= ${limit.get} |> DROP __rk |> ORDER BY $keys"
        out = out.substring(0, qStart) + rep + out.substring(at + tm.end)
        at = next(qStart + rep.length)
      }
    }
    out
  }

  /** Collection-constructor sugar (grammar `SqlBase.g4` primaryExpression
    * ARRAY/ROW/MAP rules): `ARRAY[e1, …]` → `array(e1, …)`,
    * `ROW(e1, …)` → `struct(e1, …)` (Spark compares structs
    * lexicographically regardless of field names, matching row
    * comparison semantics), and the two-array-literal map constructor
    * `MAP(ARRAY[…], ARRAY[…])` → `map_from_arrays(array(…), array(…))`.
    *
    * ARRAY brackets nest and may hold string literals (`ARRAY['a',
    * 'b']`), which are bracket-free sentinels on canonical text, so one
    * bracket-matching scan does it (a stack distinguishes ARRAY-literal
    * `[` from subscript `[`, which subscriptPass lowers onto
    * element_at). `CAST(x AS ROW(…))` targets translate to Spark
    * `STRUCT<…>` spellings via rowTypePass/sparkType (r14; the
    * pre-r14 posture was fail-loud). */
  private def constructorPass(canon: String, lex: SqlLex.Lexed): String = {
    var out = canon
    // map constructor first, so its ARRAY args are still spelled ARRAY
    out = repAll(out, "(?i)\\bMAP\\s*\\(\\s*(?=ARRAY\\s*\\[)",
      "map_from_arrays(")
    // session pseudo-functions (reference TestSessionFunctions):
    // keyword forms map onto Spark's function spellings; CURRENT_PATH
    // is the reference's empty-path default (no SQL path here), and
    // current_groups() is a registered UDF (no identity groups)
    out = repAll(out, "(?i)\\bCURRENT_CATALOG\\b(?!\\s*\\()", "current_catalog()")
    out = repAll(out, "(?i)\\bCURRENT_SCHEMA\\b(?!\\s*\\()", "current_schema()")
    out = repAll(out, "(?i)\\bCURRENT_USER\\b(?!\\s*\\()", "current_user()")
    out = repAll(out, "(?i)\\bCURRENT_PATH\\b", "''")
    recursiveGuard(out)
    cteAliasGuard(out)
    out = rowTypePass(out)
    out = valuesRowPass(out)
    out = repAll(out, "(?i)\\bROW\\s*\\(", "struct(")
    out = unnestPass(out)
    out = samplePass(out)
    out = projectedInPass(out)
    out = quantifiedPass(out)
    out = innerJoinOnSubqueryPass(out)
    out = inValuesPass(out)
    out = reduceAggPass(out)
    out = valuesLambdaPass(out)
    out = applyPass(out)
    out = ifTwoArgPass(out)
    out = trimPass(out)
    out = rowStarPass(out)
    out = groupByCompositionPass(out)
    out = windowedFilterPass(out)
    // listaggOverflowPass consumes the WITHIN GROUP (ORDER BY …)
    // tail itself, so it must run BEFORE orderedAggPass (which would
    // otherwise rewrite the inner value expression)
    out = listaggOverflowPass(out, lex)
    out = orderedAggPass(out)
    out = WindowFrameSql.pass(out, lex)
    out = unorderedRankingPass(out)
    out = fetchPass(out)
    out = orderByNullsPass(out)
    out = castAsJsonPass(out)
    out = castAsUuidIpPass(out)
    out = castCharLenPass(out)
    // LIMIT literals past Int.MaxValue: the reference accepts a BIGINT
    // row count (testLimitMax — LIMIT 9223372036854775807 means "no
    // limit"); Spark requires an INT literal, so clamp. Row counts
    // between 2^31 and 2^63 are indistinguishable from unlimited for
    // any result a driver could fetch.
    out = cre("(?i)\\bLIMIT\\s+(\\d{10,})")
      .replaceAllIn(out, m =>
        if (BigInt(m.group(1)) > Int.MaxValue) s"LIMIT ${Int.MaxValue}" else m.matched)
    // LIMIT ALL (standard, testOrderByLimitAll): explicit no-limit —
    // Spark has no spelling for it, drop the clause.
    out = repAll(out, "(?i)\\bLIMIT\\s+ALL\\b", "")
    // `count()` with no argument is the reference's count(*)
    out = repAll(out, "(?i)\\bcount\\s*\\(\\s*\\)", "count(*)")

    val sb = new StringBuilder
    val stack = scala.collection.mutable.Stack[Boolean]()
    val arrayRe = cre("(?i)\\AARRAY\\s*\\[")
    var i = 0
    while (i < out.length) {
      val c = out.charAt(i)
      val wordStart = i == 0 || !Character.isLetterOrDigit(out.charAt(i - 1)) &&
        out.charAt(i - 1) != '_'
      val m = if (wordStart && (c == 'A' || c == 'a'))
        arrayRe.findFirstMatchIn(out.substring(i)) else None
      m match {
        case Some(mm) =>
          sb ++= "array("; stack.push(true); i += mm.end
        case None =>
          if (c == '[') { stack.push(false); sb += c }
          else if (c == ']' && stack.nonEmpty) {
            sb ++= (if (stack.pop()) ")" else "]")
          } else sb += c
          i += 1
      }
    }

    // jsonConstructorPass runs LAST (after the bracket scan and
    // subscript lowering): it emits '[' / ']' STRING LITERALS, which
    // the subscript pass would otherwise read as raw subscript
    // brackets
    jsonConstructorPass(SqlJsonClauses.pass(subscriptPass(sb.toString), lex))
  }

  /** Reference subscript semantics: `expr[i]` is 1-BASED for arrays
    * and key-lookup for maps (`SqlBase.g4` primaryExpression
    * subscript; `ArraySubscriptOperator.java`), while Spark's `[...]`
    * is 0-based — passing subscripts through (the pre-r14 posture)
    * silently shifted every index by one, which the reference's own
    * testGroupByArray vector caught. `element_at` has EXACTLY the
    * reference's contract (1-based arrays, key-based maps), so every
    * subscript remaining after ARRAY-literal conversion lowers onto
    * it. Runs on the bracket-scanned canonical text: all ARRAY[...]
    * literals are already `array(...)`, so each `[` here is a
    * subscript. Nested subscripts converge over iterations
    * (`a[1][2]` -> `element_at(element_at(a, 1), 2)`). */
  private def subscriptPass(canon0: String): String = {
    var out = canon0
    var guard = 0
    var idx = out.indexOf('[')
    while (idx >= 0 && guard < 256) {
      guard += 1
      // matching ']' (subscript expressions may nest brackets)
      var depth = 1
      var i = idx + 1
      while (i < out.length && depth > 0) {
        val c = out.charAt(i)
        if (c == '[') depth += 1 else if (c == ']') depth -= 1
        i += 1
      }
      require(depth == 0, s"unbalanced subscript in: $canon0")
      val inner = out.substring(idx + 1, i - 1)
      // operand: backward scan -- paren group (with optional function
      // head), identifier/literal-sentinel token, or a dereference
      // chain hanging off a paren group (`CAST(..).bb[1]`), which
      // extends through the group and its head
      var e = idx
      var s0 = e
      var extend = true
      while (extend) {
        extend = false
        if (s0 > 0 && out.charAt(s0 - 1) == ')') {
          s0 = openParen(out, s0 - 1)
          while (s0 > 0 && (out.charAt(s0 - 1).isLetterOrDigit ||
            out.charAt(s0 - 1) == '_')) s0 -= 1
        } else {
          while (s0 > 0 && operandChar(out.charAt(s0 - 1))) s0 -= 1
          if (s0 > 0 && s0 < e && out.charAt(s0) == '.' &&
            out.charAt(s0 - 1) == ')') extend = true
        }
      }
      val operand = out.substring(s0, e)
      require(operand.nonEmpty, s"subscript with no operand in: $canon0")
      out = out.substring(0, s0) + s"element_at($operand, $inner)" + out.substring(i)
      idx = out.indexOf('[')
    }
    out
  }
}

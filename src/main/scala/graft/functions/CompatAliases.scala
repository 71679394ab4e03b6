package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{ApproximatePercentile, Average, BitAndAgg, BitOrAgg, First, HyperLogLogPlusPlus, Max, MaxBy, Min, MinBy, Percentile}
import org.apache.spark.sql.functions.udf
import org.apache.spark.sql.types._

/** Exact-name compatibility layer: the reference spellings that were
  * still missing from the registry after the gap-fill rounds
  * (audited against the `@ScalarFunction`/`@AggregationFunction`
  * annotations in `core/trino-main/.../operator/`), each lowered onto
  * the Spark codegen expression with the same semantics where one
  * exists — a name alias costs nothing at runtime — and onto a UDF
  * only where none does. A user's existing queries keep their
  * function spellings.
  *
  * Notable semantic mappings (reference file in parens):
  *   - day_of_week/dow are ISO Monday=1..Sunday=7
  *     (DateTimeFunctions.java) — Spark's dayofweek is Sunday=1, so
  *     these lower onto WeekDay (Monday=0) + 1. Datetime field
  *     extractors return BIGINT like the reference, not Spark's INT.
  *   - bitwise_right_shift is a LOGICAL shift (BitwiseFunctions.java),
  *     → ShiftRightUnsigned; .._arithmetic → ShiftRight.
  *   - combine_hash is 31*h1+h2 (CombineHashFunction.java), wrapping.
  *   - checksum / histogram / approx_distinct / arbitrary /
  *     bitwise_and_agg / geometric_mean (AggregationFunctions):
  *     checksum is an order-independent xxhash64 wrapping sum rendered
  *     as 8-byte big-endian varbinary; approx_distinct lowers onto
  *     HyperLogLogPlusPlus with the reference's 2.3% default error.
  *   - approx_set (HyperLogLogFunctions.java) aliases the KMV set
  *     digest — same contract (mergeable distinct sketch), different
  *     sketch family, documented divergence.
  *   - timezone_hour/timezone_minute (DateTimeFunctions.java) operate
  *     on the tstz emulation struct (see [[TimestampTz]]): the offset
  *     is wall-minus-instant resolved at that instant, so DST is
  *     correct; both truncate toward zero like the reference
  *     (-05:30 → hour -5, minute -30).
  *   - from_unixtime_nanos / from_iso8601_timestamp_nanos parse at
  *     the engine's micros precision (TIMESTAMP(9) is emulated
  *     corpus-wide as micros + the ts_ns bigint convention).
  */
object CompatAliases {

  private def asLong(x: Expression): Expression = Cast(x, LongType)

  def define(t: FunctionTable): Unit = {
    // ---- string position / codepoints
    t.fn("strpos", c => asLong(StringInstr(c(0), c(1))))
    // Reference split(s, delim[, limit]) (`operator/scalar/
    // SplitFunction.java`): the delimiter is a LITERAL string, not a
    // regex. Escape every non-alphanumeric char (ASCII letters/digits
    // can't be escaped in Java regex; everything else escapes
    // harmlessly) so `split(s, '.')` splits on dots. Both engines keep
    // trailing empty fields (Java split limit=-1), and a positive
    // limit leaves the unsplit remainder in the last field. An empty
    // delimiter raises, per the reference contract. Dialect.translate
    // routes the reference spelling here as graft_split, leaving
    // Spark's own regex `split` untouched for native queries.
    // Reference regexp_extract: default group 0, NULL on no-match and
    // on non-participating groups (see RegexpCompat). 2-arg
    // regexp_replace deletes matches (Spark's builtin requires the
    // replacement argument). Dialect.translate routes the reference
    // spellings here.
    t.fn("graft_regexp_extract", c =>
      GraftRegexpExtract(c(0), c(1),
        if (c.length == 3) Cast(c(2), IntegerType) else Literal(0)))
    // regexp_position(source, pattern) → 1-based char position of the
    // first match, -1 when none (Spark's regexp_instr yields 0 there).
    // The start-position/occurrence overloads are unsupported and
    // throw rather than mistranslate.
    t.fn("regexp_position", c => c.length match {
      case 2 => If(RLike(c(0), c(1)),
        Cast(RegExpInStr(c(0), c(1), Literal(0)), IntegerType), Literal(-1))
      case _ => throw new IllegalArgumentException(
        "regexp_position with start/occurrence arguments is not supported")
    })
    t.fn("graft_regexp_replace", c => c.length match {
      case 2 => RegExpReplace(c(0), c(1), Literal(""), Literal(1))
      case 3 => RegExpReplace(c(0), c(1), c(2), Literal(1))
      case _ => throw new IllegalArgumentException( // fail loud, never drop args
        "regexp_replace with a lambda replacement is not supported")
    })
    // Reference substr(s, start[, len]) (`operator/scalar/
    // StringFunctions.java`): start 0 yields '' — Spark's builtin
    // treats 0 as position 1. Negative starts count from the end
    // identically on both engines. Dialect.translate routes
    // substr/substring call syntax here; the SUBSTRING(x FROM n)
    // grammar form parses straight to Spark's node and keeps Spark
    // semantics (documented edge).
    // (Spark also clamps an out-of-range negative start to 0 — whole
    // string — where the reference yields '', so both zero and
    // past-the-front starts route to the empty branch.)
    t.fn("graft_substr", c => {
      // reference arity: substr(s, start[, length]) — reject extras
      // loudly (TestAnalyzer pins wrong-arity calls as errors)
      require(c.length == 2 || c.length == 3,
        s"substr expects 2 or 3 arguments, got ${c.length}")
      val start = Cast(c(1), IntegerType)
      val sub =
        if (c.length == 3) Substring(c(0), start, Cast(c(2), IntegerType))
        else new Substring(c(0), start)
      val empty = Or(EqualTo(start, Literal(0)),
        And(LessThan(start, Literal(0)),
          LessThan(Add(Length(c(0)), start), Literal(0))))
      If(empty, Literal(""), sub)
    })
    t.fn("graft_split", c => {
      val quoted = RegExpReplace(c(1),
        Literal("([^a-zA-Z0-9])"), Literal("\\\\$1"), Literal(1))
      val limit = if (c.length == 3) Cast(c(2), IntegerType) else Literal(-1)
      If(EqualTo(Length(c(1)), Literal(0)),
        new RaiseError(Literal("USER_RAISED_EXCEPTION"),
          CreateMap(Seq(Literal("errorMessage"),
            Literal("The delimiter of split may not be the empty string"))),
          ArrayType(StringType)),
        StringSplit(c(0), quoted, limit))
    })
    // Reference N-variants under their native overloaded spellings
    // (`min(x, n)` = values of the n smallest x; `min_by(x, y, n)`):
    // arity-dispatch onto the bounded-heap aggregates; the 1/2-arg
    // forms stay the Spark builtins (NanAwareFloatingAggs then swaps
    // floating-point ones for the NaN-skipping variants at resolution).
    t.fn("min", c => if (c.length == 2) MinByN(c(0), c(0), c(1)) else Min(c.head))
    t.fn("max", c => if (c.length == 2) MaxByN(c(0), c(0), c(1)) else Max(c.head))
    t.fn("min_by", c =>
      if (c.length == 3) MinByN(c(0), c(1), c(2)) else MinBy(c(0), c(1)))
    t.fn("max_by", c =>
      if (c.length == 3) MaxByN(c(0), c(1), c(2)) else MaxBy(c(0), c(1)))
    // Reference approx_percentile signatures
    // (`QuantileDigestAggregationFunction.java`): 2-arg (x, p) and the
    // WEIGHTED 3-arg (x, w, p) — each row counts w times. Spark's own
    // 3-arg alias means (x, p, accuracy) instead, so dispatch on the
    // foldable third argument: a fraction ≤ 1 is the reference's
    // percentile (weighted form), an integer > 1 is Spark's accuracy.
    // The weighted form runs EXACT via Percentile's frequency column —
    // one pass, per-group value→count state, no row expansion (the
    // same stronger-contract posture as ag13).
    t.fn("approx_percentile", c => c.length match {
      case 2 => new ApproximatePercentile(c(0), c(1))
      case 3 =>
        val third = c(2) match {
          case Literal(d: org.apache.spark.sql.types.Decimal, _) => d.toDouble
          case Literal(n: Number, _) => n.doubleValue
          case _ => Double.NaN
        }
        if (third > 1.0) new ApproximatePercentile(c(0), c(1), c(2))
        else new Percentile(c(0), c(2), Cast(c(1), LongType))
      case n => throw new IllegalArgumentException(
        s"approx_percentile takes (x, p) or (x, w, p), got $n args")
    })
    // Reference `contains(array, elem)` is ARRAY membership
    // (ArrayFunctions.java) — Spark's built-in `contains` is
    // string/binary-only, so dispatch on the (resolved-by-now) input
    // type; the string form stays for Spark-dialect callers.
    t.fn("contains", c => c.head.dataType match {
      case at: org.apache.spark.sql.types.ArrayType =>
        // row comparison is positional in the reference, so align the
        // probe's struct field NAMES with the array's element type
        // (Spark demands an exact type match, names included)
        val elem = if (c(1).dataType == at.elementType) c(1)
          else Cast(c(1), at.elementType)
        ArrayContains(c(0), elem)
      case _ => Contains(c(0), c(1))
    })
    t.fn("codepoint", c => Ascii(c.head)) // INTEGER, like the reference
    // array_min/array_max (ArrayMinFunction.java): ANY null element
    // makes the result NULL (Spark's builtins skip nulls). The
    // CaseWhen blanks the whole array when it holds a null — its
    // implicit ELSE NULL needs no element-type literal — and the
    // builtin then returns NULL for a NULL array. NaN ordering (NaN
    // greater than everything) already matches.
    def nullPropagating(arr: Expression): Expression =
      CaseWhen(Seq((EqualTo(Size(arr), Size(new ArrayCompact(arr))), arr)))
    t.fn("array_min", c => ArrayMin(nullPropagating(c.head)))
    t.fn("array_max", c => ArrayMax(nullPropagating(c.head)))
    // flatten (ArrayFlattenFunction.java): NULL inner arrays are
    // SKIPPED; Spark's Flatten nulls the whole result
    t.fn("flatten", c => Flatten(new ArrayCompact(c.head)))
    // element_at (reference subscript semantics): out-of-bounds is
    // NULL, not an error — Spark 4's ANSI default raises. Index 0
    // still raises in both engines.
    t.fn("element_at", c => ElementAt(c(0), c(1), None, failOnError = false))
    // width_bucket(x, bins) array form (MathFunctions.java): index =
    // count of ascending bin bounds <= x, as a narrow filter-count —
    // the 4-arg form stays Spark's codegen builtin
    t.fn("width_bucket", c =>
      if (c.length == 2) {
        val b = UnresolvedNamedLambdaVariable(Seq("b"))
        asLong(Size(ArrayFilter(c(1),
          LambdaFunction(LessThanOrEqual(b, c(0)), Seq(b)))))
      } else WidthBucket(c(0), c(1), c(2), c(3)))
    // to_iso8601 (DateTimeFunctions.java:199): type-overloaded in the
    // reference — DATE renders bare 'yyyy-MM-dd', timestamps render
    // the 'T' form with millis only when non-zero
    t.fn("to_iso8601", c => c.head.dataType match {
      case DateType => Cast(c.head, StringType)
      case _ =>
        val ts = Cast(c.head, TimestampType)
        val base = DateFormatClass(ts, Literal("yyyy-MM-dd'T'HH:mm:ss"))
        val millis = new IntegralDivide(
          new Pmod(UnixMicros(ts), Literal(1000000L)), Literal(1000L))
        If(EqualTo(millis, Literal(0L)), base,
          Concat(Seq(base, Literal("."),
            StringLPad(Cast(millis, StringType), Literal(3), Literal("0")))))
    })
    // date_trunc preserves the input type (reference returns DATE for
    // DATE input; Spark's builtin widens to TIMESTAMP). Sub-day units
    // on a DATE truncate midnight → the same date, like the reference.
    t.fn("date_trunc", c => c(1).dataType match {
      case DateType =>
        Cast(TruncTimestamp(c(0), Cast(c(1), TimestampType)), DateType)
      case _ => TruncTimestamp(c(0), c(1))
    })
    // levenshtein_distance (StringFunctions.java): BIGINT, codepoint
    // edit distance — Spark's Levenshtein has identical semantics at
    // INT width
    t.fn("levenshtein_distance", c => asLong(new Levenshtein(c(0), c(1))))
    t.fn("starts_with", c => StartsWith(c(0), c(1)))
    // ltrim/rtrim (string, charset): the reference's two-arg forms
    // treat the second argument as a SET of codepoints to strip —
    // exactly Catalyst's trimStr semantics. One-arg forms stay the
    // whitespace builtins.
    // (Catalyst's legacy two-expression constructor is (trimStr, src))
    t.fn("ltrim", c =>
      if (c.length == 2) new StringTrimLeft(c(1), c(0)) else StringTrimLeft(c(0)))
    t.fn("rtrim", c =>
      if (c.length == 2) new StringTrimRight(c(1), c(0)) else StringTrimRight(c(0)))

    // ---- datetime field extraction (reference returns BIGINT; ISO dow)
    val dowB = (c: Seq[Expression]) => asLong(new Add(WeekDay(c.head), Literal(1)))
    t.fn("day_of_week", dowB)
    t.fn("dow", dowB)
    t.fn("day_of_year", c => asLong(DayOfYear(c.head)))
    t.fn("doy", c => asLong(DayOfYear(c.head)))
    t.fn("week", c => asLong(WeekOfYear(c.head)))
    t.fn("week_of_year", c => asLong(WeekOfYear(c.head)))
    t.fn("year_of_week", c => asLong(YearOfWeek(c.head)))
    t.fn("yow", c => asLong(YearOfWeek(c.head)))
    t.fn("day_of_month", c => asLong(DayOfMonth(c.head)))
    // millisecond-of-second, 0..999 (Pmod keeps it non-negative for
    // pre-epoch instants, matching field extraction semantics)
    t.fn("millisecond", c =>
      new IntegralDivide(new Pmod(UnixMicros(c.head), Literal(1000000L)),
        Literal(1000L)))
    t.fn("to_unixtime", c =>
      new Divide(Cast(UnixMicros(c.head), DoubleType), Literal(1e6)))
    t.fn("from_unixtime_nanos", c =>
      MicrosToTimestamp(new IntegralDivide(c.head, Literal(1000L))))

    // ---- numeric / bitwise
    // Spark's IsNaN is false on NULL; the reference propagates NULL
    // (TestMathFunctions testIsNaN: is_nan(NULL) → NULL)
    t.fn("is_nan", c => If(IsNull(c.head),
      Literal.create(null, BooleanType), IsNaN(c.head)))
    t.fn("nan", _ => Literal(Double.NaN))
    t.fn("bitwise_left_shift", c => ShiftLeft(c(0), c(1)))
    t.fn("bitwise_right_shift", c => ShiftRightUnsigned(c(0), c(1)))
    t.fn("bitwise_right_shift_arithmetic", c => ShiftRight(c(0), c(1)))
    t.fn("combine_hash", c =>
      CombineHash(Cast(c(0), LongType), Cast(c(1), LongType)))

    // ---- binary codecs
    t.fn("from_hex", c => new Unhex(c.head))
    t.fn("from_base64", c => new UnBase64(c.head))
    t.fn("to_base64", c => Base64(c.head))
    t.fn("to_hex", c => Hex(c.head))
    // md5/sha1 (VarbinaryFunctions.java) take VARBINARY and return the
    // raw digest bytes; the string forms keep Spark's hex-string
    // spelling (the reference rejects string input outright, so the
    // dispatch can't mis-route a reference query)
    t.fn("md5", c => c.head.dataType match {
      case BinaryType => new Unhex(Md5(c.head))
      case _ => Md5(c.head)
    })
    t.fn("sha1", c => c.head.dataType match {
      case BinaryType => new Unhex(Sha1(c.head))
      case _ => Sha1(c.head)
    })
    // grouping(a, b, ...) (reference GroupingOperationFunction.java):
    // multi-argument form is a bitmask, leftmost argument most
    // significant. NOT lowered onto Spark's grouping_id — that demands
    // the argument list equal the full GROUP BY list in order, while
    // the reference accepts any subset in any order — but composed
    // from per-column grouping() bits: acc * 2 + grouping(c).
    t.fn("grouping", c =>
      if (c.length == 1) Grouping(c.head)
      else c.tail.foldLeft(Cast(Grouping(c.head), IntegerType): Expression) {
        (acc, col) => Add(Multiply(acc, Literal(2)), Cast(Grouping(col), IntegerType))
      })
    // TRY(expr) (reference TryFunction.java / TestTryFunction.java):
    // evaluate and return NULL on error — failed casts, division by
    // zero, invalid function arguments, arithmetic overflow. Spark's
    // TryEval is the same contract (it is what try_add/try_cast wrap),
    // codegen'd as a try/catch around the child's generated code.
    // Documented divergences: the reference refuses to suppress
    // INTERNAL errors (TryEval catches everything), and TRY over a
    // column computed in an enclosing query block is still lazy here
    // (Spark collapses projections, so TRY(x) with x = 1/y from a
    // subquery suppresses the error the reference would raise).
    // Dialect.translate still rewrites the TRY(a / b) spelling onto
    // try_divide first — the DuckDB oracle yields NULL for double/0
    // where both the reference and bare Spark yield IEEE Infinity, so
    // the division form keeps the oracle-compatible NULL contract.
    t.fn("try", c => TryEval(c.head))
    // xxhash64(varbinary) → 8-byte big-endian VARBINARY, seed 0
    // (VarbinaryFunctions.java; Spark's builtin is a BIGINT with
    // seed 42). Spark's XXH64 kernel IS canonical xxh64, so only the
    // seed and rendering differ: hex-render the seed-0 hash and unhex
    // back to the raw big-endian bytes, all codegen expressions. Same
    // binary-only dispatch as md5 above — a UDF here replaced the
    // builtin for EVERY input type session-wide, which broke Verify's
    // own registry-resolved fingerprint hash (string input).
    t.fn("xxhash64", c => c.head.dataType match {
      case BinaryType => new Unhex(StringLPad(
        Hex(XxHash64(Seq(c.head), 0L)), Literal(16), Literal("0")))
      case _ => new XxHash64(c)
    })

    // ---- crypto digests (VarbinaryFunctions.java): the reference
    // returns VARBINARY; Spark's sha2 emits lowercase hex, so unhex
    // recovers the raw digest bytes.
    t.fn("sha256", c => new Unhex(Sha2(c.head, Literal(256))))
    t.fn("sha512", c => new Unhex(Sha2(c.head, Literal(512))))

    // ---- lambda predicates (ArrayFunctions all_match/any_match/
    // none_match): lower onto Spark's forall/exists expressions —
    // identical three-valued logic (null element result + no TRUE →
    // NULL); none_match is the reference's own complement-of-any
    // definition.
    t.fn("all_match", c => ArrayForAll(c(0), c(1)))
    t.fn("any_match", c => ArrayExists(c(0), c(1)))
    // NOT(exists) would put a non-HOF at the root, which the analyzer
    // rejects for lambda calls — so negate INSIDE the lambda instead:
    // forall(x -> NOT f(x)) has the identical 3VL truth table
    // (false iff some f TRUE; NULL iff none TRUE and some NULL).
    t.fn("none_match", c => c(1) match {
      case lf: LambdaFunction => ArrayForAll(c(0), lf.copy(function = Not(lf.function)))
      case other => ArrayForAll(c(0), other)
    })

    // ---- numeric constants (MathFunctions.java)
    t.fn("infinity", _ => Literal(Double.PositiveInfinity))
    t.fn("e", _ => Literal(math.E))
    // is_finite / is_infinite (MathFunctions.java): finite = not NaN
    // and |x| < inf. IsNaN(null) is FALSE in Spark, so the null path
    // rides the comparison limb (null < inf → null; and(true, null) →
    // null) — matching the reference's NULL → NULL
    t.fn("is_finite", c => {
      val d = Cast(c.head, DoubleType)
      And(Not(IsNaN(d)), LessThan(Abs(d), Literal(Double.PositiveInfinity)))
    })
    t.fn("is_infinite", c =>
      EqualTo(Abs(Cast(c.head, DoubleType)), Literal(Double.PositiveInfinity)))

    // ---- maps / arrays
    t.fn("split_to_map", c => new StringToMap(c(0), c(1), c(2)))
    // reference argument contract (negative / beyond-cardinality sizes
    // raise) — see graft.functions.TrimArray
    t.fn("trim_array", c => TrimArray(c(0), c(1)))
    // concat_ws conformance (ConcatWsFunction.java): a NULL ARRAY
    // argument yields NULL (Spark skips it → ''), and the 1-arg form
    // is rejected. Mixed scalar/array varargs keep Spark semantics
    // (the reference has no such signature).
    t.fn("concat_ws", c => {
      if (c.length < 2) throw new IllegalArgumentException(
        "There must be two or more arguments")
      val base = ConcatWs(c)
      val arrayArg = c.length == 2 &&
        (try c(1).resolved && c(1).dataType.isInstanceOf[ArrayType]
        catch { case _: Exception => false })
      if (arrayArg) If(IsNull(c(1)), Literal(null, StringType), base)
      else base
    })

    // ---- tstz emulation accessors (struct<instant,zone> — TimestampTz)
    def tzOffset(tz: Expression): Expression = {
      val instant = GetStructField(tz, 0, Some("instant"))
      val zone = GetStructField(tz, 1, Some("zone"))
      new IntegralDivide(
        new Subtract(UnixMicros(FromUTCTimestamp(instant, zone)),
          UnixMicros(instant)),
        Literal(1000000L))
    }
    t.fn("timezone_hour", c => new IntegralDivide(tzOffset(c.head), Literal(3600L)))
    t.fn("timezone_minute", c =>
      new IntegralDivide(new Remainder(tzOffset(c.head), Literal(3600L)),
        Literal(60L)))

    // ---- aggregates
    t.fn("approx_distinct", c =>
      if (c.length >= 2)
        HyperLogLogPlusPlus(c(0), relativeSD = HyperLogLogPlusPlus.validateDoubleLiteral(c(1)))
      else HyperLogLogPlusPlus(c(0), relativeSD = 0.023))
    t.fn("arbitrary", c => First(c.head, ignoreNulls = true))
    // reference greatest/least return NULL when ANY argument is NULL
    // (AbstractGreatestLeast.java codegen; TestMathFunctions
    // `greatest(5, 4, NULL, 3)` → NULL) — Spark's builtins SKIP nulls.
    // Registered under graft_ names and routed by the dialect, so
    // engine-emitted Spark SQL (frame lowerings) keeps Spark's
    // null-skipping forms. StrictGreatestLeast evaluates each
    // argument exactly once (the earlier If(IsNull…) wrap duplicated
    // every argument into guard + result).
    t.fn("graft_greatest", c => StrictGreatestLeast.build(c, isGreatest = true))
    t.fn("graft_least", c => StrictGreatestLeast.build(c, isGreatest = false))
    // LISTAGG ON OVERFLOW: dialect lowers the clause onto this
    // bounded-state ordered aggregate (functions/ListaggOverflow);
    // the non-struct arguments are literal tokens on canonical text
    t.fn("graft_listagg_capped", c => {
      def str(x: Expression): String =
        Option(x.eval()).map(_.toString).getOrElse("")
      def bool(x: Expression): Boolean = x.eval().asInstanceOf[Boolean]
      def bools(x: Expression): Seq[Boolean] = x.eval() match {
        case null => Seq.empty
        case a: org.apache.spark.sql.catalyst.util.ArrayData =>
          (0 until a.numElements()).map(a.getBoolean)
      }
      ListaggCappedAgg(c(0), str(c(1)), bool(c(2)), str(c(3)), bool(c(4)),
        bools(c(5)), bools(c(6)))
    })
    t.fn("bitwise_and_agg", c => BitAndAgg(c.head))
    t.fn("bitwise_or_agg", c => BitOrAgg(c.head))
    t.fn("geometric_mean", c =>
      Exp(new Average(Log(Cast(c.head, DoubleType))).toAggregateExpression()))
    t.fn("checksum", c => ChecksumAgg(c.head))
    t.fn("histogram", c => HistogramAgg(c.head))
    t.fn("approx_set", c => KmvDigestAgg(c.head))
    t.fn("make_set_digest", c => KmvDigestAgg(c.head))
    t.fn("merge_set_digest", c => KmvMergeAgg(c.head))
    // cardinality is type-overloaded in the reference
    // (SetDigestFunctions.java cardinality(setdigest) vs the
    // array/map length): BINARY children take the KMV estimate, all
    // others keep Spark's native Size semantics (same name, same
    // behavior — the dispatch only ADDS the sketch overload).
    t.fn("cardinality", c => c.head.dataType match {
      case BinaryType => KmvCardinality(c.head)
      case _ => Size(c.head)
    })
    t.fn("map_agg", c => MapAgg(c(0), c(1)))

    // ---- Scala UDFs
    t.udf("to_base64url", udf((b: Array[Byte]) =>
      if (b == null) null
      else java.util.Base64.getUrlEncoder.encodeToString(b)))
    t.udf("from_base64url", udf((s: String) =>
      if (s == null) null
      else java.util.Base64.getUrlDecoder.decode(s)))
    t.udf("to_big_endian_64", udf((x: Long) =>
      java.nio.ByteBuffer.allocate(8).putLong(x).array()))
    t.udf("from_big_endian_64", udf((b: Array[Byte]) =>
      java.nio.ByteBuffer.wrap(b).getLong))
    t.udf("to_big_endian_32", udf((x: Int) =>
      java.nio.ByteBuffer.allocate(4).putInt(x).array()))
    t.udf("from_big_endian_32", udf((b: Array[Byte]) =>
      java.nio.ByteBuffer.wrap(b).getInt))
    t.udf("to_ieee754_32", udf((x: Float) =>
      java.nio.ByteBuffer.allocate(4).putFloat(x).array()))
    t.udf("from_ieee754_32", udf((b: Array[Byte]) =>
      java.nio.ByteBuffer.wrap(b).getFloat))
    t.udf("to_ieee754_64", udf((x: Double) =>
      java.nio.ByteBuffer.allocate(8).putDouble(x).array()))
    t.udf("from_ieee754_64", udf((b: Array[Byte]) =>
      java.nio.ByteBuffer.wrap(b).getDouble))
    // truncate-toward-zero for doubles (MathFunctions.java truncate)
    t.udf("truncate", udf((d: Double) =>
      if (d < 0) math.ceil(d) else math.floor(d)))
    // to_base / from_base (MathFunctions.java): sign-magnitude digit
    // strings, radix 2..36, reference error texts on bad input
    t.udf("to_base", udf((x: java.lang.Long, radix: java.lang.Long) =>
      if (x == null || radix == null) null
      else {
        if (radix < 2 || radix > 36)
          throw new IllegalArgumentException("Radix must be between 2 and 36")
        java.lang.Long.toString(x, radix.toInt)
      }))
    t.udf("from_base", udf((s: String, radix: java.lang.Long) =>
      if (s == null || radix == null) null.asInstanceOf[java.lang.Long]
      else {
        if (radix < 2 || radix > 36)
          throw new IllegalArgumentException("Radix must be between 2 and 36")
        try java.lang.Long.valueOf(java.lang.Long.parseLong(s, radix.toInt))
        catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"Not a valid base-$radix number: $s")
        }
      }))
    // bit_count(x, bits) (BitwiseFunctions.java): counts set bits in
    // the two's-complement representation at the given width (2..64),
    // raising when x doesn't fit. Spark's builtin is the 1-arg 64-bit
    // form; the reference has no 1-arg spelling, so the name can be
    // taken over wholesale (internal queries pass bits=64).
    t.udf("bit_count", udf((x: java.lang.Long, bits: java.lang.Long) =>
      if (x == null || bits == null) null
      else {
        if (bits < 2 || bits > 64) throw new IllegalArgumentException(
          s"Bits specified in bit_count must be between 2 and 64, got $bits")
        if (bits == 64L) java.lang.Long.valueOf(java.lang.Long.bitCount(x).toLong)
        else {
          val min = -(1L << (bits - 1)); val max = (1L << (bits - 1)) - 1
          if (x < min || x > max) throw new IllegalArgumentException(
            s"Number must be representable with the bits specified. $x cannot be represented with $bits bits")
          java.lang.Long.valueOf(
            java.lang.Long.bitCount(x & ((1L << bits) - 1)).toLong)
        }
      }))
    // chr(n) (StringFunctions.java): UNICODE code point → string.
    // Spark's builtin chr is mod-256 ASCII, a genuine semantic clash
    // with the reference (chr(9731) must be the snowman, not 0x03)
    t.udf("chr", udf((n: java.lang.Long) =>
      if (n == null) null
      else {
        if (n < 0 || n > Character.MAX_CODE_POINT)
          throw new IllegalArgumentException(s"Not a valid Unicode code point: $n")
        new String(Character.toChars(n.toInt))
      }))
    // split_part (StringFunctions.java): literal delimiter, NULL past
    // the last field (Spark's builtin returns '' there), empty
    // delimiter splits per CODEPOINT, index must be positive
    t.udf("split_part", udf((s: String, delim: String, idx: java.lang.Long) =>
      if (s == null || delim == null || idx == null) null
      else {
        if (idx <= 0)
          throw new IllegalArgumentException("Index must be greater than zero")
        if (delim.isEmpty) {
          val cps = s.codePointCount(0, s.length)
          if (idx > cps) null
          else {
            val off = s.offsetByCodePoints(0, idx.toInt - 1)
            new String(Character.toChars(s.codePointAt(off)))
          }
        } else {
          val parts = s.split(java.util.regex.Pattern.quote(delim), -1)
          if (idx > parts.length) null else parts(idx.toInt - 1)
        }
      }))
    // soundex (StringFunctions.java → commons-codec Soundex.US_ENGLISH,
    // classic algorithm incl. the H/W separator rule). Spark's builtin
    // diverges on non-letter-leading input ('123' → '123', reference
    // → '') and doesn't raise on unmappable letters.
    t.udf("soundex", udf((s: String) => soundexUS(s)))
    // murmur3(varbinary) -> 16-byte varbinary (VarbinaryFunctions.java
    // murmur3 via airlift Murmur3Hash128: x64_128 variant, seed 0,
    // little-endian h1 then h2 — exactly Guava's murmur3_128 byte
    // layout, and Guava ships on Spark's classpath already).
    t.udf("murmur3", udf((b: Array[Byte]) =>
      if (b == null) null
      else com.google.common.hash.Hashing.murmur3_128().hashBytes(b).asBytes()))
    t.udf("fail", udf((msg: String) => {
      throw new RuntimeException(msg); 0 // scalastyle:ignore
    }))
    // LEGACY JSONPath dialect (JsonExtract.java) — its own walker,
    // distinct from the SQL/JSON 2016 json_value/json_query language
    t.udf("json_extract",
      udf((j: String, p: String) => GraftFunctions.jsonExtractLegacy(j, p)))
    t.udf("json_extract_scalar",
      udf((j: String, p: String) => GraftFunctions.jsonExtractScalarLegacy(j, p)))
    t.udf("is_json_scalar", udf((j: String) =>
      if (j == null) null.asInstanceOf[java.lang.Boolean]
      else GraftFunctions.isJsonScalar(j)))
    t.udf("json_array_contains", udf((j: String, v: String) =>
      GraftFunctions.jsonArrayContains(j, v)))
    t.udf("json_array_get", udf((j: String, i: Long) =>
      GraftFunctions.jsonArrayGet(j, i)))
    t.udf("multimap_from_entries", udf((a: Seq[org.apache.spark.sql.Row]) =>
      if (a == null) null
      else {
        // string-typed specialization of the reference's generic
        // multimap_from_entries (keys/values render as text on the
        // erased map<string,array<string>> — non-string entry fields
        // stringify rather than crash); insertion order per key is
        // preserved
        def s(x: Any): String = if (x == null) null else String.valueOf(x)
        val m = scala.collection.mutable.LinkedHashMap.empty[String, List[String]]
        a.foreach { r =>
          val k = s(r.get(0))
          m.update(k, m.getOrElse(k, Nil) :+ s(r.get(1)))
        }
        m.toMap
      }))
    t.udf("from_iso8601_timestamp_nanos", udf((s: String) =>
      if (s == null) null
      else DateTimeCompat.fromIso8601Timestamp(s)))
    // hash_counts (reference type/setdigest/SetDigestFunctions.java):
    // the retained KMV hashes as map<hash, count>. Our digest stores
    // the distinct-hash set without multiplicities, so every count is
    // 1 — documented divergence (the reference tracks a short count
    // per hash for its exact-intersection path).
    t.udf("hash_counts", udf((b: Array[Byte]) =>
      if (b == null) null
      else KmvDigest.deserialize(b).hashes.map(h => h -> 1.toShort).toMap))
  }

  /** Classic US-English soundex (the public algorithm the reference
    * delegates to via commons-codec `Soundex.US_ENGLISH`): strip
    * non-letters, uppercase, first letter + three digit codes from the
    * mapping table, adjacent duplicates collapsed, with the H/W rule —
    * same-code consonants separated by H or W emit once. Unmappable
    * letters (outside A–Z after cleaning) raise, like the reference. */
  private val SoundexMap = "01230120022455012623010202"

  private def soundexCode(c: Char): Char = {
    val i = c - 'A'
    if (i < 0 || i >= SoundexMap.length)
      throw new IllegalArgumentException(
        s"The character is not mapped: $c (index=$i)")
    SoundexMap.charAt(i)
  }

  def soundexUS(s: String): String = {
    if (s == null) return null
    val str = s.filter(Character.isLetter).toUpperCase
    if (str.isEmpty) return ""
    def mapAt(i: Int): Char = {
      val m = soundexCode(str.charAt(i))
      if (i > 1 && m != '0') {
        val hw = str.charAt(i - 1)
        if (hw == 'H' || hw == 'W') {
          val pre = str.charAt(i - 2)
          if (soundexCode(pre) == m || pre == 'H' || pre == 'W') return 0.toChar
        }
      }
      m
    }
    val out = Array('0', '0', '0', '0')
    out(0) = str.charAt(0)
    var last = mapAt(0)
    var in = 1
    var count = 1
    while (in < str.length && count < 4) {
      val m = mapAt(in)
      in += 1
      if (m != 0.toChar) {
        if (m != '0' && m != last) { out(count) = m; count += 1 }
        last = m
      }
    }
    new String(out)
  }
}

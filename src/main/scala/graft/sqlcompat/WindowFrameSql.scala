package graft.sqlcompat

import scala.collection.mutable.ArrayBuffer

/** SQL:2016 window-frame conformance lowering (reference grammar
  * `SqlBase.g4` windowFrame; behavior pinned by the reference's own
  * `sql/query/TestWindowFrameGroups|Range|Rows` corpora).
  *
  * Three gaps between the reference's frame semantics and Spark's
  * native window machinery are closed here, all at translate time so
  * the physical plan stays Spark-native wherever Spark is already
  * correct:
  *
  *  1. GROUPS frames (Spark has none). A GROUPS offset counts peer
  *     groups of the ORDER BY key, which is EXACTLY a RANGE offset
  *     over `dense_rank()` of that key — so constant-offset GROUPS
  *     lowers to `ORDER BY __gN RANGE BETWEEN …` over a dense-rank
  *     column injected by wrapping the query block's FROM relation in
  *     a subquery. Scale shape: one extra window column over the SAME
  *     partitioning — no extra shuffle; Spark's streaming RANGE
  *     framer does the rest. Non-constant offsets (per-row columns)
  *     cannot be RANGE bounds in Spark, so they lower to a
  *     full-partition ordered collect, then a per-row `slice()` on
  *     the row_number axis (ROWS — O(frame) per row, matching the
  *     reference's RowsFraming) or a per-row `filter()` on the group
  *     index (GROUPS) — semantically exact (including the reference's
  *     "offset must not be negative or null" runtime error), but
  *     partition-buffering, so a partition-size guard raises before
  *     the memory cliff; constant offsets are the 100-TB path.
  *
  *  2. RANGE frames with offset bounds and NULL sort keys. The
  *     standard (and the reference: TestWindowFrameRange
  *     testNullsSortKey / testMixedTypeFrameBounds*) places a
  *     null-key row's frame at its peer group — offset bounds
  *     degrade to the group edge, UNBOUNDED bounds keep sweeping —
  *     and lets an UNBOUNDED bound of a non-null row sweep INTO the
  *     null section. Spark gives null-key rows an empty frame and
  *     never sweeps nulls. Lowering: a translate-time CASE on
  *     `key IS NULL` routing null rows to a peer-group (or whole-
  *     partition) window, plus a null-section merge on the swept
  *     side. When the key is non-nullable Catalyst folds the CASE
  *     and prunes the unused window branches (verified on 4.1), so
  *     the common case pays nothing.
  *
  *  3. `array_agg` as a window function: the reference keeps NULL
  *     elements and returns NULL (not []) for an empty frame; Spark's
  *     collect_list drops nulls and returns []. Every windowed
  *     array_agg is wrapped `struct`-collect → `transform`, with an
  *     empty→NULL CASE.
  *
  * Frame-bound literal normalization rides along: the reference
  * accepts any integral-typed constant (TINYINT '1' … DECIMAL with 30
  * digits, truncating to max long); Spark's ROWS bounds must be plain
  * INT literals, so constants clamp to Int.MaxValue (a >2^31-row
  * frame is indistinguishable from unbounded for any materializable
  * result) and GROUPS offsets clamp to 2^62 on the BIGINT rank axis.
  * Constant-inverted (provably empty) frames fold to typed NULL /
  * 0-count at translate time because Spark rejects lo>hi frames
  * outright while the reference returns empty frames.
  */
private[sqlcompat] object WindowFrameSql {
  import SqlLex.{cre, repAll}

  // ------------------------------------------------------------ model
  private sealed trait BKind
  private case object BUnb extends BKind
  private case object BCur extends BKind
  private case class BNum(v: BigDecimal) extends BKind
  private case class BIv(txt: String) extends BKind
  private case class BDyn(txt: String) extends BKind
  /** following=true ⇒ FOLLOWING direction (ignored for BCur). */
  private case class Bound(kind: BKind, following: Boolean)

  private case class Spec(
      partition: String, // raw text, "" if none
      orderTxt: String, // raw ORDER BY item list text, "" if none
      frameType: String, // "ROWS" | "RANGE" | "GROUPS" | ""
      lo: Bound,
      hi: Bound,
      frameStart: Int, // offsets within the spec text
      frameEnd: Int)

  private def ws(x: String): String =
    repAll(x, "^[ \\t\\r\\n]+|[ \\t\\r\\n]+$", "")

  private val castBoundRe =
    (s"(?is)^CAST\\(\\s*${SqlLex.LitIdx}\\s+AS\\s+(TINYINT|SMALLINT|INT|INTEGER|" +
      "BIGINT|DOUBLE|FLOAT|DECIMAL\\s*\\(\\s*\\d+\\s*,\\s*\\d+\\s*\\))\\s*\\)$").r
  /** Inline numeric CAST bound (no literal sentinel): the digits in
    * the text are the offset value itself. */
  private val castInlineBoundRe =
    ("(?is)^CAST\\(\\s*(\\d+(?:\\.\\d+)?)\\s+AS\\s+(TINYINT|SMALLINT|INT|INTEGER|" +
      "BIGINT|DOUBLE|FLOAT|DECIMAL\\s*\\(\\s*\\d+\\s*,\\s*\\d+\\s*\\)|DECIMAL)\\s*\\)$").r
  private val intervalBoundRe =
    s"(?is)^INTERVAL\\s+${SqlLex.LitP}\\s+[A-Za-z]+(\\s+TO\\s+[A-Za-z]+)?$$".r

  private def parseOffsetExpr(txt0: String, lex: SqlLex.Lexed): BKind = {
    val txt = ws(txt0)
    // negative constants keep the dynamic path, whose runtime guard
    // raises the reference's "must not be negative or null" error
    def numOr(inner: String): BKind =
      try { val v = BigDecimal(inner); if (v < 0) BDyn(txt) else BNum(v) }
      catch { case _: NumberFormatException => BDyn(txt) }
    if (txt.matches("^\\d+(\\.\\d+)?$")) BNum(BigDecimal(txt))
    else castBoundRe.findFirstMatchIn(txt) match {
      case Some(m) => numOr(ws(lex.value(m.group(1).toInt)))
      case None => castInlineBoundRe.findFirstMatchIn(txt) match {
        // user-written inline numeric CAST bound (CAST(2 AS INTEGER)
        // PRECEDING): the digits ARE the value — constant path
        case Some(m) => numOr(m.group(1))
        case None =>
          if (intervalBoundRe.findFirstMatchIn(txt).isDefined) BIv(txt)
          else BDyn(txt)
      }
    }
  }

  /** Parse one frame bound: "UNBOUNDED PRECEDING", "CURRENT ROW",
    * "<expr> PRECEDING|FOLLOWING". */
  private def parseBound(txt0: String, lex: SqlLex.Lexed): Bound = {
    val txt = ws(txt0)
    if (txt.matches("(?is)^CURRENT\\s+ROW$")) Bound(BCur, following = false)
    else {
      val m = cre("(?is)^(.*?)\\s+(PRECEDING|FOLLOWING)$").findFirstMatchIn(txt)
        .getOrElse(throw new IllegalArgumentException(
          s"cannot parse window frame bound: $txt"))
      val fol = m.group(2).equalsIgnoreCase("FOLLOWING")
      val e = ws(m.group(1))
      if (e.equalsIgnoreCase("UNBOUNDED")) Bound(BUnb, fol)
      else Bound(parseOffsetExpr(e, lex), fol)
    }
  }

  /** Signed position of a numeric bound on the frame axis; None for
    * UNBOUNDED (lo ⇒ -inf, hi ⇒ +inf handled by caller), intervals,
    * and dynamic bounds. */
  private def ord(b: Bound): Option[BigDecimal] = b.kind match {
    case BCur => Some(BigDecimal(0))
    case BNum(v) => Some(if (b.following) v else -v)
    case _ => None
  }

  /** True iff the frame is empty BY CONSTRUCTION (constant bounds with
    * lo > hi). */
  private def constEmpty(lo: Bound, hi: Bound): Boolean =
    (lo.kind, hi.kind) match {
      case (BUnb, _) | (_, BUnb) => false
      case _ =>
        (ord(lo), ord(hi)) match {
          case (Some(a), Some(b)) => a > b
          case _ => false
        }
    }

  private def hasOffset(b: Bound): Boolean = b.kind match {
    case BNum(_) | BIv(_) | BDyn(_) => true
    case _ => false
  }

  private def isDyn(b: Bound): Boolean =
    b.kind.isInstanceOf[BDyn]

  /** Parse the inside of an OVER(...) / WINDOW def. */
  private def parseSpec(inner: String, lex: SqlLex.Lexed): Spec = {
    val frameRe = cre("(?is)^(ROWS|RANGE|GROUPS)\\b")
    val orderRe = cre("(?is)^ORDER\\s+BY\\b")
    val partRe = cre("(?is)^PARTITION\\s+BY\\b")
    val pPos = SqlLex.topLevelIndexOf(inner, partRe)
    val oPos = SqlLex.topLevelIndexOf(inner, orderRe)
    val fPos = SqlLex.topLevelIndexOf(inner, frameRe)
    val partition =
      if (pPos < 0) ""
      else {
        val end = Seq(oPos, fPos, inner.length).filter(_ > pPos).min
        ws(repAll(inner.substring(pPos, end), "(?is)^PARTITION\\s+BY", ""))
      }
    val orderTxt =
      if (oPos < 0) ""
      else {
        val end = if (fPos > oPos) fPos else inner.length
        ws(repAll(inner.substring(oPos, end), "(?is)^ORDER\\s+BY", ""))
      }
    if (fPos < 0) Spec(partition, orderTxt, "", Bound(BUnb, false), Bound(BCur, false), -1, -1)
    else {
      val fm = frameRe.findPrefixMatchOf(inner.substring(fPos)).get
      val fType = fm.group(1).toUpperCase
      val rest = inner.substring(fPos + fm.end)
      val bm = cre("(?is)^\\s*BETWEEN\\b").findPrefixMatchOf(rest)
      val (lo, hi) =
        if (bm.isDefined) {
          val body = rest.substring(bm.get.end)
          val andAt = SqlLex.topLevelIndexOf(body, cre("(?is)^AND\\b"))
          require(andAt > 0, s"malformed window frame: $inner")
          (parseBound(body.substring(0, andAt), lex),
            parseBound(body.substring(andAt + 3), lex))
        } else (parseBound(rest, lex), Bound(BCur, following = false))
      Spec(partition, orderTxt, fType, lo, hi, fPos, inner.length)
    }
  }

  /** Single ORDER BY key decomposed for the RANGE machinery:
    * (keyExpr, descending, nullsFirst) with the reference's default
    * null placement (ASC ⇒ NULLS LAST, DESC ⇒ NULLS FIRST). */
  private def parseKey(orderTxt: String): (String, Boolean, Boolean) = {
    val items = SqlLex.splitTopLevel(orderTxt, ',')
    require(items.length == 1,
      s"RANGE frame with offset requires exactly one sort key: $orderTxt")
    var it = ws(items.head)
    var nf: Option[Boolean] = None
    cre("(?is)\\s+NULLS\\s+(FIRST|LAST)\\s*$").findFirstMatchIn(it).foreach { m =>
      nf = Some(m.group(1).equalsIgnoreCase("FIRST"))
      it = it.substring(0, m.start)
    }
    var desc = false
    cre("(?is)\\s+(ASC|DESC)\\s*$").findFirstMatchIn(it).foreach { m =>
      desc = m.group(1).equalsIgnoreCase("DESC")
      it = it.substring(0, m.start)
    }
    (ws(it), desc, nf.getOrElse(desc))
  }

  // --------------------------------------------------- text builders
  private def partPrefix(p: String): String =
    if (p.isEmpty) "" else s"PARTITION BY $p "

  /** Render a bound back to text with the given numeric clamp. */
  private def renderBound(b: Bound, clamp: BigDecimal, integral: Boolean): String =
    b.kind match {
      case BUnb => if (b.following) "UNBOUNDED FOLLOWING" else "UNBOUNDED PRECEDING"
      case BCur => "CURRENT ROW"
      case BNum(v0) =>
        val v = if (v0 > clamp) clamp else v0
        val txt = if (integral) v.toBigInt.toString
        else v.underlying.stripTrailingZeros.toPlainString
        s"$txt ${if (b.following) "FOLLOWING" else "PRECEDING"}"
      case BIv(t) => s"$t ${if (b.following) "FOLLOWING" else "PRECEDING"}"
      case BDyn(t) => s"$t ${if (b.following) "FOLLOWING" else "PRECEDING"}"
    }

  private val rowsClamp = BigDecimal(Int.MaxValue)
  private val rankClamp = BigDecimal(BigInt(1) << 62)

  /** Dynamic (per-row) frame offsets buffer each window partition as
    * ONE in-memory array per call site — the reference pages the same
    * buffer through a spillable PagesIndex (operator/window/
    * RowsFraming.java), but Spark cannot spill an aggregated array.
    * The guard fails loud before the memory cliff instead of OOMing
    * the executor mid-stage. ROWS frames slice the array (O(frame)
    * per row, like the reference), so their cap is set by memory;
    * GROUPS/RANGE scan it per row (O(partition)), so their cap is set
    * by compute. Constant offsets never reach this path. */
  private val dynRowsPartitionCap = 4194304L // 2^22
  private val dynScanPartitionCap = 1048576L // 2^20

  private def partOnlySpec(p: String): String =
    if (p.isEmpty) "()" else s"(PARTITION BY $p)"

  private def partGuard(p: String, cap: Long, rep: String): String =
    s"IF(count(1) OVER ${partOnlySpec(p)} > ${cap}L, raise_error(" +
      "'Dynamic window frame offsets buffer the whole window partition " +
      s"in memory; this partition exceeds the $cap-element safety cap. " +
      s"Use constant offsets or smaller partitions.'), $rep)"

  /** Offset-validity guard matching the reference's runtime error.
    * GROUPS offsets land on the BIGINT rank axis; RANGE offsets keep
    * their own numeric type so fractional offsets compare exactly. */
  private def chk(expr: String): String =
    s"IF(($expr) IS NULL OR ($expr) < 0, CAST(raise_error(" +
      "'Window frame offset value must not be negative or null') AS BIGINT), " +
      s"CAST(($expr) AS BIGINT))"

  /** `x - x` is the zero of x's own type (numeric or interval), so the
    * negativity check stays type-generic. */
  private def chkVal(expr: String): String =
    s"IF(($expr) IS NULL OR ($expr) < (($expr) - ($expr)), raise_error(" +
      s"'Window frame offset value must not be negative or null'), ($expr))"

  /** Membership predicate over collected element `__e.__k` for a
    * RANGE frame (value axis), honoring the reference's null-key
    * rules. `kExpr` is the current row's key. */
  private def rangeMember(kExpr: String, desc: Boolean, nf: Boolean,
      lo: Bound, hi: Bound, guard: Boolean): String = {
    def off(b: Bound): String = b.kind match {
      case BNum(v) => v.underlying.stripTrailingZeros.toPlainString
      case BIv(t) => t
      case BDyn(t) => if (guard) chkVal(t) else s"($t)"
      case _ => ""
    }
    // value-space comparison for each side; None = unbounded
    def cmp(b: Bound, isLo: Boolean): Option[String] = b.kind match {
      case BUnb => None
      case BCur =>
        Some(if (isLo ^ desc) s"__e.__k >= ($kExpr)" else s"__e.__k <= ($kExpr)")
      case _ =>
        val o = off(b)
        val plus = b.following ^ desc // FOLLOWING moves +1 on value axis iff ASC
        val edge = if (plus) s"(($kExpr) + $o)" else s"(($kExpr) - $o)"
        Some(if (isLo ^ desc) s"__e.__k >= $edge" else s"__e.__k <= $edge")
    }
    val nonNullCmp = (cmp(lo, isLo = true), cmp(hi, isLo = false)) match {
      case (Some(a), Some(b)) => s"$a AND $b"
      case (Some(a), None) => a
      case (None, Some(b)) => b
      case (None, None) => "true"
    }
    val loU = lo.kind == BUnb
    val hiU = hi.kind == BUnb
    val farUnbounded = if (nf) hiU else loU // null row reaching values
    val nullSideUnbounded = if (nf) loU else hiU // value row reaching nulls
    // offsets must validate for EVERY row — including null-key rows
    // whose membership never reaches the offset arithmetic (the
    // reference raises there too: testInvalidOffset "fail if offset is
    // invalid for null sort key")
    val guards =
      if (!guard) ""
      else Seq(lo, hi).collect { case Bound(BDyn(t), _) =>
        s"(${chkVal(t)}) IS NOT NULL AND "
      }.mkString
    s"${guards}IF(($kExpr) IS NULL, __e.__k IS NULL OR $farUnbounded, " +
      s"IF(__e.__k IS NULL, $nullSideUnbounded, $nonNullCmp))"
  }

  private def emptyToNull(arr: String): String =
    s"CASE WHEN size($arr) < 1 THEN NULL ELSE $arr END"

  /** Aggregate `fn` over the per-row FILTERED collected elements `flt`
    * (an array of structs carrying __v) — the dynamic-offset frames'
    * evaluation path. Sums fold with the first element as the typed
    * zero (no analyzer-side type available to a text rewrite); nulls
    * are pre-filtered per SQL aggregate semantics; empty feeds are
    * NULL (count: 0). None = unsupported function (fail-loud caller). */
  private def dynAgg(fn: String, flt: String, starArg: Boolean): Option[String] = {
    val vals = s"transform($flt, __e -> __e.__v)"
    val nn = s"filter($vals, __x -> __x IS NOT NULL)"
    // `+ 0L` widens the fold's accumulator like the reference's
    // aggregate types do: INT sums run on BIGINT (no 32-bit wrap);
    // float/double/decimal keep their own type (Spark's numeric
    // precedence places FLOAT/DOUBLE above LONG, and decimal + long
    // widens precision, not scale).
    def fold = s"aggregate(slice($nn, 2, size($nn) - 1), " +
      s"(element_at($nn, 1) + CAST(0 AS BIGINT)), (__a, __x) -> __a + __x)"
    fn match {
      case "array_agg" => Some(emptyToNull(vals))
      case "count" if starArg => Some(s"CAST(size($flt) AS BIGINT)")
      case "count" => Some(s"CAST(size($nn) AS BIGINT)")
      case "min" => Some(s"array_min($vals)")
      case "max" => Some(s"array_max($vals)")
      case "sum" => Some(s"IF(size($nn) = 0, NULL, $fold)")
      case "avg" =>
        Some(s"IF(size($nn) = 0, NULL, CAST($fold AS DOUBLE) / size($nn))")
      case _ => None
    }
  }

  // =========================================================== phase A
  /** Lower every GROUPS frame (constant offsets → RANGE over an
    * injected BIGINT dense_rank column; dynamic offsets → ordered
    * whole-partition collect + filter on the rank) and every ROWS
    * frame with PER-ROW offsets (same collect+filter machinery on a
    * row_number axis — `ROWS x PRECEDING` with a column offset is
    * legal in the reference, Spark requires literals). */
  private def groupsPhase(canon0: String, lex: SqlLex.Lexed): String = {
    var out = canon0
    var guard = 0
    var gcol = 0
    var wrapN = 0
    var searchFrom = 0
    val groupsRe = cre("(?i)\\b(GROUPS|ROWS)\\b")
    while (guard < 512) {
      guard += 1
      val m = groupsRe.findFirstMatchIn(out.substring(searchFrom))
      if (m.isEmpty) return out
      val gPos = searchFrom + m.get.start
      val isRows = m.get.group(1).equalsIgnoreCase("ROWS")
      // enclosing spec parens
      val specOpen = SqlLex.openParen(out, gPos)
      val before = if (specOpen > 0) out.substring(0, specOpen) else ""
      val isOver = cre("(?is)OVER\\s*$").findFirstMatchIn(before).isDefined
      val isDef = cre("(?is)WINDOW\\s+[A-Za-z_][A-Za-z0-9_]*\\s+AS\\s*$")
        .findFirstMatchIn(before).isDefined ||
        cre("(?is),\\s*[A-Za-z_][A-Za-z0-9_]*\\s+AS\\s*$").findFirstMatchIn(before).isDefined
      if (specOpen < 0 || (!isOver && !isDef)) { searchFrom = gPos + 6 }
      else {
        val specClose = SqlLex.closeParen(out, specOpen)
        val inner = out.substring(specOpen + 1, specClose)
        val spec = parseSpec(inner, lex)
        if (isRows &&
            !(spec.frameType == "ROWS" && (isDyn(spec.lo) || isDyn(spec.hi)))) {
          // constant/normal ROWS frames belong to framePhase
          searchFrom = specClose + 1
        } else {
        require(spec.frameType == m.get.group(1).toUpperCase && spec.orderTxt.nonEmpty,
          s"malformed ${m.get.group(1).toUpperCase} window: $inner")
        val dyn = isDyn(spec.lo) || isDyn(spec.hi)
        if (!dyn && constEmpty(spec.lo, spec.hi)) {
          // provably empty frame: fold every call site of this spec
          require(isOver, "empty GROUPS frame in a named window is unsupported")
          val (fnStart, fnName, argTxt) = callSiteBefore(out, specOpen)
          val folded = foldEmpty(fnName, argTxt)
          out = out.substring(0, fnStart) + folded + out.substring(specClose + 1)
          searchFrom = fnStart + folded.length
        } else if (!dyn) {
          val g = s"__g$gcol"; gcol += 1
          val newInner = s"${partPrefix(spec.partition)}ORDER BY $g RANGE BETWEEN " +
            renderBound(spec.lo, rankClamp, integral = true) + " AND " +
            renderBound(spec.hi, rankClamp, integral = true)
          out = out.substring(0, specOpen + 1) + newInner + out.substring(specClose)
          val gdef = s"CAST(dense_rank() OVER (${partPrefix(spec.partition)}" +
            s"ORDER BY ${spec.orderTxt}) AS BIGINT) AS $g"
          out = wrapBlockFrom(out, specOpen, gdef, wrapN)
          wrapN += 1
          searchFrom = 0 // positions shifted; GROUPS is consumed so no re-match
        } else {
          // dynamic offsets: whole-partition collect on the frame axis
          // (dense_rank for GROUPS, row_number for ROWS). ROWS frames
          // are index-addressable on the row_number axis (array index
          // == rank), so the per-row work is a SLICE — O(frame) like
          // the reference's operator/window/RowsFraming.java — not a
          // partition scan. GROUPS runs are contiguous but not
          // index-addressable, so they keep the per-row filter scan.
          val kind = if (isRows) "ROWS" else "GROUPS"
          require(isOver,
            s"non-constant $kind frame offsets in a named window are unsupported")
          val (fnStart, fnName, argTxt) = callSiteBefore(out, specOpen)
          val g = s"__g$gcol"; gcol += 1
          val starArg = ws(argTxt) == "*" || ws(argTxt).isEmpty
          val valueExpr = if (starArg) "1" else argTxt
          val flt = if (isRows) {
            val coll = s"collect_list(struct(($valueExpr) AS __v)) OVER (" +
              s"${partPrefix(spec.partition)}ORDER BY $g ROWS BETWEEN UNBOUNDED " +
              "PRECEDING AND UNBOUNDED FOLLOWING)"
            val cnt = s"count(1) OVER ${partOnlySpec(spec.partition)}"
            def edge(b: Bound, unb: String): String = b.kind match {
              case BUnb => unb
              case BCur => g
              case BNum(v) =>
                val o = (if (v > rankClamp) rankClamp else v).toBigInt.toString
                if (b.following) s"($g + $o)" else s"($g - $o)"
              case BDyn(t) =>
                if (b.following) s"($g + ${chk(t)})" else s"($g - ${chk(t)})"
              case BIv(t) =>
                throw new IllegalArgumentException(s"interval ROWS offset: $t")
            }
            val lo = edge(spec.lo, "1L")
            val hi = edge(spec.hi, cnt)
            val start = s"least(greatest(1L, $lo), $cnt + 1L)"
            val len = s"greatest(0L, least($cnt, $hi) - $start + 1L)"
            s"slice($coll, CAST($start AS INT), CAST($len AS INT))"
          } else {
            def side(b: Bound, isLo: Boolean): Option[String] = b.kind match {
              case BUnb => None
              case BCur => Some(if (isLo) s"__e.__g >= $g" else s"__e.__g <= $g")
              case BNum(v) =>
                val o = v.toBigInt.toString
                val edge = if (b.following) s"($g + $o)" else s"($g - $o)"
                Some(if (isLo) s"__e.__g >= $edge" else s"__e.__g <= $edge")
              case BDyn(t) =>
                val edge = if (b.following) s"($g + ${chk(t)})" else s"($g - ${chk(t)})"
                Some(if (isLo) s"__e.__g >= $edge" else s"__e.__g <= $edge")
              case BIv(t) =>
                throw new IllegalArgumentException(s"interval GROUPS offset: $t")
            }
            val member = (side(spec.lo, isLo = true), side(spec.hi, isLo = false)) match {
              case (Some(a), Some(b)) => s"$a AND $b"
              case (Some(a), None) => a
              case (None, Some(b)) => b
              case (None, None) => "true"
            }
            val coll = s"collect_list(struct($g AS __g, ($valueExpr) AS __v)) OVER (" +
              s"${partPrefix(spec.partition)}ORDER BY $g ROWS BETWEEN UNBOUNDED " +
              "PRECEDING AND UNBOUNDED FOLLOWING)"
            s"filter($coll, __e -> $member)"
          }
          val cap = if (isRows) dynRowsPartitionCap else dynScanPartitionCap
          val replacement = partGuard(spec.partition, cap,
            dynAgg(fnName, flt, starArg).getOrElse(throw
              new IllegalArgumentException(s"non-constant $kind frame offsets " +
                s"are supported for array_agg/count/sum/avg/min/max, got $fnName")))
          out = out.substring(0, fnStart) + replacement + out.substring(specClose + 1)
          val rankFn = if (isRows) "row_number" else "dense_rank"
          val gdef = s"CAST($rankFn() OVER (${partPrefix(spec.partition)}" +
            s"ORDER BY ${spec.orderTxt}) AS BIGINT) AS $g"
          out = wrapBlockFrom(out, fnStart, gdef, wrapN)
          wrapN += 1
          searchFrom = 0
        }
        }
      }
    }
    out
  }

  /** The function call ending immediately before position `pos`:
    * (startOfFnName, lowercased name, argument text). */
  private def callSiteBefore(out: String, pos: Int): (Int, String, String) = {
    val beforeTrim =
      repAll(repAll(out.substring(0, pos), "(?is)OVER\\s*$", ""), "[ \\t\\r\\n]+$", "")
    require(beforeTrim.nonEmpty && beforeTrim.last == ')',
      s"window spec not attached to a function call near: ${out.substring(Math.max(0, pos - 40), pos)}")
    val callClose = beforeTrim.length - 1
    val callOpen = math.max(0, SqlLex.openParen(out, callClose))
    val fnM = cre("(?i)([a-z_][a-z0-9_]*)\\s*$")
      .findFirstMatchIn(out.substring(0, callOpen))
    require(fnM.isDefined, "window function name not found")
    (fnM.get.start(1), fnM.get.group(1).toLowerCase,
      out.substring(callOpen + 1, callClose))
  }

  private def foldEmpty(fn: String, argTxt: String): String = fn match {
    case "count" => "CAST(0 AS BIGINT)"
    case "array_agg" =>
      val a = repAll(ws(argTxt), "(?is)^DISTINCT\\s+", "")
      s"IF(false, array($a), NULL)"
    case _ =>
      val a = repAll(ws(argTxt), "(?is)^DISTINCT\\s+", "")
      if (ws(a) == "*") "NULL" else s"IF(false, ($a), NULL)"
  }

  /** Wrap the FROM relation of the query block containing `pos` in a
    * subquery that adds `gdef`. */
  private def wrapBlockFrom(out: String, pos: Int, gdef: String, n: Int): String = {
    // Nearest enclosing SELECT: the last top-level SELECT before `pos`
    // in the paren group holding it, else in the group holding that
    // group, and so on outward. This crosses OUT of expression parens
    // that contain the window (e.g. `CAST(sum(...) OVER (...) AS
    // BIGINT)`) and never into a sibling subquery; a CONTAINING
    // subquery's own SELECT precedes the window in its group.
    var selPos = -1
    var end = pos
    while (selPos < 0 && end >= 0) {
      val open = SqlLex.openParen(out, end)
      selPos = SqlLex.lastTopLevelIndexOf(out, cre("(?i)SELECT\\b"), open + 1, end)
      end = open
    }
    require(selPos >= 0, "enclosing SELECT for GROUPS window not found")
    val fromPos = SqlLex.topLevelIndexOf(out, cre("(?is)^FROM\\b"), selPos + 6)
    require(fromPos > 0, "GROUPS window requires a FROM clause")
    val stopRe = cre("(?is)^(GROUP|HAVING|WINDOW|ORDER|LIMIT|OFFSET|FETCH|" +
      "UNION|INTERSECT|EXCEPT|QUALIFY)\\b")
    val relEnd = SqlLex.clauseEnd(out, stopRe, fromPos + 4)
    val stopKw = stopRe.findPrefixMatchOf(out.substring(relEnd))
      .fold("")(_.group(1).toUpperCase)
    require(stopKw != "GROUP" && stopKw != "HAVING",
      "GROUPS frame over an aggregated query block is not supported")
    val rel = ws(out.substring(fromPos + 4, relEnd))
    val wrapped = s" (SELECT *, $gdef FROM $rel) __wfsrc$n "
    out.substring(0, fromPos + 4) + wrapped + out.substring(relEnd)
  }

  // =========================================================== phase B
  private val knownAggs = Set("sum", "count", "min", "max", "avg")

  /** Normalize ROWS bounds, fix RANGE null-key semantics, wrap
    * windowed array_agg. Single left-to-right scan; generated text is
    * skipped by advancing past each replacement. */
  private def framePhase(canon0: String, lex: SqlLex.Lexed): String = {
    var out = canon0
    var from = 0
    var guard = 0
    val overRe = cre("(?i)\\bOVER\\b")
    while (guard < 256) {
      guard += 1
      val m = overRe.findFirstMatchIn(out.substring(from))
      if (m.isEmpty) return out
      val overStart = from + m.get.start
      val afterOver = out.substring(overStart + 4)
      val parenM = cre("(?s)^\\s*\\(").findPrefixMatchOf(afterOver)
      val nameM = cre("(?s)^\\s*([A-Za-z_][A-Za-z0-9_]*)").findPrefixMatchOf(afterOver)
      if (parenM.isDefined) {
        val specOpen = overStart + 4 + parenM.get.end - 1
        val specClose = SqlLex.closeParen(out, specOpen)
        val inner = out.substring(specOpen + 1, specClose)
        rewriteCallSite(out, overStart, specOpen, specClose, inner, lex) match {
          case Some((newOut, resumeAt)) => out = newOut; from = resumeAt
          case None => from = specClose + 1
        }
      } else if (nameM.isDefined &&
        !nameM.get.group(1).matches("(?i)ROWS|RANGE|GROUPS")) {
        // named window reference: resolve its def for classification.
        // A def is `<name> AS (spec)` inside a WINDOW clause — accept a
        // match only if the text back to the nearest WINDOW keyword,
        // with balanced paren groups removed, is definition-list shaped
        // (no query keywords), which distinguishes it from a CTE.
        val wname = nameM.get.group(1)
        val defRe = ("(?is)\\b" + java.util.regex.Pattern.quote(wname) +
          "\\s+AS\\s*\\(").r
        val defM = defRe.findAllMatchIn(out).toList.reverse.find { dm =>
          val wk = cre("(?is)\\bWINDOW\\b").findAllMatchIn(
            out.substring(0, dm.start)).toList.lastOption
          wk.exists { w =>
            val between = repAll(repAll(out.substring(w.end, dm.start),
              "\\([^()]*\\)", ""), "\\([^()]*\\)", "")
            !cre("(?is)\\b(SELECT|FROM|WHERE|JOIN)\\b")
              .findFirstIn(between).isDefined
          }
        }
        defM match {
          case Some(dm) =>
            val dOpen = out.indexOf('(', dm.end - 1)
            val dClose = SqlLex.closeParen(out, dOpen)
            val inner = out.substring(dOpen + 1, dClose)
            val consumed = rewriteNamedCallSite(out, overStart,
              overStart + 4 + nameM.get.end, wname, inner, lex)
            consumed match {
              case Some((newOut, resumeAt)) => out = newOut; from = resumeAt
              case None => from = overStart + 4 + nameM.get.end
            }
          case None => from = overStart + 4 + nameM.get.end
        }
      } else from = overStart + 4
    }
    out
  }

  /** Classification shared by inline and named call sites. Returns the
    * rewritten text and resume offset, or None to leave untouched. */
  private def classify(inner: String, lex: SqlLex.Lexed): Spec =
    parseSpec(inner, lex)

  private def alreadyWrapped(argTxt: String): Boolean = {
    val a = repAll(ws(argTxt), "(?is)^DISTINCT\\s+", "")
    a.startsWith("struct(") || cre("(?is)^CASE\\b.*").matches(a)
  }

  private def rewriteCallSite(out0: String, overStart: Int, specOpen: Int,
      specClose: Int, inner: String,
      lex: SqlLex.Lexed): Option[(String, Int)] = {
    var out = out0
    val spec = classify(inner, lex)
    // GROUPS is gone by now; rank-axis RANGE (rewritten GROUPS) is simple
    val rankAxis = spec.orderTxt.matches("__g\\d+")
    val rangeOffset = spec.frameType == "RANGE" &&
      (hasOffset(spec.lo) || hasOffset(spec.hi)) && !rankAxis

    // ROWS: fold provably-empty frames; normalize constant bounds to
    // the plain INT literals Spark's RowFrame requires
    if (spec.frameType == "ROWS" && spec.frameStart >= 0) {
      if (constEmpty(spec.lo, spec.hi)) {
        val (fnStart, fnName, argTxt) = callSiteBefore(out, specOpen)
        val folded = foldEmpty(fnName, argTxt)
        out = out.substring(0, fnStart) + folded + out.substring(specClose + 1)
        return Some((out, fnStart + folded.length))
      }
      if (Seq(spec.lo, spec.hi).exists(_.kind match {
          case BNum(_) => true; case _ => false
        })) {
        val newFrame = "ROWS BETWEEN " +
          renderBound(spec.lo, rowsClamp, integral = true) + " AND " +
          renderBound(spec.hi, rowsClamp, integral = true)
        val newInner = inner.substring(0, spec.frameStart) + newFrame
        if (ws(newInner) != ws(inner)) {
          out = out.substring(0, specOpen + 1) + newInner + out.substring(specClose)
          val newClose = specOpen + 1 + newInner.length
          // re-run on the normalized site; COMMIT the normalization
          // even when the recursion has nothing further to do
          return rewriteCallSite(out, overStart, specOpen, newClose,
            newInner, lex).orElse(Some((out, newClose + 1)))
        }
      }
    }

    val (fnStart, fnName, argTxt) =
      try callSiteBefore(out, overStart)
      catch { case _: Exception => return None }
    if (fnName == "array_agg" && alreadyWrapped(argTxt)) return None

    if (rangeOffset) {
      val (k, desc, nf) = parseKey(spec.orderTxt)
      // rebuild the native spec with bounds rendered as plain literals
      // (typed-constant CAST forms are not guaranteed RANGE boundaries).
      // A FRACTIONAL bound over an integral key would be truncated by
      // Spark's boundary cast (0.5 PRECEDING → 0 PRECEDING), so lift
      // the key to exact decimal arithmetic with `+ 0.0` — same order,
      // frame arithmetic now in decimal space like the reference's.
      val frac = Seq(spec.lo, spec.hi).exists(_.kind match {
        case BNum(v) => v.scale > 0 && v.underlying.stripTrailingZeros.scale > 0
        case _ => false
      })
      val orderForNative =
        if (!frac) spec.orderTxt
        else {
          val dirTxt = if (desc) " DESC" else " ASC"
          val nfTxt = if (nf) " NULLS FIRST" else " NULLS LAST"
          s"(($k) + 0.0)$dirTxt$nfTxt"
        }
      val specTxt = s"(${partPrefix(spec.partition)}ORDER BY $orderForNative " +
        "RANGE BETWEEN " + renderBound(spec.lo, rankClamp, integral = false) +
        " AND " + renderBound(spec.hi, rankClamp, integral = false) + ")"
      buildRangeRewrite(fnName, argTxt, spec, k, desc, nf, specTxt).map { rep =>
        val newOut = out.substring(0, fnStart) + rep + out.substring(specClose + 1)
        (newOut, fnStart + rep.length)
      }
    } else if (fnName == "array_agg") {
      // simple struct wrap (no frame, ROWS, UNBOUNDED/CURRENT RANGE, rank axis)
      val rep = simpleArrayWrap(argTxt, s"(${ws(out.substring(specOpen + 1, specClose))})")
      val newOut = out.substring(0, fnStart) + rep + out.substring(specClose + 1)
      Some((newOut, fnStart + rep.length))
    } else None
  }

  private def rewriteNamedCallSite(out0: String, overStart: Int, refEnd: Int,
      wname: String, inner: String, lex: SqlLex.Lexed): Option[(String, Int)] = {
    var out = out0
    val spec = classify(inner, lex)
    val rankAxis = spec.orderTxt.matches("__g\\d+")
    val rangeOffset = spec.frameType == "RANGE" &&
      (hasOffset(spec.lo) || hasOffset(spec.hi)) && !rankAxis
    val (fnStart, fnName, argTxt) =
      try callSiteBefore(out, overStart)
      catch { case _: Exception => return None }
    if (fnName == "array_agg" && alreadyWrapped(argTxt)) return None
    if (rangeOffset) {
      val (k, desc, nf) = parseKey(spec.orderTxt)
      buildRangeRewrite(fnName, argTxt, spec, k, desc, nf, wname).map { rep =>
        val newOut = out.substring(0, fnStart) + rep + out.substring(refEnd)
        (newOut, fnStart + rep.length)
      }
    } else if (fnName == "array_agg") {
      val rep = simpleArrayWrap(argTxt, wname)
      val newOut = out.substring(0, fnStart) + rep + out.substring(refEnd)
      Some((newOut, fnStart + rep.length))
    } else None
  }

  private def simpleArrayWrap(argTxt: String, overTxt: String): String = {
    val a0 = ws(argTxt)
    val isDistinct = cre("(?is)^DISTINCT\\b.*").matches(a0)
    val a = if (isDistinct) ws(repAll(a0, "(?is)^DISTINCT", "")) else a0
    val dk = if (isDistinct) "DISTINCT " else ""
    val t = s"transform(array_agg(${dk}struct(($a) AS __v)) OVER $overTxt, " +
      "__x -> __x.__v)"
    emptyToNull(t)
  }

  /** The RANGE-with-offset rewrite for one call site. Returns None for
    * functions left native (documented divergence on null sort keys). */
  private def buildRangeRewrite(fn: String, argTxt: String, spec: Spec,
      k: String, desc: Boolean, nf: Boolean, overTxt: String): Option[String] = {
    val dyn = isDyn(spec.lo) || isDyn(spec.hi)
    val p = spec.partition
    val ngSpec =
      if (p.isEmpty) s"(PARTITION BY (($k) IS NULL))"
      else s"(PARTITION BY $p, (($k) IS NULL))"
    val partOnly = if (p.isEmpty) "()" else s"(PARTITION BY $p)"
    val orderedWhole = s"(${partPrefix(p)}ORDER BY ${spec.orderTxt} " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"
    val loU = spec.lo.kind == BUnb
    val hiU = spec.hi.kind == BUnb
    // null-key row's frame: peer group, or whole partition when the
    // UNBOUNDED side faces away from the nulls. Non-null rows need no
    // correction: Spark's native frame already excludes the null
    // section across offset bounds and includes it across UNBOUNDED
    // bounds, exactly like the reference (verified against
    // TestWindowFrameRange testNullsSortKey/testMixedTypeFrameBounds*).
    val nullRowWhole = (loU && !nf) || (hiU && nf)

    if (dyn) {
      val starArg = ws(argTxt) == "*" || ws(argTxt).isEmpty
      val valueExpr = if (starArg) "1" else ws(argTxt)
      val coll = s"collect_list(struct(($k) AS __k, ($valueExpr) AS __v)) OVER (" +
        s"${partPrefix(p)}ORDER BY ${spec.orderTxt} ROWS BETWEEN UNBOUNDED " +
        "PRECEDING AND UNBOUNDED FOLLOWING)"
      val member = rangeMember(k, desc, nf, spec.lo, spec.hi, guard = true)
      val flt = s"filter($coll, __e -> $member)"
      return dynAgg(fn, flt, starArg)
        .map(partGuard(p, dynScanPartitionCap, _))
    }

    val empty = constEmpty(spec.lo, spec.hi)

    if (fn == "array_agg") {
      val a0 = ws(argTxt)
      if (cre("(?is)^DISTINCT\\b.*").matches(a0)) return None
      val ngArr = s"transform(array_agg(CASE WHEN ($k) IS NULL THEN " +
        s"struct(($a0) AS __v) END) OVER $partOnly, __x -> __x.__v)"
      val nullRowArr =
        if (nullRowWhole)
          s"transform(array_agg(struct(($a0) AS __v)) OVER $orderedWhole, " +
            "__x -> __x.__v)"
        else ngArr
      if (empty)
        return Some(s"CASE WHEN ($k) IS NULL THEN $nullRowArr ELSE " +
          s"IF(false, array($a0), NULL) END")
      val native = s"transform(array_agg(struct(($a0) AS __v)) OVER $overTxt, " +
        "__x -> __x.__v)"
      return Some(s"CASE WHEN ($k) IS NULL THEN $nullRowArr " +
        s"WHEN size($native) < 1 THEN NULL ELSE $native END")
    }

    if (!knownAggs(fn)) return None // native; divergence documented

    def over(specTxt: String, call: String): String = s"$call OVER $specTxt"
    val nullRowSpec = if (nullRowWhole) partOnly else ngSpec
    val call = s"$fn($argTxt)"
    val nullRowAgg = over(nullRowSpec, call)
    if (empty) {
      val elseV = if (fn == "count") "CAST(0 AS BIGINT)"
      else s"IF(false, (${repAll(ws(argTxt), "(?is)^DISTINCT\\s+", "")}), NULL)"
      return Some(s"CASE WHEN ($k) IS NULL THEN $nullRowAgg ELSE $elseV END")
    }
    Some(s"CASE WHEN ($k) IS NULL THEN $nullRowAgg ELSE ${over(overTxt, call)} END")
  }

  // ============================================================= entry
  def pass(canon0: String, lex: SqlLex.Lexed): String = {
    // fast path: no window syntax at all
    if (!cre("(?i)\\b(OVER|GROUPS)\\b").findFirstIn(canon0).isDefined) return canon0
    val afterGroups =
      if (cre("(?i)\\b(GROUPS|ROWS)\\b").findFirstIn(canon0).isDefined)
        groupsPhase(canon0, lex)
      else canon0
    framePhase(afterGroups, lex)
  }
}

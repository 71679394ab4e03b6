package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRow

/** Row-pattern recognition (MATCH_RECOGNIZE) — the reference's hardest
  * engine feature (grammar `SqlBase.g4:360-399`, NFA matcher
  * `operator/window/matcher/Matcher.java:28`, IR in
  * `sql/planner/rowpattern/`), re-expressed Spark-first as a
  * partition-local pattern automaton over sorted row streams.
  *
  * Supported subset: multi-character pattern variables (identifiers,
  * whitespace-separated as in the SQL grammar: `DOWN UP` is the
  * concatenation of two variables, `DU` is one variable named "DU")
  * with concatenation, alternation `|`, grouping `(...)`, quantifiers
  * `* + ? {m} {m,n}` greedy and reluctant (`*?` `+?` `??` `{m,n}?`;
  * leftmost preference — the reference's semantics), DEFINE predicates
  * over a [[MatchCtx]] with full navigation — physical PREV(n)/NEXT(n)
  * and running FIRST/LAST over variables or SUBSET unions (the simple
  * (prev, row) form remains for the common PREV(x) comparison),
  * FIRST/LAST(V.col, n) navigation measures (see [[SqlMeasure]]),
  * SUBSET declarations, and AFTER MATCH SKIP PAST LAST ROW / TO NEXT
  * ROW / TO FIRST/LAST(V-or-subset).
  *
  * The one entry point is [[sqlRows]], which the SQL front end
  * (`sqlcompat/MatchRecognizeSql`) lowers `MATCH_RECOGNIZE` text onto;
  * [[windowMatches]] is the window-frame form, which has no SQL
  * spelling yet.
  *
  * Execution shape (100 TB): the [[KeyGroups]] scan — one shuffle on
  * the partition key, one local sort, then a streaming scan that
  * buffers only the rows of the single key currently being matched
  * (the same working set the reference's WindowOperator PagesIndex
  * holds per partition). No driver involvement, no global sort.
  */
object MatchRecognize {

  /** Hard cap on rows buffered for ONE partition key (the engine's
    * per-key working set, ≈ the reference's per-partition PagesIndex).
    * Rows beyond [[SpillAfterRows]] spill to task-local disk (see
    * [[SpillableRowBuffer]]), so this is a runaway-key backstop, not a
    * memory bound. Mutable so a caller can raise it. */
  @volatile var MaxRowsPerKey: Int = 100_000_000

  /** Rows kept ON-HEAP per key before the buffer spills pages to
    * task-local disk — the graceful-degradation point that replaces
    * r12's fail-loudly contract (the reference's PagesIndex is
    * spillable the same way). 1M small Rows ≈ tens of MB per task. */
  @volatile var SpillAfterRows: Int = 1_000_000

  /** Number of key groups that have spilled to disk (process-wide;
    * observable in tests and by a monitoring hook). */
  val SpillCount = new java.util.concurrent.atomic.AtomicLong()

  /** Memo-size backstop for [[MatchCtx.foldIncremental]]'s per-key-
    * group aggregate-state cache: past this many list nodes the memo
    * clears (it is a pure cache — correctness never depends on it).
    * Pathological backtracking can allocate many cons cells; a node
    * entry is a map ref + a few small states, so 2^20 nodes ≲ 100 MB
    * worst case. */
  @volatile var AggCacheMaxNodes: Int = 1 << 20

  /** Cache-MISS row feeds performed by [[MatchCtx.foldIncremental]]
    * (process-wide test observable): under the memo, a DEFINE
    * aggregate over an n-row match costs O(n) total feeds instead of
    * the O(n²) re-fold — asserted by the linear-scaling unit bench. */
  val AggFeedCount = new java.util.concurrent.atomic.AtomicLong()

  /** Immutable accumulator for [[MatchCtx.runningAgg]]'s incremental
    * fold: count + Long-exact integral sum + double sum (promoted on
    * the first fractional value) + current min/max. Instances are
    * shared across NFA threads via the prefix memo — never mutated. */
  private[graft] final class RunAcc(
      val n: Long, val sumL: Long, val sumD: Double,
      val frac: Boolean, val minMax: Any)
  private[graft] val RunAccEmpty = new RunAcc(0L, 0L, 0.0, false, null)

  /** Incremental FIRST(CLASSIFIER()) state: the first matched row's
    * real label (null = no row fed yet). */
  private final class FirstSt(val label: String)
  private val FirstStEmpty = new FirstSt(null)
  private val FirstLabelKey = new Object()

  /** AFTER MATCH SKIP modes (reference `SqlBase.g4` skipTo clause):
    * where the scan resumes after an emitted match. TO FIRST/LAST(v)
    * resume AT the first/last row the variable matched — the
    * reference errors when that would be the match's first row
    * (infinite loop), and so do we. */
  sealed trait SkipMode
  object SkipMode {
    case object PastLastRow extends SkipMode
    case object ToNextRow extends SkipMode
    final case class ToFirst(v: String) extends SkipMode
    final case class ToLast(v: String) extends SkipMode
  }

  /** Evaluation context for DEFINE predicates (the reference's
    * row-pattern navigation surface, `sql/planner/rowpattern/`): the
    * current row, PHYSICAL navigation `prev(n)`/`next(n)` over the key
    * group (SQL's PREV/NEXT semantics — physical rows, not
    * variable-mapped ones, and they may cross the match's start), and
    * RUNNING logical navigation `first(v)`/`last(v)` over the rows the
    * current match attempt has provisionally mapped — the current row
    * counts as mapped to the variable under test, per the standard.
    * `v` may be a pattern variable or a SUBSET union name. */
  final class MatchCtx private[MatchRecognize] (
      rows: collection.IndexedSeq[Row],
      val i: Int,
      val start: Int,
      labelsRev: List[String], // labels of rows start..i-1, most recent first
      currentVar: String,
      subsets: Map[String, Set[String]],
      /** The match under construction's MATCH_NUMBER() (1-based). */
      val matchNumber: Long = 1L,
      /** Incremental aggregate-state memo, scoped per key group (see
        * [[foldIncremental]]); null = uncached direct construction. */
      private val aggCache: java.util.IdentityHashMap[
        List[String], java.util.HashMap[AnyRef, Any]] = null) {
    def row: Row = rows(i)
    def prev(n: Int = 1): Row = if (i - n >= 0) rows(i - n) else null
    def next(n: Int = 1): Row = if (i + n < rows.length) rows(i + n) else null
    private def hit(label0: String, v: String): Boolean = {
      val label = MatchRecognize.realLabel(label0) // exclusion marks are invisible here
      label == v || subsets.getOrElse(v, Set.empty).contains(label)
    }
    def last(v: String): Row = {
      if (hit(currentVar, v)) return rows(i)
      var j = i - 1
      var l = labelsRev
      while (l.nonEmpty) {
        if (hit(l.head, v)) return rows(j)
        j -= 1; l = l.tail
      }
      null
    }
    def first(v: String): Row = {
      var j = i - 1
      var found = -1
      var l = labelsRev
      while (l.nonEmpty) {
        if (hit(l.head, v)) found = j
        j -= 1; l = l.tail
      }
      if (found >= 0) rows(found)
      else if (hit(currentVar, v)) rows(i)
      else null
    }

    /** Running aggregate over the match SO FAR — rows start..i with the
      * CURRENT row's tentative label participating — the SQL:2016
      * running semantics aggregates have inside DEFINE (reference
      * `TestAggregationsInRowPatternMatching`: `DEFINE A AS
      * sum(A.value) - A.value <= sum(B.value)` sums INCLUDE the row
      * being classified). `v` None feeds every label; `col` null
      * counts rows (count(*) / count(V.*)). SQL null handling: null
      * values are skipped, an empty feed is NULL (count: 0). Integral
      * sums stay Long-exact (epoch-nanos exceed 2^53); fn ∈
      * {sum, avg, min, max, count}. Cost is O(match length) per
      * evaluation — the per-branch fold the reference's matcher
      * amortizes with copied aggregation state; correctness-first
      * here, and pattern matches are short in practice. */
    /** Rows in the match so far, current row included — O(1) from the
      * match indices. This is `count(*)`/`count(CLASSIFIER())` without
      * the O(match-length) label-list fold: under `(H | L)* X` with a
      * count in X's DEFINE, the greedy matcher tests X once per
      * backtrack position, so an O(k) count made each attempt
      * quadratic (the r17 mr13 weak-perf flag). */
    def matchRowCount: Long = (i - start + 1).toLong

    /** Incremental per-thread aggregate fold over the match so far
      * (rows start..i, current row's tentative label included): the
      * reference amortizes running DEFINE aggregates by keeping
      * per-thread accumulators COPIED at NFA forks
      * (`operator/window/matcher/`, semantics replayed via the
      * TestCopyAggregationStateInRowPatternMatching batteries). Here
      * threads share immutable label-list TAILS, so the copy is
      * structural: each list node's PREFIX accumulator is computed
      * once, memoized on the node's identity, and shared by every
      * thread that forks past it — O(1) amortized per evaluation
      * instead of the O(match length) re-fold (the r18 mr13 flag).
      *
      * `key` identifies the aggregate instance (a stable spec string
      * or the compiled argument closure — two keys must never demand
      * different states for the same node); `empty` is the zero state
      * (a shared non-null singleton); `step` extends IMMUTABLY by one
      * (row, real label) — state instances are shared across threads
      * and must never mutate. Rows failing the `v` label filter skip
      * `step`. The CURRENT row applies on top, never cached (its
      * label is tentative). Memo validity: list nodes are allocated
      * fresh per match attempt, so a node fixes (start, row range,
      * matchNumber) — the cache can span attempts within a key group.
      */
    def foldIncremental[S <: AnyRef](key: AnyRef, v: Option[String], empty: S)(
        step: (S, Row, String) => S): S = {
      val vv = v.orNull
      def feed(s: S, r: Row, rawLabel: String): S =
        if (vv == null || hit(rawLabel, vv))
          step(s, r, MatchRecognize.realLabel(rawLabel))
        else s
      val k = i - start
      var prefix: S = empty
      if (aggCache == null) {
        // direct-construction fallback: one forward fold, like foldMatch
        val fwd = new Array[String](k)
        var j = k - 1
        var l = labelsRev
        while (l.nonEmpty) { fwd(j) = l.head; j -= 1; l = l.tail }
        var idx = 0
        while (idx < k) { prefix = feed(prefix, rows(start + idx), fwd(idx)); idx += 1 }
      } else {
        // walk down to the deepest memoized prefix, then replay forward
        val pending = new mutable.ArrayBuffer[List[String]]()
        var node = labelsRev
        var hitState: AnyRef = null
        while (node.nonEmpty && hitState == null) {
          val m = aggCache.get(node)
          val c = if (m == null) null else m.get(key)
          if (c == null) { pending += node; node = node.tail }
          else hitState = c.asInstanceOf[AnyRef]
        }
        if (hitState != null) prefix = hitState.asInstanceOf[S]
        if (aggCache.size > MatchRecognize.AggCacheMaxNodes) aggCache.clear()
        if (pending.nonEmpty)
          MatchRecognize.AggFeedCount.addAndGet(pending.size.toLong)
        var p = pending.size - 1
        while (p >= 0) {
          val nd = pending(p)
          // pending(p) has length k - p; its head labels row start+k-p-1
          prefix = feed(prefix, rows(start + (k - p) - 1), nd.head)
          var m = aggCache.get(nd)
          if (m == null) {
            m = new java.util.HashMap[AnyRef, Any](4)
            aggCache.put(nd, m)
          }
          m.put(key, prefix)
          p -= 1
        }
      }
      feed(prefix, rows(i), currentVar)
    }

    def runningAgg(fn: String, v: Option[String], col: String): Any = {
      val wantRow = col == null
      if (wantRow && fn == "count" && v.isEmpty) return matchRowCount
      // resolve the column ordinal once per evaluation, not once per
      // fed row — all rows of a key group share one StructType
      val colIdx =
        if (wantRow) -1
        else {
          val sch = rows(i).schema
          if (sch != null) sch.fieldIndex(col) else -1
        }
      val isMin = fn == "min"
      val key = fn + "|" + v.getOrElse("") + "|" + col
      val acc = foldIncremental(key, v, MatchRecognize.RunAccEmpty) { (a, r, _) =>
        if (wantRow) new MatchRecognize.RunAcc(a.n + 1, a.sumL, a.sumD, a.frac, a.minMax)
        else {
          val value = if (colIdx >= 0) r.get(colIdx) else r.getAs[Any](col)
          if (value == null) a
          else fn match {
            case "sum" | "avg" => value match {
              case x: java.lang.Long => new MatchRecognize.RunAcc(
                a.n + 1, Math.addExact(a.sumL, x.longValue()), a.sumD, a.frac, a.minMax)
              case x: java.lang.Integer => new MatchRecognize.RunAcc(
                a.n + 1, Math.addExact(a.sumL, x.longValue()), a.sumD, a.frac, a.minMax)
              case x: java.lang.Short => new MatchRecognize.RunAcc(
                a.n + 1, Math.addExact(a.sumL, x.longValue()), a.sumD, a.frac, a.minMax)
              case x: java.lang.Byte => new MatchRecognize.RunAcc(
                a.n + 1, Math.addExact(a.sumL, x.longValue()), a.sumD, a.frac, a.minMax)
              case x: Number => new MatchRecognize.RunAcc(
                a.n + 1, a.sumL, a.sumD + x.doubleValue(), true, a.minMax)
              case other => throw new IllegalArgumentException(
                s"DEFINE $fn($col): numeric column required, got ${other.getClass.getSimpleName}")
            }
            case "min" | "max" =>
              val better = a.minMax == null || ((value, a.minMax) match {
                case (x: Number, b: Number) =>
                  val c = java.lang.Double.compare(x.doubleValue(), b.doubleValue())
                  if (isMin) c < 0 else c > 0
                case (x: String, b: String) =>
                  val c = x.compareTo(b)
                  if (isMin) c < 0 else c > 0
                case (x, b) => throw new IllegalArgumentException(
                  s"DEFINE $fn($col): incomparable ${x.getClass.getSimpleName} vs ${b.getClass.getSimpleName}")
              })
              new MatchRecognize.RunAcc(a.n + 1, a.sumL, a.sumD, a.frac,
                if (better) value else a.minMax)
            case "count" => new MatchRecognize.RunAcc(
              a.n + 1, a.sumL, a.sumD, a.frac, a.minMax)
            case other => throw new IllegalArgumentException(
              s"DEFINE: unsupported aggregate '$other'")
          }
        }
      }
      fn match {
        case "count" => acc.n
        case _ if acc.n == 0 => null
        case "sum" => if (acc.frac) acc.sumD + acc.sumL else acc.sumL
        case "avg" => (acc.sumD + acc.sumL) / acc.n
        case _ => acc.minMax
      }
    }

    /** Fold the running match's (row, real label) pairs in MATCH ORDER
      * (start..i, the current row's tentative label included),
      * restricted to label/SUBSET `v` when given — the generalized feed
      * under every aggregate the DEFINE front-end lowers (array_agg,
      * min/max-N, min_by/max_by, map_agg, multimap_agg, map_union, and
      * computed-argument sum/avg). Each NFA thread carries its OWN
      * labels list, so the per-thread aggregation-state isolation the
      * reference implements by copying state at alternation forks
      * (TestCopyAggregationStateInRowPatternMatching) is structural
      * here: there is no shared mutable state to copy. */
    def foldMatch(v: Option[String])(f: (Row, String) => Unit): Unit = {
      // labelsRev is most-recent-first; reverse once into a pre-sized
      // array (labels pair with rows start..i-1 by construction) and
      // replay forward — no tuple boxing in the hot NFA loop.
      val k = i - start
      val fwd = new Array[String](k)
      var j = k - 1
      var l = labelsRev
      while (l.nonEmpty) { fwd(j) = l.head; j -= 1; l = l.tail }
      val vv = v.orNull
      var idx = 0
      while (idx < k) {
        val lab = fwd(idx)
        if (vv == null || hit(lab, vv))
          f(rows(start + idx), MatchRecognize.realLabel(lab))
        idx += 1
      }
      if (vv == null || hit(currentVar, vv))
        f(rows(i), MatchRecognize.realLabel(currentVar))
    }

    /** `FIRST(CLASSIFIER())` under running semantics: the first matched
      * row's label (the current row's tentative label for a
      * length-1 match). Memoized through [[foldIncremental]] —
      * `labelsRev.last` walks the whole list, which made each DEFINE
      * evaluation O(match length). */
    def classifierFirst: String =
      if (labelsRev.isEmpty) MatchRecognize.realLabel(currentVar)
      else if (aggCache == null) MatchRecognize.realLabel(labelsRev.last)
      else foldIncremental(MatchRecognize.FirstLabelKey, None,
        MatchRecognize.FirstStEmpty) { (a, _, l) =>
        if (a.label == null) new MatchRecognize.FirstSt(l) else a
      }.label

    /** `[LAST(]CLASSIFIER()[)]` under running semantics: the current
      * row's tentative label. */
    def classifierCurrent: String = MatchRecognize.realLabel(currentVar)

    /** `PREV(CLASSIFIER()[, n])`: the label of the nth-previous
      * PHYSICAL row — null when that row precedes the match's start
      * (rows outside the match carry no label, SQL:2016). */
    def classifierPrev(n: Int = 1): String = {
      if (n <= 0) return classifierCurrent
      var l = labelsRev
      var k = 1
      while (k < n && l.nonEmpty) { l = l.tail; k += 1 }
      if (l.isEmpty) null else MatchRecognize.realLabel(l.head)
    }
  }

  // ------------------------------------------------------ pattern AST
  sealed trait Pat
  private case class Lit(v: String) extends Pat
  private case class Cat(a: Pat, b: Pat) extends Pat
  private case class Alt(a: Pat, b: Pat) extends Pat
  // max = -1 → ∞; greedy=false → reluctant (`*?` `+?` `??` `{m,n}?`)
  private case class Rep(a: Pat, min: Int, max: Int, greedy: Boolean = true) extends Pat
  // pattern exclusion `{- p -}` (SQL:2016; reference SqlBase.g4
  // patternPrimary): rows matched inside participate in matching,
  // DEFINE navigation, and measures, but are omitted from ALL ROWS
  // PER MATCH output. Eliminated at parse time: every Lit inside is
  // rewritten to an exclusion-MARKED label ("-" + name — identifiers
  // can't start with '-', so marks are unambiguous) and the engine
  // strips the mark everywhere except row emission.
  private case class Excl(a: Pat) extends Pat
  // partition anchors `^` / `$` (reference SqlBase.g4:744-745
  // partitionStartAnchor / partitionEndAnchor): zero-width assertions
  // that the match is positioned at the first / one-past-last row of
  // the partition. Anchors are quantifiable (`^+` etc., reference
  // TestRowPatternMatching testEmptyCycle) — the zero-width-collapse
  // rule in the matcher makes the quantifier terminate.
  private case object StartAnchor extends Pat
  private case object EndAnchor extends Pat

  /** The empty pattern `()` (grammar patternPrimary '(' ')'): matches
    * zero rows. */
  private case object Empty extends Pat

  /** Real variable name of a (possibly exclusion-marked) label. */
  def realLabel(l: String): String =
    if (l.nonEmpty && l.charAt(0) == '-') l.substring(1) else l

  /** Was this row matched inside a `{- ... -}` exclusion? */
  def isExcluded(l: String): Boolean = l.nonEmpty && l.charAt(0) == '-'

  /** Rewrite Excl nodes into marked literals (see [[Excl]]). */
  private def markExclusions(p: Pat, in: Boolean = false): Pat = p match {
    case Lit(v) => if (in) Lit("-" + v) else p
    case Cat(a, b) => Cat(markExclusions(a, in), markExclusions(b, in))
    case Alt(a, b) => Alt(markExclusions(a, in), markExclusions(b, in))
    case r: Rep => r.copy(a = markExclusions(r.a, in))
    case Excl(a) => markExclusions(a, in = true)
    case StartAnchor | EndAnchor | Empty => p // zero-width: nothing to mark
  }

  /** Recursive-descent parser for the pattern subset. Variables are
    * identifiers (`[A-Za-z][A-Za-z0-9_]*`) and whitespace separates
    * tokens, as in the reference grammar — so `DOWN UP` concatenates
    * two variables while `DOWNUP` names one. `PERMUTE(A, B)`
    * (reference `SqlBase.g4` patternPermutation) expands to the
    * alternation of all orderings in lexicographic preference — the
    * standard semantics; capped at 5 variables (120 branches). */
  def parse(s: String): Pat = {
    val in = s
    var pos = 0
    def skipWs(): Unit =
      while (pos < in.length && in.charAt(pos).isWhitespace) pos += 1
    def peek: Char = {
      skipWs()
      if (pos < in.length) in.charAt(pos) else '\u0000'
    }
    def expect(c: Char): Unit = {
      require(peek == c, s"expected '$c' at $pos in '$in'")
      pos += 1
    }
    def number(): Int = {
      skipWs()
      val start = pos
      while (pos < in.length && in.charAt(pos).isDigit) pos += 1
      in.substring(start, pos).toInt
    }
    def ident(): String = {
      skipWs()
      require(pos < in.length && in.charAt(pos).isLetter,
        s"expected identifier at $pos in '$in'")
      val start = pos
      pos += 1
      while (pos < in.length &&
        (in.charAt(pos).isLetterOrDigit || in.charAt(pos) == '_')) pos += 1
      in.substring(start, pos)
    }
    def permute(): Pat = {
      expect('(')
      val vars = scala.collection.mutable.ArrayBuffer[String]()
      while (peek != ')' && peek != '\u0000') {
        if (peek == ',') pos += 1
        else vars += ident()
      }
      expect(')')
      require(vars.nonEmpty && vars.length <= 5,
        s"PERMUTE supports 1..5 variables, got ${vars.length}")
      vars.permutations
        .map(perm => perm.map(Lit(_): Pat).reduceLeft(Cat))
        .reduceLeft(Alt)
    }
    // '{' opens an exclusion only when immediately followed by '-'
    // ("{-" is one token in the reference grammar); otherwise it is a
    // {m,n} quantifier.
    def exclStart: Boolean =
      peek == '{' && pos + 1 < in.length && in.charAt(pos + 1) == '-'
    def atom(): Pat = peek match {
      case '^' => pos += 1; quant(StartAnchor)
      case '$' => pos += 1; quant(EndAnchor)
      case '(' =>
        expect('(')
        if (peek == ')') { pos += 1; quant(Empty) } // empty pattern ()
        else { val p = alt(); expect(')'); quant(p) }
      case '{' if exclStart =>
        pos += 2 // "{-"
        val p = alt()
        skipWs()
        require(in.startsWith("-}", pos), s"expected '-}' at $pos in '$in'")
        pos += 2
        quant(Excl(p))
      case c if c.isLetter =>
        val name = ident()
        if (name == "PERMUTE" && peek == '(') quant(permute())
        else quant(Lit(name))
      case other => throw new IllegalArgumentException(s"unexpected '$other' at $pos in '$in'")
    }
    // a trailing '?' after any quantifier makes it reluctant (matches
    // as FEW repetitions as possible; reference SqlBase.g4 patternQuantifier)
    def reluctant(r: Rep): Pat =
      if (peek == '?') { pos += 1; r.copy(greedy = false) } else r
    def quant(p: Pat): Pat = peek match {
      case '*' => pos += 1; reluctant(Rep(p, 0, -1))
      case '+' => pos += 1; reluctant(Rep(p, 1, -1))
      case '?' => pos += 1; reluctant(Rep(p, 0, 1))
      case '{' if !exclStart =>
        expect('{')
        // {,} and {,n} have an implicit min of 0 (SqlBase.g4
        // patternQuantifier: both bounds optional)
        val m = if (peek == ',') 0 else number()
        val n = if (peek == ',') {
          expect(',')
          if (peek == '}') -1 else number()
        } else m
        expect('}')
        reluctant(Rep(p, m, n))
      case _ => p
    }
    def cat(): Pat = {
      var p = atom()
      while (peek == '(' || peek.isLetter || exclStart ||
        peek == '^' || peek == '$') p = Cat(p, atom())
      p
    }
    def alt(): Pat = {
      var p = cat()
      while (peek == '|') { expect('|'); p = Alt(p, cat()) }
      p
    }
    val r = alt()
    skipWs()
    require(pos == in.length, s"trailing input at $pos in '$in'")
    markExclusions(r)
  }

  // -------------------------------------------------------- matcher
  /** Compiled pattern program (Thompson-style with backtracking
    * priority, executed by an EXPLICIT-stack VM in [[matchFrom]]):
    * the old continuation-passing matcher recursed once per consumed
    * row, so a single long match (the reference's testLongPatternMatch
    * shape — thousands of rows under one quantifier) blew the task
    * thread's stack. Ops: 0 CHAR(label), 1 SPLIT(prefer, alt),
    * 2 JMP(t), 3 START_ANCHOR, 4 END_ANCHOR, 5 MATCH, 6 SETMARK(slot),
    * 7 PROGRESS(slot, loop, exit). Quantifiers compile to `min`
    * expanded copies plus a split-loop (unbounded) or split-optionals
    * (bounded); zero-width loop iterations collapse through PROGRESS
    * (the standard's empty-cycle pruning). Loops whose body cannot
    * match zero rows skip the mark entirely — `nMarks == 0` then makes
    * the control state exactly (pc, i), which is what enables the
    * visited-state memo below. */
  private final class Prog(
      val op: Array[Int], val a1: Array[Int], val a2: Array[Int],
      val a3: Array[Int], val labels: Array[String], val nMarks: Int)

  private val progCache =
    new java.util.concurrent.ConcurrentHashMap[Pat, Prog]()

  private def compile(pat: Pat): Prog = {
    val cached = progCache.get(pat)
    if (cached != null) return cached
    val op = mutable.ArrayBuffer[Int]()
    val a1 = mutable.ArrayBuffer[Int]()
    val a2 = mutable.ArrayBuffer[Int]()
    val a3 = mutable.ArrayBuffer[Int]()
    val labels = mutable.ArrayBuffer[String]()
    val labelIdx = mutable.HashMap[String, Int]()
    var marks = 0
    def here: Int = op.length
    def emit(o: Int, x: Int = -1, y: Int = -1, z: Int = -1): Int = {
      op += o; a1 += x; a2 += y; a3 += z
      require(op.length <= 20000,
        "pattern too large after quantifier expansion (bounded repetition limit)")
      here - 1
    }
    def nullable(p: Pat): Boolean = p match {
      case Lit(_) => false
      case Empty | StartAnchor | EndAnchor => true
      case Cat(x, y) => nullable(x) && nullable(y)
      case Alt(x, y) => nullable(x) || nullable(y)
      case Rep(x, min, _, _) => min == 0 || nullable(x)
      case Excl(x) => nullable(x)
    }
    def go(p: Pat): Unit = p match {
      case Lit(v) =>
        val li = labelIdx.getOrElseUpdate(v, { labels += v; labels.length - 1 })
        emit(0, li)
      case StartAnchor => emit(3)
      case EndAnchor => emit(4)
      case Empty => ()
      case Cat(x, y) => go(x); go(y)
      case Alt(x, y) =>
        val sp = emit(1)
        go(x)
        val jm = emit(2)
        a1(sp) = sp + 1; a2(sp) = here
        go(y)
        a1(jm) = here
      case Excl(x) => go(markExclusions(x, in = true))
      case Rep(x, min, max, greedy) =>
        // min mandatory copies (zero-width bodies collapse naturally:
        // a zero-width completion leaves (i, acc) unchanged, so the
        // remaining copies complete zero-width too — same result as
        // the old matcher's direct-continuation collapse)
        var k = 0
        while (k < min) { go(x); k += 1 }
        if (max < 0) {
          val sp = emit(1)
          val bodyStart = here
          val slot = if (nullable(x)) { marks += 1; emit(6, marks - 1); marks - 1 }
            else -1
          go(x)
          if (slot >= 0) emit(7, slot, sp, -1) // exit patched below
          else emit(2, sp)
          val exit = here
          if (greedy) { a1(sp) = bodyStart; a2(sp) = exit }
          else { a1(sp) = exit; a2(sp) = bodyStart }
          // patch the PROGRESS just emitted (the latest op 7)
          if (slot >= 0) {
            var j = here - 1
            while (op(j) != 7) j -= 1
            a3(j) = exit
          }
        } else if (max > min) {
          // (max-min) nested optionals sharing one exit
          val splits = mutable.ArrayBuffer[Int]()
          var k2 = min
          while (k2 < max) { splits += emit(1); go(x); k2 += 1 }
          val exit = here
          splits.foreach { sp =>
            if (greedy) { a1(sp) = sp + 1; a2(sp) = exit }
            else { a1(sp) = exit; a2(sp) = sp + 1 }
          }
        }
    }
    go(pat)
    emit(5)
    val prog = new Prog(op.toArray, a1.toArray, a2.toArray, a3.toArray,
      labels.toArray, marks)
    progCache.put(pat, prog)
    prog
  }

  /** Greedy leftmost backtracking match of `pat` against rows starting
    * at `start`. `classify(i, v, accRev)` tests whether row i matches
    * pattern variable v given the labels assigned so far (most recent
    * first). Returns the classifier variable names per consumed row of
    * the longest-preferred match, or null.
    *
    * Execution is an explicit-stack backtracking VM (no recursion — a
    * match spanning a whole 100k-row partition costs heap, not stack).
    * When `memoOk` (every DEFINE predicate is history-free, i.e. reads
    * only the current/physically-adjacent rows) and the program has no
    * marks, the control state is exactly (pc, i): a visited-state
    * bitset then skips re-exploring failed states — RE2's bounded-
    * backtracking trick, which turns catastrophic patterns like the
    * reference's `^(A+)+B$` stress test (testUnsuccessfulPatternMatch)
    * from exponential into O(rows × program). The bitset is only
    * allocated once a match attempt exceeds a step threshold, so
    * ordinary linear matches never pay for it. History-dependent
    * DEFINEs (running FIRST/LAST navigation) make states incomparable,
    * so there a loud step budget replaces the memo. */
  private def matchFrom(
      pat: Pat,
      start: Int,
      n: Int,
      classify: (Int, String, List[String]) => Boolean,
      memoOk: Boolean = false): Array[String] = {

    val prog = compile(pat)
    // memo span in Long: Int arithmetic would overflow for huge
    // partitions x expanded patterns (negative BitSet size, or worse,
    // a wrapped-positive size aliasing distinct states to one bit and
    // silently pruning live matches). Past the cap (2^28 bits = 32 MB)
    // the memo is skipped — correctness never depends on it.
    val memoSpan = (n + 1 - start).toLong * prog.op.length
    val useMemo = memoOk && prog.nMarks == 0 && memoSpan <= (1L << 28)
    var visited: java.util.BitSet = null

    var pc = 0
    var i = start
    var acc: List[String] = Nil
    var marks: Array[Int] =
      if (prog.nMarks > 0) new Array[Int](prog.nMarks) else null

    // backtrack stack (parallel growable arrays)
    var cap = 64
    var sPc = new Array[Int](cap)
    var sI = new Array[Int](cap)
    var sAcc = new Array[List[String]](cap)
    var sMarks = new Array[Array[Int]](cap)
    var sp = 0
    def push(pcv: Int, iv: Int): Unit = {
      if (sp == cap) {
        cap *= 2
        sPc = java.util.Arrays.copyOf(sPc, cap)
        sI = java.util.Arrays.copyOf(sI, cap)
        sAcc = java.util.Arrays.copyOf(sAcc, cap)
        sMarks = java.util.Arrays.copyOf(sMarks, cap)
      }
      sPc(sp) = pcv; sI(sp) = iv; sAcc(sp) = acc
      sMarks(sp) = if (marks != null) marks.clone() else null
      sp += 1
    }

    var steps = 0L
    var result: Array[String] = null
    var running = true
    while (running) {
      steps += 1
      if (useMemo && visited == null && steps == 8192)
        visited = new java.util.BitSet(memoSpan.toInt)
      var backtrack = false
      if (visited != null) {
        val idx = pc * (n + 1 - start) + (i - start)
        if (visited.get(idx)) backtrack = true else visited.set(idx)
      }
      if (!backtrack) {
        if (steps > 50000000L)
          throw new IllegalStateException(
            "MATCH_RECOGNIZE: pattern match exceeded the backtracking " +
              "budget (history-dependent DEFINE predicates prevent " +
              "memoization) — simplify the pattern's quantifier nesting " +
              "or make DEFINE conditions history-free")
        prog.op(pc) match {
          case 0 => // CHAR
            val label = prog.labels(prog.a1(pc))
            if (i < n && classify(i, realLabel(label), acc)) {
              acc = label :: acc; i += 1; pc += 1
            } else backtrack = true
          case 1 => // SPLIT: try a1 now, a2 on backtrack
            push(prog.a2(pc), i)
            pc = prog.a1(pc)
          case 2 => pc = prog.a1(pc) // JMP
          case 3 => if (i == 0) pc += 1 else backtrack = true // ^
          case 4 => if (i == n) pc += 1 else backtrack = true // $
          case 5 => // MATCH
            result = acc.reverse.toArray
            running = false
          case 6 => marks(prog.a1(pc)) = i; pc += 1 // SETMARK
          case 7 => // PROGRESS: zero-width body iteration collapses
            pc = if (i == marks(prog.a1(pc))) prog.a3(pc) else prog.a2(pc)
        }
      }
      if (backtrack) {
        if (sp == 0) running = false
        else {
          sp -= 1
          pc = sPc(sp); i = sI(sp); acc = sAcc(sp)
          if (sMarks(sp) != null) marks = sMarks(sp)
          sAcc(sp) = null; sMarks(sp) = null
        }
      }
    }
    result
  }

  /** Test hook (PropertiesSpec): segment an n-row group with the NFA
    * under context-free classification and SKIP PAST LAST ROW, exactly
    * as the operator scan loop does — returns (startIdx, labels) per
    * non-empty match. This is the kernel a regex reference
    * implementation can be raced against: SQL row-pattern preferment
    * order IS backtracking order, so for disjoint single-char classes
    * the segmentation must equal java.util.regex's. */
  private[graft] def segmentForTest(pattern: String, n: Int,
      classify: (Int, String) => Boolean): Seq[(Int, Array[String])] = {
    val pat = parse(pattern)
    val out = mutable.ArrayBuffer[(Int, Array[String])]()
    var i = 0
    while (i < n) {
      val m = matchFrom(pat, i, n, (j, v, _) => classify(j, v), memoOk = true)
      if (m != null && m.length > 0) {
        out += ((i, m))
        i += m.length
      } else i += 1
    }
    out.toSeq
  }

  /** Adapt the simple (prevRowOrNull, row) DEFINE form to the context
    * form — the common PREV(x) comparison as a physical 1-back. */
  def wrapSimple(define: Map[String, (Row, Row) => Boolean])
      : Map[String, MatchCtx => Boolean] =
    define.map { case (v, f) => v -> ((ctx: MatchCtx) => f(ctx.prev(1), ctx.row)) }

  /** Scan core behind [[sqlRows]]: stream each key group of the shared
    * [[KeyGroups]] scan through the automaton and hand every match
    * (matchNo, group rows, start index, labels) to `emit` — one row per
    * match, or several for ALL ROWS PER MATCH. */
  private def runCore(
      df: DataFrame,
      partCols: Seq[String],
      orderCols: Seq[String],
      pattern: String,
      define: Map[String, MatchCtx => Boolean],
      skip: SkipMode,
      subsets: Map[String, Set[String]],
      emitUnmatched: (collection.IndexedSeq[Row], Int) => Row,
      emitEmpty: (Long, collection.IndexedSeq[Row], Int) => Row,
      historyFree: Boolean,
      rowFreeVars: Set[String])(
      emit: (Long, collection.IndexedSeq[Row], Int, Array[String]) => Seq[Row])(
      implicit enc: org.apache.spark.sql.Encoder[Row]): DataFrame = {
    val pat = parse(pattern)
    val vars = define // serialized into the task closure
    val subs = subsets
    val hFree = historyFree
    val rfVars = rowFreeVars
    KeyGroups.scan(df, partCols, orderCols, "MATCH_RECOGNIZE") { buf =>
      val out = mutable.ArrayBuffer[Row]()
      val n = buf.length
      var i = 0
      var matchNo = 0L
      // incremental DEFINE-aggregate memo, one per key group
      // (MatchCtx.foldIncremental) — list nodes are unique per match
      // attempt, so one scope safely spans attempts
      val aggCache = new java.util.IdentityHashMap[
        List[String], java.util.HashMap[AnyRef, Any]]()
      val rowMemo = newRowMemo(rfVars, n)
      // WITH UNMATCHED ROWS: track which rows belong to ANY match
      val covered = if (emitUnmatched != null) new Array[Boolean](n) else null
      while (i < n) {
        val m = matchFrom(pat, i, n,
          classifier(vars, subs, rfVars, rowMemo, buf, i, matchNo + 1, aggCache),
          memoOk = hFree)
        if (m != null && m.length > 0) {
          matchNo += 1
          out ++= emit(matchNo, buf, i, m)
          if (covered != null) java.util.Arrays.fill(covered, i, i + m.length, true)
          i = skipTo(skip, subs, i, m, i + 1)
        } else if (m != null) {
          // empty match (pattern consumed zero rows): it ALWAYS
          // consumes a MATCH_NUMBER — the standard numbers empty
          // matches even when OMIT EMPTY MATCHES hides them
          // (reference testOutputModes: the B-run after an omitted
          // empty match is match 2) — and resumes at the next row
          matchNo += 1
          if (emitEmpty != null) out += emitEmpty(matchNo, buf, i)
          i += 1
        } else i += 1
      }
      if (covered != null) {
        var j = 0
        while (j < n) {
          if (!covered(j)) out += emitUnmatched(buf, j)
          j += 1
        }
      }
      out.iterator
    }
  }

  /** Cross-attempt classification memo for ROW-ONLY DEFINE predicates
    * (no match history, no MATCH_NUMBER — the front-end proves it): the
    * verdict depends only on the physical row, yet greedy-quantifier
    * backtracking re-tests it once per ATTEMPT — O(attempts × rows)
    * evaluations on a `(H | L)* X`-style scan. Per variable, one byte
    * per row: 0 = unevaluated, 1 = T, 2 = F. Skipped for huge spilled
    * groups. */
  private def newRowMemo(rfVars: Set[String], n: Int)
      : java.util.HashMap[String, Array[Byte]] =
    if (rfVars.isEmpty || n > (1 << 24)) null else new java.util.HashMap()

  /** The NFA's `classify(j, v, labelsRev)` for a match attempt starting
    * at `startIdx`. A pattern variable with no DEFINE entry is TRUE for
    * every row (SQL:2016; reference TestRowPatternMatching "A defaults
    * to True, matches any row"). */
  private def classifier(
      vars: Map[String, MatchCtx => Boolean],
      subs: Map[String, Set[String]],
      rfVars: Set[String],
      rowMemo: java.util.HashMap[String, Array[Byte]],
      buf: collection.IndexedSeq[Row],
      startIdx: Int,
      matchNumber: Long,
      aggCache: java.util.IdentityHashMap[List[String], java.util.HashMap[AnyRef, Any]])
      : (Int, String, List[String]) => Boolean = (j, v, accRev) =>
    vars.get(v) match {
      case None => true
      case Some(f) =>
        if (rowMemo != null && rfVars.contains(v)) {
          var arr = rowMemo.get(v)
          if (arr == null) { arr = new Array[Byte](buf.length); rowMemo.put(v, arr) }
          val c = arr(j)
          if (c != 0) c == 1
          else {
            val r = f(new MatchCtx(buf, j, startIdx, accRev, v, subs, matchNumber, aggCache))
            arr(j) = if (r) 1 else 2
            r
          }
        } else f(new MatchCtx(buf, j, startIdx, accRev, v, subs, matchNumber, aggCache))
    }

  /** Where the scan resumes after match `m` anchored at `at` (AFTER
    * MATCH SKIP; `nextRow` is the TO NEXT ROW position — the window
    * form's anchor may lie ahead of its row). Skip targets may be a
    * variable or a SUBSET union (reference SqlBase.g4
    * subsetDefinition). */
  private def skipTo(skip: SkipMode, subs: Map[String, Set[String]],
      at: Int, m: Array[String], nextRow: Int): Int = {
    def hit(label0: String, v: String): Boolean = {
      val label = realLabel(label0)
      label == v || subs.getOrElse(v, Set.empty).contains(label)
    }
    skip match {
      case SkipMode.PastLastRow => at + m.length
      case SkipMode.ToNextRow => nextRow
      case SkipMode.ToFirst(v) =>
        val idx = m.indexWhere(hit(_, v))
        require(idx > 0, s"AFTER MATCH SKIP TO FIRST($v): " +
          "variable absent from match or maps to its first row")
        at + idx
      case SkipMode.ToLast(v) =>
        val idx = m.lastIndexWhere(hit(_, v))
        require(idx > 0, s"AFTER MATCH SKIP TO LAST($v): " +
          "variable absent from match or maps to its first row")
        at + idx
    }
  }

  /** Measure surface for the SQL front-end ([[sqlRows]]) — the
    * reference's MEASURES grammar subset over arbitrary input columns
    * (`SqlBase.g4:360-399` measureDefinition). */
  sealed trait SqlMeasure
  object SqlMeasure {
    case object MatchNum extends SqlMeasure
    case object Classifier extends SqlMeasure
    case object CountStar extends SqlMeasure
    /** `fn` ∈ first|last|min|max|sum|avg over a numeric input column;
      * `variable` restricts the fed rows to those the NFA labeled with
      * that variable (or a SUBSET union) — the grammar's qualified
      * `fn(VAR.col)` form. */
    final case class Agg(fn: String, column: String,
        variable: Option[String] = None, offset: Int = 0) extends SqlMeasure
    /** Explicit `FINAL agg(col)`: in ALL ROWS PER MATCH, every row of
      * the match carries the WHOLE-match value (the default there is
      * RUNNING). In ONE ROW PER MATCH it equals [[Agg]]. */
    final case class FinalAgg(fn: String, column: String,
        variable: Option[String] = None, offset: Int = 0) extends SqlMeasure
    /** Explicit `FINAL COUNT(*)`: the full match length on every row. */
    case object FinalCount extends SqlMeasure
    /** Explicit `FINAL CLASSIFIER()`: the LAST matched row's label. */
    case object FinalClassifier extends SqlMeasure
    /** `count(V.*)`: rows the NFA labeled V (or a SUBSET member) —
      * RUNNING over the prefix unless `isFinal`. */
    final case class VarCount(variable: String, isFinal: Boolean) extends SqlMeasure
    /** `array_agg([VAR.]col)`: the fed rows' column values in match
      * order — RUNNING prefix arrays in ALL ROWS unless `isFinal`
      * (reference TestAggregationsInRowPatternMatching). */
    final case class ArrayAggCol(column: String,
        variable: Option[String] = None, isFinal: Boolean = false) extends SqlMeasure
    /** `array_agg(CLASSIFIER([VAR]))`: the fed rows' labels in match
      * order — the corpus's standard observable for which variable
      * matched each row. */
    final case class ClassifierArray(variable: Option[String] = None,
        isFinal: Boolean = false) extends SqlMeasure
    /** RUNNING/FINAL aggregate over a COMPUTED per-row value —
      * `eval(row, realLabel, matchNo)` feeds the accumulator
      * (reference TestExpressionRewriteInRowPatternMatching:
      * `sum(array_max(ARRAY[MATCH_NUMBER()]))`,
      * `bool_or(CLASSIFIER() LIKE '%B')`). Result types:
      * sum/min/max BIGINT (integral feeds only), count BIGINT,
      * avg DOUBLE, bool_or/bool_and BOOLEAN. */
    final case class AggEval(fn: String,
        eval: (Row, String, Long) => Any,
        variable: Option[String] = None,
        isFinal: Boolean = false) extends SqlMeasure
  }

  /** Streaming accumulator for one measure aggregate: feed rows in
    * match order, read `value` after any prefix (RUNNING) or after the
    * whole match (FINAL). Integral columns accumulate exactly in Long;
    * fractional in a sequential left-fold Double (deterministic across
    * partitionings — match order is total). Nulls are ignored, SQL
    * aggregate semantics; a prefix of only-null values yields null. */
  private sealed trait RunAccum { def value: Any }

  /** Accumulator for [[SqlMeasure.AggEval]] — running aggregate over a
    * COMPUTED per-row value (sum/min/max/count Long-exact, avg double,
    * bool_or/bool_and three-valued). Fractional feeds under sum/min/
    * max fail loud: the declared result type is LongType. */
  private final class RunAggEval(fn: String) extends RunAccum {
    private var n = 0L
    private var sL = 0L
    private var mnL = Long.MaxValue
    private var mxL = Long.MinValue
    private var acc = fn != "bool_or" // bool_and zero; bool_or false
    def update(v: Any): Unit = {
      if (v == null) return
      n += 1
      v match {
        case b: java.lang.Boolean =>
          if (fn != "bool_or" && fn != "bool_and")
            throw new IllegalArgumentException(
              s"measure $fn over a boolean computed argument")
          acc = if (fn == "bool_or") acc || b.booleanValue()
          else acc && b.booleanValue()
        case x: Number =>
          x match {
            case _: java.lang.Double | _: java.lang.Float =>
              throw new IllegalArgumentException(
                s"measure $fn over a fractional computed argument is " +
                  "unsupported (declared result type is BIGINT)")
            case _ => ()
          }
          val l = x.longValue()
          sL = java.lang.Math.addExact(sL, l)
          if (l < mnL) mnL = l
          if (l > mxL) mxL = l
        case o => throw new IllegalArgumentException(
          s"measure $fn: unsupported computed value ${o.getClass.getSimpleName}")
      }
    }
    def value: Any = fn match {
      case "count" => n
      case _ if n == 0 => null
      case "sum" => sL
      case "min" => mnL
      case "max" => mxL
      case "avg" => sL.toDouble / n
      case "bool_or" | "bool_and" => acc
      case other => throw new IllegalArgumentException(
        s"unsupported computed-argument aggregate '$other'")
    }
  }

  private final class RunAgg(fn: String, colName: String, kind: Int,
      offset: Int = 0) extends RunAccum {
    // kind: 0 = integral (exact Long), 1 = fractional (Double),
    //       2 = string (first/last/min/max only — enforced at analysis)
    private def integral: Boolean = kind == 0
    private var fstS: String = _
    private var lstS: String = _
    private var mnS: String = _
    private var mxS: String = _
    // Logical-navigation offsets (reference FIRST(V.col, n)/LAST(V.col, n)):
    // first+n captures the (n+1)-th fed value; last+n keeps a ring of
    // the trailing n+1 — O(n) state, never the whole match.
    private var firstOff: Any = null
    private val lastRing: Array[Any] =
      if (offset > 0 && fn == "last") new Array[Any](offset + 1) else null
    private var idx = -2 // fieldIndex memo (-2 unset)
    private var n = 0L
    private var sL = 0L
    private var sD = 0.0
    private var mnL = Long.MaxValue
    private var mxL = Long.MinValue
    private var mnD = Double.PositiveInfinity
    private var mxD = Double.NegativeInfinity
    private var fstL = 0L
    private var fstD = 0.0
    private var lstL = 0L
    private var lstD = 0.0
    def update(r: Row): Unit = {
      if (idx == -2) idx = r.fieldIndex(colName)
      val v = r.get(idx)
      if (v != null) {
        n += 1
        if (kind == 2) {
          val s = v.asInstanceOf[String]
          if (offset > 0) {
            if (fn == "first" && n == offset + 1) firstOff = s
            if (lastRing != null) lastRing(((n - 1) % (offset + 1)).toInt) = s
          }
          if (n == 1L) fstS = s
          lstS = s
          if (mnS == null || s.compareTo(mnS) < 0) mnS = s
          if (mxS == null || s.compareTo(mxS) > 0) mxS = s
          return
        }
        val num = v.asInstanceOf[Number]
        if (offset > 0) {
          if (fn == "first" && n == offset + 1)
            firstOff = if (integral) num.longValue() else num.doubleValue()
          if (lastRing != null)
            lastRing(((n - 1) % (offset + 1)).toInt) =
              if (integral) num.longValue() else num.doubleValue()
        }
        if (integral) {
          val x = num.longValue()
          sL += x
          if (x < mnL) mnL = x
          if (x > mxL) mxL = x
          if (n == 1L) fstL = x
          lstL = x
        } else {
          val x = num.doubleValue()
          sD += x
          if (x < mnD) mnD = x
          if (x > mxD) mxD = x
          if (n == 1L) fstD = x
          lstD = x
        }
      }
    }
    def value: Any =
      if (fn == "count") n // count of an empty/all-null set is 0, not null
      else if (n == 0L) null
      else if (offset > 0 && fn == "first") firstOff // null below offset+1 rows
      else if (offset > 0 && fn == "last") {
        if (n <= offset) null
        else lastRing(((n - 1 - offset) % (offset + 1)).toInt)
      }
      else if (kind == 2) fn match {
        case "first" => fstS
        case "last" => lstS
        case "min" => mnS
        case "max" => mxS
      }
      else if (fn == "avg") (if (integral) sL.toDouble else sD) / n
      else if (integral) fn match {
        case "first" => fstL
        case "last" => lstL
        case "min" => mnL
        case "max" => mxL
        case "sum" => sL
      }
      else fn match {
        case "first" => fstD
        case "last" => lstD
        case "min" => mnD
        case "max" => mxD
        case "sum" => sD
      }
  }

  /** Row-pattern recognition IN WINDOW FRAMES (reference `SqlBase.g4`
    * windowSpecification with MEASURES/PATTERN; semantics pinned by
    * `TestRowPatternMatchingInWindow` / `testSeek`): every input row
    * INDEPENDENTLY looks for one match inside its frame
    * `ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING` — anchored at
    * the current row (INITIAL, the default) or at the first matching
    * position at-or-after it (SEEK). No cross-row consumption: unlike
    * the table form, a row's match does not affect its neighbours'.
    *
    * Output: every input column plus `match_vals` / `match_labels` —
    * the matched rows' `valueCol` values and classifier labels in
    * match order (null arrays when the row finds no match, the
    * standard's empty-frame semantics). Scalar measures over the match
    * are then one Catalyst expression away (aggregate/transform over
    * the arrays), which is how the vector spec reproduces the
    * reference's array_agg measures.
    *
    * Scale shape: identical to the table form — one shuffle on the
    * partition key, a local sort, and a per-key streaming scan; the
    * per-row seek cost is bounded by frame length exactly as in the
    * reference's windowed matcher. */
  def windowMatches(
      df: DataFrame,
      partCols: Seq[String],
      orderCols: Seq[String],
      pattern: String,
      define: Map[String, MatchCtx => Boolean],
      valueCol: String,
      seek: Boolean = false,
      subsets: Map[String, Set[String]] = Map.empty,
      skip: SkipMode = SkipMode.ToNextRow,
      frameEndCol: Option[String] = None,
      rowFreeVars: Set[String] = Set.empty): DataFrame = {
    import org.apache.spark.sql.types._
    // empty PARTITION BY ≡ one global partition (hidden constant key,
    // dropped from the output)
    if (partCols.isEmpty) {
      return windowMatches(
        df.withColumn("__gwpart", org.apache.spark.sql.functions.lit(0)),
        Seq("__gwpart"), orderCols, pattern, define, valueCol, seek,
        subsets, skip, frameEndCol, rowFreeVars).drop("__gwpart")
    }
    val inSchema = df.schema
    val outSchema = StructType(inSchema.fields.toSeq ++ Seq(
      StructField("match_vals", ArrayType(inSchema(valueCol).dataType)),
      StructField("match_labels", ArrayType(StringType))))
    implicit val enc: org.apache.spark.sql.Encoder[Row] =
      org.apache.spark.sql.Encoders.row(outSchema)
    val pat = parse(pattern)
    val vars = define
    val subs = subsets
    val vIdx = inSchema.fieldIndex(valueCol)
    val doSeek = seek
    val skipMode = skip
    val rfVars = rowFreeVars
    // `ROWS BETWEEN CURRENT ROW AND <col> FOLLOWING` (reference
    // testFrameBounds — the bound may be a per-row COLUMN): the match
    // search from row i is limited to rows [i, i + bound(i)]. Variable
    // bounds invalidate the backward seek memo (different n per row),
    // so the bounded form runs one direct matchFrom per row.
    val frameEndIdx = frameEndCol.map(inSchema.fieldIndex)
    require(frameEndIdx.isEmpty || !seek,
      "SEEK with a variable frame bound is not supported")
    KeyGroups.scan(df, partCols, orderCols, "MATCH_RECOGNIZE (window form)") { buf =>
      val n = buf.length
      // Backward memo: the SEEK answer for row i is the match anchored
      // AT i if one exists, else row i+1's answer — one matchFrom per
      // position, O(n·matchcost) instead of the naive O(n²·matchcost)
      // forward re-scan per row.
      val anchors = new Array[Int](n)
      val found = new Array[Array[String]](n)
      val aggCache = new java.util.IdentityHashMap[
        List[String], java.util.HashMap[AnyRef, Any]]()
      // same cross-attempt row memo as the table form: a window scan
      // attempts a match per ROW, so row-only DEFINE predicates
      // re-test O(n) times without it
      val rowMemo = newRowMemo(rfVars, n)
      var p = n - 1
      while (p >= 0) {
        val bound = frameEndIdx match {
          case Some(c) =>
            val off = buf(p).get(c) match {
              case null => 0L
              case x: Number => math.max(0L, x.longValue())
            }
            math.min(n.toLong, p + 1 + off).toInt
          case None => n
        }
        val m0 = matchFrom(pat, p, bound,
          classifier(vars, subs, rfVars, rowMemo, buf, p, 1L, aggCache))
        if (m0 != null && m0.length > 0) { anchors(p) = p; found(p) = m0 }
        else if (doSeek && p + 1 < n) {
          anchors(p) = anchors(p + 1); found(p) = found(p + 1)
        } else { anchors(p) = -1; found(p) = null }
        p -= 1
      }
      // AFTER MATCH SKIP consumption (reference window-MR semantics:
      // rows inside a prior match's skip range get NULL measures — they
      // never attempt a match). The range extends to the skip RESUME
      // position for every mode: past-last-row consumes the whole
      // match, TO FIRST/LAST v consume up to that label's row
      // (reference testAfterMatchSkipToLabel: 'rows 2, 3 are skipped'),
      // and TO NEXT ROW consumes nothing beyond the row itself (under
      // SEEK the anchor may be ahead of the row).
      var consumedUntil = 0
      Iterator.tabulate(n) { i =>
        val r = buf(i)
        val m = if (i < consumedUntil) null else found(i)
        val at = anchors(i)
        if (m != null) consumedUntil = skipTo(skipMode, subs, at, m, i + 1)
        val (vals, labels) =
          if (m == null) (null, null)
          else (m.indices.map(k => buf(at + k).get(vIdx)), m.toSeq.map(realLabel))
        Row.fromSeq(r.toSeq ++ Seq(vals, labels))
      }
    }
  }

  /** SQL-shaped MATCH_RECOGNIZE surface (reference `SqlBase.g4:360-399`
    * patternRecognition): multi-column PARTITION BY / ORDER BY,
    * measures over arbitrary numeric input columns, and both output
    * modes — ONE ROW PER MATCH with FINAL measure semantics, or ALL
    * ROWS PER MATCH with RUNNING semantics (each the standard's default
    * for its mode). Output schema follows the standard: ONE ROW →
    * partition columns + measures; ALL ROWS → partition columns + order
    * columns + measures + remaining input columns. Rows matched inside
    * `{- ... -}` exclusions feed measures but are omitted from ALL ROWS
    * output (SQL:2016). */
  def sqlRows(
      df: DataFrame,
      partCols: Seq[String],
      orderCols: Seq[String],
      pattern: String,
      define: Map[String, MatchCtx => Boolean],
      measures: Seq[(SqlMeasure, String)],
      allRows: Boolean,
      skip: SkipMode = SkipMode.PastLastRow,
      subsets: Map[String, Set[String]] = Map.empty,
      showEmpty: Boolean = false,
      withUnmatched: Boolean = false,
      historyFree: Boolean = false,
      rowFreeVars: Set[String] = Set.empty): DataFrame = {
    require(!withUnmatched || allRows,
      "WITH UNMATCHED ROWS requires ALL ROWS PER MATCH")
    require(!(showEmpty && withUnmatched),
      "SHOW EMPTY MATCHES and WITH UNMATCHED ROWS are mutually exclusive")
    import org.apache.spark.sql.types._
    val inSchema = df.schema
    // per-column value kind: 0 integral, 1 fractional, 2 string.
    // Strings support first/last/min/max only (no sum/avg).
    def kindOf(fn: String, c: String): Int = inSchema(c).dataType match {
      case ByteType | ShortType | IntegerType | LongType => 0
      case FloatType | DoubleType => 1
      case StringType =>
        if (fn == "sum" || fn == "avg") throw new IllegalArgumentException(
          s"measure $fn($c): numeric column required for $fn, got STRING")
        2
      case other => throw new IllegalArgumentException(
        s"measure $fn($c): numeric or string column required, got $other")
    }
    val integral: Map[String, Int] = measures.collect {
      case (SqlMeasure.Agg(fn, c, _, _), _) => c -> kindOf(fn, c)
      case (SqlMeasure.FinalAgg(fn, c, _, _), _) => c -> kindOf(fn, c)
    }.toMap
    val measureFields = measures.map {
      case (SqlMeasure.MatchNum, a) => StructField(a, LongType, nullable = withUnmatched)
      case (SqlMeasure.Classifier, a) => StructField(a, StringType)
      case (SqlMeasure.FinalClassifier, a) => StructField(a, StringType)
      case (SqlMeasure.CountStar, a) => StructField(a, LongType, nullable = withUnmatched)
      case (SqlMeasure.FinalCount, a) => StructField(a, LongType, nullable = withUnmatched)
      case (SqlMeasure.VarCount(_, _), a) => StructField(a, LongType, nullable = withUnmatched)
      case (SqlMeasure.Agg(fn, c, _, _), a) => StructField(a, integral(c) match {
        case _ if fn == "count" => LongType // count is a row count, not a value
        case 2 => StringType
        case 0 if fn != "avg" => LongType
        case _ => DoubleType
      })
      case (SqlMeasure.FinalAgg(fn, c, _, _), a) => StructField(a, integral(c) match {
        case _ if fn == "count" => LongType
        case 2 => StringType
        case 0 if fn != "avg" => LongType
        case _ => DoubleType
      })
      case (SqlMeasure.ArrayAggCol(c, _, _), a) =>
        StructField(a, ArrayType(inSchema(c).dataType, containsNull = true),
          nullable = true)
      case (SqlMeasure.ClassifierArray(_, _), a) =>
        StructField(a, ArrayType(StringType, containsNull = false),
          nullable = true)
      case (SqlMeasure.AggEval(fn, _, _, _), a) => StructField(a, fn match {
        case "avg" => DoubleType
        case "bool_or" | "bool_and" => BooleanType
        case _ => LongType
      }, nullable = true)
    }
    val keyCols = if (allRows) partCols ++ orderCols else partCols
    val restCols =
      if (allRows) inSchema.fieldNames.toSeq.filterNot(keyCols.contains) else Nil
    val outSchema = StructType(
      keyCols.map(c => inSchema(inSchema.fieldIndex(c))) ++ measureFields ++
        restCols.map(c => inSchema(inSchema.fieldIndex(c))))
    implicit val enc: org.apache.spark.sql.Encoder[Row] =
      org.apache.spark.sql.Encoders.row(outSchema)
    val ms: Array[SqlMeasure] = measures.map(_._1).toArray
    // Qualified `fn(VAR.col)` measures: the fed rows are those the NFA
    // labeled VAR (or a member of the VAR subset); None feeds all.
    val aggVars: Array[Option[String]] = ms.map {
      case SqlMeasure.Agg(_, _, v, _) => v
      case SqlMeasure.FinalAgg(_, _, v, _) => v
      case e: SqlMeasure.AggEval => e.variable
      case SqlMeasure.ArrayAggCol(_, v, _) => v
      case SqlMeasure.ClassifierArray(v, _) => v
      case _ => None
    }
    val subsForVars = subsets
    // val lambdas, not defs: a local def lifts to a method of this
    // (non-serializable) object and poisons the task closure.
    val varOk: (Option[String], String) => Boolean = (vOpt, label) => vOpt match {
      case None => true
      case Some(v) =>
        val l = realLabel(label)
        l == v || subsForVars.getOrElse(v, Set.empty).contains(l)
    }
    val integ = integral
    val accumOf: SqlMeasure => RunAccum = {
      case SqlMeasure.Agg(fn, c, _, o) => new RunAgg(fn, c, integ(c), o)
      case SqlMeasure.FinalAgg(fn, c, _, o) => new RunAgg(fn, c, integ(c), o)
      case e: SqlMeasure.AggEval => new RunAggEval(e.fn)
      case _ => null
    }
    // feed the matched row `r` (NFA label `label`) to accumulator `ai`
    // when the measure's variable filter admits it
    val feed: (Array[RunAccum], Int, Row, String, Long) => Unit =
      (accs, ai, r, label, matchNo) =>
        if (accs(ai) != null && varOk(aggVars(ai), label)) accs(ai) match {
          case a: RunAgg => a.update(r)
          case a: RunAggEval => a.update(ms(ai).asInstanceOf[SqlMeasure.AggEval]
            .eval(r, realLabel(label), matchNo))
        }
    // a whole-match array_agg measure (ONE ROW, or FINAL in ALL ROWS)
    val wholeArray: (SqlMeasure, collection.IndexedSeq[Row], Int, Array[String]) => Any =
      (msr, buf, i, m) => {
        val o = (msr: @unchecked) match {
          case SqlMeasure.ArrayAggCol(c, v, _) => m.indices.collect {
            case k if varOk(v, m(k)) => val rr = buf(i + k); rr.get(rr.fieldIndex(c))
          }
          case SqlMeasure.ClassifierArray(v, _) =>
            m.filter(l => varOk(v, l)).map(realLabel).toSeq
        }
        if (o.isEmpty) null else o
      }
    // an empty match's measures: its number, zero counts, nulls
    val emptyMeasures: Long => Array[Any] = matchNo => ms.map {
      case SqlMeasure.MatchNum => matchNo
      case SqlMeasure.CountStar | SqlMeasure.FinalCount | SqlMeasure.VarCount(_, _) => 0L
      case _ => null
    }
    // output row: key columns, measures, remaining input columns
    val kIdx = keyCols.map(inSchema.fieldIndex).toArray
    val rIdx = restCols.map(inSchema.fieldIndex).toArray
    val rowOf: (Row, Array[Any]) => Row = (r, mv) =>
      new GenericRow(kIdx.map(r.get) ++ mv ++ rIdx.map(r.get))
    val emitEmpty: (Long, collection.IndexedSeq[Row], Int) => Row =
      if (!showEmpty) null
      else (matchNo, buf, i) => rowOf(buf(i), emptyMeasures(matchNo))

    if (!allRows) {
      // ONE ROW PER MATCH shows empty matches by default (standard
      // semantics; reference TestRowPatternMatching testOutputModes):
      // an empty match emits one row with its MATCH_NUMBER, COUNT 0,
      // and null classifier/aggregates.
      runCore(df, partCols, orderCols, pattern, define, skip, subsets, null,
        emitEmpty, historyFree, rowFreeVars) {
        (matchNo, buf, i, m) =>
          val aggs = ms.map(accumOf)
          var k = 0
          while (k < m.length) { // FINAL: feed every matched row first
            var ai = 0
            while (ai < aggs.length) { feed(aggs, ai, buf(i + k), m(k), matchNo); ai += 1 }
            k += 1
          }
          val mv = ms.indices.map(mi => ms(mi) match {
            case SqlMeasure.MatchNum => matchNo
            // ONE ROW PER MATCH evaluates CLASSIFIER() FINAL: the LAST
            // matched row's label (standard; reference testOutputModes
            // expects 'B' for a two-B match, not a concatenation)
            case SqlMeasure.Classifier | SqlMeasure.FinalClassifier => realLabel(m.last)
            case SqlMeasure.CountStar | SqlMeasure.FinalCount => m.length.toLong
            case SqlMeasure.VarCount(v, _) => m.count(l => varOk(Some(v), l)).toLong
            case a @ (_: SqlMeasure.ArrayAggCol | _: SqlMeasure.ClassifierArray) =>
              wholeArray(a, buf, i, m)
            case _ => aggs(mi).value
          }).toArray
          Seq(rowOf(buf(i), mv))
      }
    } else {
      // SHOW EMPTY MATCHES: a zero-row match at row i emits one row —
      // numbered, null classifier, COUNT 0, null aggregates — carrying
      // row i's input columns. WITH UNMATCHED ROWS: rows in no match
      // emit once with every measure null (the planner's null
      // MATCH_NUMBER contract).
      val emitUnmatched: (collection.IndexedSeq[Row], Int) => Row =
        if (!withUnmatched) null
        else (buf, j) => rowOf(buf(j), new Array[Any](ms.length))
      val isFinal: SqlMeasure => Boolean = {
        case _: SqlMeasure.FinalAgg => true
        case e: SqlMeasure.AggEval => e.isFinal
        case _ => false
      }
      runCore(df, partCols, orderCols, pattern, define, skip, subsets,
        emitUnmatched, emitEmpty, historyFree, rowFreeVars) {
        (matchNo, buf, i, m) =>
          val running = ms.map(x => if (isFinal(x)) null else accumOf(x))
          // FINAL measures: one whole-match pass up front, every
          // emitted row then carries the same final value.
          val finals = ms.map(x => if (isFinal(x)) accumOf(x) else null)
          var k = 0
          while (k < m.length) {
            var ai = 0
            while (ai < finals.length) { feed(finals, ai, buf(i + k), m(k), matchNo); ai += 1 }
            k += 1
          }
          val finalVals = finals.map(a => if (a == null) null else a.value)
          // per-variable prefix counts for count(V.*) measures
          val varCountPref: Map[String, Array[Int]] = ms.collect {
            case SqlMeasure.VarCount(v, _) => v
          }.distinct.map { v =>
            val pref = new Array[Int](m.length + 1)
            var p = 0
            while (p < m.length) {
              pref(p + 1) = pref(p) + (if (varOk(Some(v), m(p))) 1 else 0)
              p += 1
            }
            v -> pref
          }.toMap
          // RUNNING array measures: one growing buffer per measure,
          // fed in match order (excluded rows feed like RUNNING aggs);
          // FINAL ones: the whole-match array, computed once
          val runArr = ms.map {
            case SqlMeasure.ArrayAggCol(_, _, false) | SqlMeasure.ClassifierArray(_, false) =>
              scala.collection.mutable.ArrayBuffer[Any]()
            case _ => null
          }
          val finalArr: Array[Any] = ms.map {
            case a @ (SqlMeasure.ArrayAggCol(_, _, true) | SqlMeasure.ClassifierArray(_, true)) =>
              wholeArray(a, buf, i, m)
            case _ => null
          }
          val out = Seq.newBuilder[Row]
          k = 0
          while (k < m.length) {
            val r = buf(i + k)
            var ai = 0
            while (ai < ms.length) { // excluded rows feed RUNNING
              feed(running, ai, r, m(k), matchNo)
              if (runArr(ai) != null && varOk(aggVars(ai), m(k))) ms(ai) match {
                case SqlMeasure.ArrayAggCol(c, _, _) => runArr(ai) += r.get(r.fieldIndex(c))
                case _ => runArr(ai) += realLabel(m(k))
              }
              ai += 1
            }
            if (!isExcluded(m(k))) {
              val mv = new Array[Any](ms.length)
              var mi = 0
              while (mi < ms.length) {
                mv(mi) = ms(mi) match {
                  case SqlMeasure.MatchNum => matchNo
                  case SqlMeasure.Classifier => realLabel(m(k))
                  case SqlMeasure.FinalClassifier => realLabel(m.last)
                  case SqlMeasure.CountStar => (k + 1).toLong
                  case SqlMeasure.FinalCount => m.length.toLong
                  case SqlMeasure.VarCount(v, fin) =>
                    varCountPref(v)(if (fin) m.length else k + 1).toLong
                  case SqlMeasure.ArrayAggCol(_, _, true) | SqlMeasure.ClassifierArray(_, true) =>
                    finalArr(mi)
                  case SqlMeasure.ArrayAggCol(_, _, false) | SqlMeasure.ClassifierArray(_, false) =>
                    if (runArr(mi).isEmpty) null else runArr(mi).toList
                  case x => if (isFinal(x)) finalVals(mi) else running(mi).value
                }
                mi += 1
              }
              out += rowOf(r, mv)
            }
            k += 1
          }
          out.result()
      }
    }
  }
}

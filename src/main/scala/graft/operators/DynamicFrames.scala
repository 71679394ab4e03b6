package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Dynamic (per-row) frame-offset window aggregation as a first-class
  * operator — the scale-safe path for `ROWS/GROUPS/RANGE BETWEEN x
  * PRECEDING AND y FOLLOWING` with NON-constant offsets, which
  * Spark's native window framer cannot express (frame bounds must be
  * foldable).
  *
  * The reference evaluates per-row frames over a spillable
  * whole-partition buffer (`operator/window/RowsFraming.java`,
  * `GroupsFraming.java`, `RangeFraming.java` over a PagesIndex). This
  * operator reproduces that shape exactly on the [[KeyGroups]] scan
  * MATCH_RECOGNIZE also runs on: one shuffle on the partition key, a
  * local sort, and a streaming scan whose per-key working set is a
  * [[SpillableRowBuffer]] (on-heap up to the spill threshold,
  * task-local disk pages beyond). Per-row work:
  *
  *  - ROWS — frame `[i-lo, i+hi]` on the row axis; sum/count/avg are
  *    O(1) off exact prefix arrays, min/max scan the frame (the
  *    reference's own bound).
  *  - GROUPS — frame on the peer-group axis (`dense_rank`): group
  *    boundaries index the same prefix arrays; O(1)/O(frame).
  *  - RANGE — frame `[k-lo, k+hi]` on the sort-key axis: two binary
  *    searches (O(log n)) locate the frame, then prefix arrays as
  *    above. NULL sort keys take their peer block (SQL:2016).
  *
  * This is the 100-TB path the SQL front-end's dynamic-offset
  * lowering (sqlcompat/WindowFrameSql.scala — whole-partition
  * collected array with a partition-size guard) points to in
  * docs/MIGRATION.md: the collected-array form cannot spill, this
  * operator can.
  *
  * Offset semantics follow the standard and the reference: offsets
  * evaluate per row, must be non-negative and non-null ("Window frame
  * offset value must not be negative or null"), and frames clamp to
  * the partition edges. For ROWS/GROUPS the current row is always in
  * its own frame (lo, hi ≥ 0), so those frames are never empty; a
  * RANGE frame can be empty only for NULL-keyed rows' complement —
  * the null block itself is its own frame.
  */
object DynamicFrames {

  /** ROWS mode — see class doc. `fn` ∈ {sum, count, avg, min, max};
    * value and offset columns must be integral or fractional
    * primitives (decimals: pre-scale to a long — the limb convention
    * used by the exact-decimal queries — or aggregate in double
    * explicitly). */
  def rowsFrameAgg(
      df: DataFrame,
      partCols: Seq[String],
      orderCols: Seq[String],
      loCol: String,
      hiCol: String,
      valueCol: String,
      fn: String,
      outCol: String = "frame_agg",
      spillAfterRows: Int = MatchRecognize.SpillAfterRows): DataFrame =
    frameAgg(df, partCols, orderCols, loCol, hiCol, valueCol, fn, outCol,
      spillAfterRows, Mode.Rows)

  /** GROUPS mode: the frame counts PEER GROUPS (rows tying on
    * `orderCols`) instead of rows — `[g-lo, g+hi]` on the dense-rank
    * axis, expanded to whole groups. */
  def groupsFrameAgg(
      df: DataFrame,
      partCols: Seq[String],
      orderCols: Seq[String],
      loCol: String,
      hiCol: String,
      valueCol: String,
      fn: String,
      outCol: String = "frame_agg",
      spillAfterRows: Int = MatchRecognize.SpillAfterRows): DataFrame =
    frameAgg(df, partCols, orderCols, loCol, hiCol, valueCol, fn, outCol,
      spillAfterRows, Mode.Groups)

  /** RANGE mode: `orderCols` must be ONE ascending numeric sort key;
    * the frame is all rows whose key lies in `[k-lo, k+hi]`. When the
    * key AND both offset columns are integral, keys compare in LONG
    * space — exact over the full BIGINT range (bounds saturate at
    * Long.Min/Max instead of wrapping), so epoch-nanos keys past 2^53
    * stay exact. Fractional keys/offsets compare in double space
    * (exact for binary fractions; pre-scale decimals to longs — same
    * convention as the value column). NULL keys sort first (Spark
    * ascending default) and frame over their own peer block, per
    * SQL:2016. */
  def rangeFrameAgg(
      df: DataFrame,
      partCols: Seq[String],
      orderCol: String,
      loCol: String,
      hiCol: String,
      valueCol: String,
      fn: String,
      outCol: String = "frame_agg",
      spillAfterRows: Int = MatchRecognize.SpillAfterRows): DataFrame =
    frameAgg(df, partCols, Seq(orderCol), loCol, hiCol, valueCol, fn, outCol,
      spillAfterRows, Mode.Range)

  private object Mode extends Enumeration { val Rows, Groups, Range = Value }

  private def frameAgg(
      df: DataFrame,
      partCols: Seq[String],
      orderCols: Seq[String],
      loCol: String,
      hiCol: String,
      valueCol: String,
      fn: String,
      outCol: String,
      spillAfterRows: Int,
      mode: Mode.Value): DataFrame = {
    require(Set("sum", "count", "avg", "min", "max")(fn),
      s"frameAgg supports sum/count/avg/min/max, got '$fn'")
    val inSchema = df.schema
    val vIdx = inSchema.fieldIndex(valueCol)
    val integral = inSchema(vIdx).dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case FloatType | DoubleType => false
      case other => throw new IllegalArgumentException(
        s"frameAgg($fn($valueCol)): integral or fractional primitive " +
          s"column required, got $other (decimals: use the unscaled-long " +
          "limb convention)")
    }
    if (mode == Mode.Range) {
      require(orderCols.length == 1, "RANGE mode takes one sort key")
      inSchema(inSchema.fieldIndex(orderCols.head)).dataType match {
        case ByteType | ShortType | IntegerType | LongType | FloatType |
            DoubleType => ()
        case other => throw new IllegalArgumentException(
          s"rangeFrameAgg: numeric sort key required, got $other")
      }
    }
    // integral key + integral offsets → compare in long space (exact
    // over the full BIGINT range; the double path silently loses
    // exactness past 2^53 — epoch-nanos keys live there)
    def isIntType(c: String): Boolean =
      inSchema(inSchema.fieldIndex(c)).dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
    val rangeLongKeys = mode == Mode.Range &&
      isIntType(orderCols.head) && isIntType(loCol) && isIntType(hiCol)
    val outType: DataType = fn match {
      case "count" => LongType
      case "avg" => DoubleType
      case "sum" | "min" | "max" => if (integral) LongType else DoubleType
    }
    val outSchema = StructType(inSchema.fields :+
      StructField(outCol, outType, nullable = true))
    implicit val enc: org.apache.spark.sql.Encoder[Row] =
      org.apache.spark.sql.Encoders.row(outSchema)

    val oIdxs = orderCols.map(inSchema.fieldIndex)
    val loIdx = inSchema.fieldIndex(loCol)
    val hiIdx = inSchema.fieldIndex(hiCol)
    val keyIdx = oIdxs.head
    val theFn = fn
    val isIntegral = integral
    val theMode = mode
    val longKeys = rangeLongKeys

    KeyGroups.scan(df, partCols, orderCols, "dynamic window frame",
        spillAfterRows) { buf =>
      new Iterator[Row] {
        private val n = buf.length
        private var pos = 0
        // exact prefix sums over non-null values (sum/count/avg)
        private var pSumL: Array[Long] = _
        private var pSumD: Array[Double] = _
        private var pCnt: Array[Int] = _
        // GROUPS: per-row group id + per-group [start, end]
        private var grpOf: Array[Int] = _
        private var grpStart: Array[Int] = _
        private var grpEnd: Array[Int] = _
        private var nGroups = 0
        // RANGE: sort keys — long space when key+offsets are all
        // integral (exact past 2^53), double space otherwise
        private var keys: Array[Double] = _
        private var keysL: Array[Long] = _
        private var keyIsNull: Array[Boolean] = _
        private var nullBlockEnd = 0 // exclusive end of leading nulls

        if (theFn == "sum" || theFn == "count" || theFn == "avg") {
          pCnt = new Array[Int](n + 1)
          if (isIntegral) pSumL = new Array[Long](n + 1)
          else pSumD = new Array[Double](n + 1)
          var i = 0
          while (i < n) {
            val r = buf(i)
            if (r.isNullAt(vIdx)) {
              pCnt(i + 1) = pCnt(i)
              if (isIntegral) pSumL(i + 1) = pSumL(i)
              else pSumD(i + 1) = pSumD(i)
            } else {
              pCnt(i + 1) = pCnt(i) + 1
              if (isIntegral) pSumL(i + 1) = java.lang.Math.addExact(
                pSumL(i), r.get(vIdx).asInstanceOf[Number].longValue())
              else pSumD(i + 1) =
                pSumD(i) + r.get(vIdx).asInstanceOf[Number].doubleValue()
            }
            i += 1
          }
        }
        if (theMode == Mode.Groups) {
          grpOf = new Array[Int](n)
          val starts = new scala.collection.mutable.ArrayBuffer[Int]
          var i = 0
          var g = -1
          var prev: Seq[Any] = null
          while (i < n) {
            val cur = oIdxs.map(ix => buf(i).get(ix))
            if (prev == null || cur != prev) { g += 1; starts += i; prev = cur }
            grpOf(i) = g
            i += 1
          }
          nGroups = g + 1
          grpStart = starts.toArray
          grpEnd = new Array[Int](nGroups)
          var gg = 0
          while (gg < nGroups) {
            grpEnd(gg) = if (gg + 1 < nGroups) grpStart(gg + 1) - 1 else n - 1
            gg += 1
          }
        }
        if (theMode == Mode.Range) {
          if (longKeys) keysL = new Array[Long](n)
          else keys = new Array[Double](n)
          keyIsNull = new Array[Boolean](n)
          var i = 0
          while (i < n) {
            if (buf(i).isNullAt(keyIdx)) keyIsNull(i) = true
            else if (longKeys)
              keysL(i) = buf(i).get(keyIdx).asInstanceOf[Number].longValue()
            else keys(i) = buf(i).get(keyIdx).asInstanceOf[Number].doubleValue()
            i += 1
          }
          while (nullBlockEnd < n && keyIsNull(nullBlockEnd)) nullBlockEnd += 1
        }

        private def offsetAt(r: Row, idx: Int): Long = {
          if (r.isNullAt(idx)) throw new IllegalArgumentException(
            "Window frame offset value must not be negative or null")
          val o = r.get(idx) match {
            case x: Number => x.longValue()
            case other => throw new IllegalArgumentException(
              s"window frame offset must be numeric, got ${other.getClass.getSimpleName}")
          }
          if (o < 0) throw new IllegalArgumentException(
            "Window frame offset value must not be negative or null")
          o
        }

        private def offsetNumAt(r: Row, idx: Int): Double = {
          if (r.isNullAt(idx)) throw new IllegalArgumentException(
            "Window frame offset value must not be negative or null")
          val o = r.get(idx).asInstanceOf[Number].doubleValue()
          if (o < 0) throw new IllegalArgumentException(
            "Window frame offset value must not be negative or null")
          o
        }

        // first index in [from, n) with keys(i) >= bound
        private def lowerBound(bound: Double, from: Int): Int = {
          var lo = from; var hi = n
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            if (keys(mid) < bound) lo = mid + 1 else hi = mid
          }
          lo
        }
        // first index in [from, n) with keys(i) > bound
        private def upperBound(bound: Double, from: Int): Int = {
          var lo = from; var hi = n
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            if (keys(mid) <= bound) lo = mid + 1 else hi = mid
          }
          lo
        }
        // long-space variants (saturating bounds are computed by the
        // caller, so plain comparisons suffice)
        private def lowerBoundL(bound: Long, from: Int): Int = {
          var lo = from; var hi = n
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            if (keysL(mid) < bound) lo = mid + 1 else hi = mid
          }
          lo
        }
        private def upperBoundL(bound: Long, from: Int): Int = {
          var lo = from; var hi = n
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            if (keysL(mid) <= bound) lo = mid + 1 else hi = mid
          }
          lo
        }

        override def hasNext: Boolean = pos < n

        override def next(): Row = {
          if (!hasNext) throw new NoSuchElementException
          val r = buf(pos)
          // frame [s, e] on the row axis, per mode
          var s = 0
          var e = -1
          theMode match {
            case Mode.Rows =>
              val lo = offsetAt(r, loIdx)
              val hi = offsetAt(r, hiIdx)
              s = math.max(0L, pos - lo).toInt
              e = math.min(n - 1L, pos + hi).toInt
            case Mode.Groups =>
              val lo = offsetAt(r, loIdx)
              val hi = offsetAt(r, hiIdx)
              val g = grpOf(pos)
              val gs = math.max(0L, g - lo).toInt
              val ge = math.min(nGroups - 1L, g + hi).toInt
              s = grpStart(gs)
              e = grpEnd(ge)
            case Mode.Range =>
              // validate offsets on EVERY row (standard error
              // contract), null-key rows included
              if (longKeys) { offsetAt(r, loIdx); offsetAt(r, hiIdx) }
              else { offsetNumAt(r, loIdx); offsetNumAt(r, hiIdx) }
              if (keyIsNull(pos)) { s = 0; e = nullBlockEnd - 1 }
              else if (longKeys) {
                val lo = offsetAt(r, loIdx)
                val hi = offsetAt(r, hiIdx)
                val k = keysL(pos)
                // saturate instead of wrapping (lo, hi >= 0)
                val lb = { val b = k - lo; if (b > k) Long.MinValue else b }
                val ub = { val b = k + hi; if (b < k) Long.MaxValue else b }
                s = lowerBoundL(lb, nullBlockEnd)
                e = upperBoundL(ub, nullBlockEnd) - 1
              } else {
                val lo = offsetNumAt(r, loIdx)
                val hi = offsetNumAt(r, hiIdx)
                val k = keys(pos)
                s = lowerBound(k - lo, nullBlockEnd)
                e = upperBound(k + hi, nullBlockEnd) - 1
              }
          }
          val agg: Any = theFn match {
            case "count" => (pCnt(e + 1) - pCnt(s)).toLong
            case "sum" =>
              if (e < s || pCnt(e + 1) - pCnt(s) == 0) null
              else if (isIntegral) pSumL(e + 1) - pSumL(s)
              else pSumD(e + 1) - pSumD(s)
            case "avg" =>
              val c = if (e < s) 0 else pCnt(e + 1) - pCnt(s)
              if (c == 0) null
              else if (isIntegral) (pSumL(e + 1) - pSumL(s)).toDouble / c
              else (pSumD(e + 1) - pSumD(s)) / c
            case _ => // min / max: O(frame) scan, the reference's bound
              val isMin = theFn == "min"
              var bestL = 0L
              var bestD = 0.0
              var any = false
              var j = s
              while (j <= e) {
                val rr = buf(j)
                if (!rr.isNullAt(vIdx)) {
                  if (isIntegral) {
                    val x = rr.get(vIdx).asInstanceOf[Number].longValue()
                    if (!any || (if (isMin) x < bestL else x > bestL)) bestL = x
                  } else {
                    val x = rr.get(vIdx).asInstanceOf[Number].doubleValue()
                    if (!any || (if (isMin) x < bestD else x > bestD)) bestD = x
                  }
                  any = true
                }
                j += 1
              }
              if (!any) null
              else if (isIntegral) bestL
              else bestD
          }
          pos += 1
          Row.fromSeq(r.toSeq :+ agg)
        }
      }
    }
  }
}

package graft.engine

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{IntegralDivide, UnscaledValue}
import org.apache.spark.sql.graft.PlanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** Exact-arithmetic helpers for oracle-comparable aggregates.
  *
  * The test measures are doubles with at most 2 decimal places
  * (FIXTURES.md). Summing doubles is order-dependent at the ulp level, so
  * a Spark sum and a DuckDB sum over the same 60k rows can hash-differ.
  * The reference avoids this by using exact decimal types for money
  * (witdb `DecimalType`, reference `spi/type/Decimals.java:45`); we do the
  * same *locally inside each aggregate*: cast to decimal (lossless for
  * 2-dp data), aggregate exactly, and cast the final scalar back to
  * double. Both engines then produce bit-identical results regardless of
  * row order or parallelism — which also means the plan stays fully
  * parallel at 100 TB (no single-partition tricks needed for
  * determinism).
  */
object Num {

  /** Money / measure values: lossless for |v| < 10^10 with 2 dp. */
  val Money: DecimalType = DecimalType(12, 2)

  /** Small factors like (1 - discount), (1 + tax): |v| < 100, 2 dp.
    * Kept narrow so products of three factors stay within 38 digits in
    * BOTH Spark and DuckDB decimal-widening rules (they differ!).
    */
  val Factor: DecimalType = DecimalType(4, 2)

  def money(c: Column): Column = c.cast(Money)
  def factor(c: Column): Column = c.cast(Factor)

  // ------------------------------------------------- limb-based sums
  //
  // Spark backs Decimal with a plain long only up to precision 18; a
  // SUM over decimal(p<=18, s) gets a result type above 18 and drops to
  // java.math.BigDecimal accumulation — an allocation plus object
  // arithmetic PER ROW, easily 5-10x the cost of the scan it sits on
  // (the reference engine sums decimals in native int128 words,
  // `spi/type/Int128Math.java`). The JVM analog: split each value's
  // unscaled long into two "limbs", accumulate each limb as a plain
  // codegen'd long sum, and reassemble one decimal per GROUP at the
  // end. Exact for any input order and sign (JVM integer division
  // truncates toward zero consistently in both limbs).
  //
  // Capacity: per row |hi| <= unscaled/10^6 and |lo| < 10^6, so with
  // 64-bit accumulators a single group holds ~9*10^12 rows of money
  // values before either limb can wrap — beyond a 100 TB lineitem's
  // total row count, let alone one group's.

  /** One long limb is 10^6 unscaled units. */
  private val LimbUnit = 1000000L

  /** The unscaled long behind a <=18-precision decimal column (a
    * reinterpret, not a computation). */
  private def unscaled(c: Column): Column =
    PlanExec.column(UnscaledValue(PlanExec.expression(c)))

  /** Unscaled long view of a <=18-precision decimal column, public for
    * exact products computed in integer space (e.g. moment sums x^k
    * whose DECIMAL type would exceed precision 18 but whose unscaled
    * VALUE fits a long comfortably). Scale bookkeeping is the
    * caller's. */
  def unscaledLong(c: Column): Column = unscaled(c)

  /** Limb sums of a long column of unscaled units. */
  def sumLimbsLong(u: Column): (Column, Column) = {
    val hi = PlanExec.column(IntegralDivide(
      PlanExec.expression(u), PlanExec.expression(lit(LimbUnit))))
    (sum(hi), sum(u % LimbUnit))
  }

  /** Exact decimal sum of a long column of unscaled units.
    *
    * Capacity: a group overflows a limb accumulator after
    * ~9.2e18 / max(per-row-hi, 10^6) rows, where per-row-hi = |u|/10^6.
    * For money values (|u| <= ~1.1e9) that is ~9e12 rows — past a
    * 100 TB lineitem. For WIDE per-row values (squared/quartic moment
    * products up to ~1e14-1e15) per-row-hi reaches 1e8-6e8 and capacity
    * drops to ~1.5e10-8e10 rows — use [[decSumLong3]] there. */
  def decSumLong(u: Column, scale: Int): Column = {
    val (hi, lo) = sumLimbsLong(u)
    limbsToDecimal(hi, lo, scale)
  }

  /** Three-limb unit: 10^5 unscaled units per limb. */
  private val Limb3Unit = 100000L

  /** Exact decimal sum of a long column of WIDE unscaled units via
    * THREE limbs of 10^5 units each (hi = u/10^10, mid = (u/10^5)%10^5,
    * lo = u%10^5). For per-row values up to ~9e14 (quartic moment
    * products) every limb is bounded by ~10^5, so the capacity is
    * ~9.2e18/10^5 ≈ 9e13 rows per group — past a 100 TB lineitem's
    * total row count even in one group. Three primitive long sums
    * instead of two; identity holds for negatives because JVM division
    * truncates toward zero consistently in all three limbs. */
  def decSumLong3(u: Column, scale: Int): Column = {
    val ue = PlanExec.expression(u)
    val hi = PlanExec.column(IntegralDivide(
      ue, PlanExec.expression(lit(Limb3Unit * Limb3Unit))))
    val mid = PlanExec.column(IntegralDivide(
      ue, PlanExec.expression(lit(Limb3Unit)))) % Limb3Unit
    val lo = u % Limb3Unit
    ((sum(hi).cast(DecimalType(32, 0)) * lit(Limb3Unit) * lit(Limb3Unit) +
      sum(mid).cast(DecimalType(32, 0)) * lit(Limb3Unit) +
      sum(lo).cast(DecimalType(32, 0)))
      * lit(java.math.BigDecimal.valueOf(1L, scale)))
  }

  /** Two long aggregate columns: sum of high limbs, sum of low limbs.
    * Both stay primitive through partial/final hash aggregation. */
  def sumLimbs(c: Column): (Column, Column) = sumLimbsLong(unscaled(c))

  /** Reassemble limb sums into an exact decimal of the given scale. */
  def limbsToDecimal(hi: Column, lo: Column, scale: Int): Column =
    ((hi.cast(DecimalType(32, 0)) * lit(LimbUnit) + lo.cast(DecimalType(32, 0)))
      * lit(java.math.BigDecimal.valueOf(1L, scale)))

  /** Exact decimal sum of a <=18-precision decimal column, via limbs. */
  def decSum(c: Column, scale: Int): Column = {
    val (hi, lo) = sumLimbs(c)
    limbsToDecimal(hi, lo, scale)
  }

  /** Window-frame exact sum of a 2-dp double column via
    * [[unscaled2dp]]: the two limb sums run as two primitive long
    * aggregates inside the same WindowExec pass, with no per-row Decimal
    * in the window buffer. */
  def decSumOver2dp(c: Column,
                    w: org.apache.spark.sql.expressions.WindowSpec): Column = {
    val (hi, lo) = sumLimbsLong(unscaled2dp(c))
    limbsToDecimal(hi.over(w), lo.over(w), 2)
  }

  /** Unscaled scale-2 long view of a 2-dp DOUBLE column, without ever
    * materializing a Decimal: round(x*100) as a long.
    *
    * Exactness proof (not a heuristic): the fixture doubles are
    * nearest-double encodings of 2-dp values v (FIXTURES.md), so
    * d = v(1+e) with |e| <= 2^-53. Then d*100 differs from the exact
    * integer m = v*100 by at most m * 2^-51 — for |m| < 2^49 that is
    * < 0.25, so d*100 can never land on or cross a .5 rounding
    * boundary and HALF_UP rounding recovers m exactly. This is the
    * same m the decimal path produces: Cast(double -> DECIMAL(p,2))
    * is BigDecimal.setScale(2, HALF_UP) on the exact binary value,
    * which yields v for a nearest-double encoding. Identical output,
    * none of the per-row BigDecimal allocation of the double->decimal
    * cast — the dominant per-row cost of a single-task scan stage. */
  def unscaled2dp(c: Column): Column = round(c * 100).cast(LongType)

  /** Order-independent sum of a 2-dp double column, returned as double. */
  def xsum(c: Column): Column =
    decSumLong(unscaled2dp(c), 2).cast(DoubleType)

  /** Order-independent avg: exact decimal sum / count, both engines do
    * the same single IEEE division.
    */
  def xavg(c: Column): Column =
    decSumLong(unscaled2dp(c), 2).cast(DoubleType) / count(c)

  /** Revenue / charge per-row values in unscaled-long space:
    * price*(1-d) in scale-4 units, price*(1-d)*(1+t) in scale-6 units.
    * Integer products of exactly-recovered unscaled operands — same
    * values as the decimal products, zero object allocation. */
  def revenueU(price: Column, discount: Column): Column =
    unscaled2dp(price) * (lit(100L) - unscaled2dp(discount))
  def chargeU(price: Column, discount: Column, tax: Column): Column =
    revenueU(price, discount) * (lit(100L) + unscaled2dp(tax))

  /** l_extendedprice * (1 - l_discount) — exact decimal product,
    * precision 17 (long-backed, limb-summable). */
  def revenue(price: Column, discount: Column): Column =
    money(price) * factor(lit(1) - discount)

  /** revenue * (1 + tax), associated as price * ((1-d)*(1+t)) so the
    * result stays at precision 18 (long-backed Decimal) instead of the
    * naive ((p*(1-d))*(1+t)) shape's 22 — same exact value (both are
    * exact rational products of 2-dp inputs), 5x cheaper to aggregate
    * because the limb path stays available. */
  def charge(price: Column, discount: Column, tax: Column): Column =
    money(price) *
      (factor(lit(1) - discount) * factor(lit(1) + tax)).cast(DecimalType(5, 4))

  /** Integer-valued counts normalized to bigint on both engines
    * (DuckDB SUM(int) yields HUGEINT; Spark yields bigint).
    */
  def lsum(c: Column): Column = sum(c).cast(LongType)
}

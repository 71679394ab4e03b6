package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order statistics and the order-independent result fingerprint. */
object Stats {

  /** Samples a percentile must leave above it before it is reported. */
  val MinBeyond = 10

  /** Samples a run needs before its p90 leaves [[MinBeyond]] above it. */
  val SamplesForP90: Int = 100

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile `p` in (0, 1). Refuses (throws) unless at
    * least [[MinBeyond]] samples lie strictly above the reported rank,
    * so a p90 always rests on ten or more slower samples. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val n = xs.length
    val rank = math.max(1, math.ceil(p * n).toInt)
    require(n - rank >= MinBeyond,
      f"p${p * 100}%.0f needs $MinBeyond samples beyond it: have ${n - rank} of $n")
    xs.sorted.apply(rank - 1)
  }

  /** Canonical text of one value: floating and decimal values are rounded
    * to 9 significant digits (last-ulp differences between aggregation
    * orders must not change the fingerprint), maps are sorted by key,
    * nested rows and arrays recurse. */
  def canon(v: Any): String = v match {
    case null => "NULL"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: java.math.BigDecimal => num(b.doubleValue)
    case b: scala.math.BigDecimal => num(b.toDouble)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case other => other.toString
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(9))
      .stripTrailingZeros.toPlainString

  /** 64-bit FNV-1a of a string. */
  private def fnv(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h = (h ^ s.charAt(i)) * 0x100000001b3L; i += 1 }
    h
  }

  /** Order-independent fingerprint of a result: columns are taken in name
    * order, each row is rendered canonically and hashed, and the row
    * hashes are summed modulo 2^64, so any permutation of the same rows
    * gives the same value. */
  def rowHash(schema: StructType, rows: Iterable[Row]): Long = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1.toLowerCase).map(_._2)
    rows.iterator.map { r =>
      fnv(order.iterator.map(i => canon(r.get(i))).mkString("\u0001"))
    }.sum
  }
}

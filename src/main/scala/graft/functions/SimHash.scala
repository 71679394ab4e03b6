package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, NullType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** 64-bit SimHash document fingerprinting.
  *
  * Whitespace tokens are hashed with FNV-1a/64; each token votes its
  * hash bits into 64 counters; the sign of each counter becomes one
  * output bit (Charikar's SimHash — public algorithm). Near-duplicate
  * documents land at small Hamming distance, so at 100 TB candidate
  * pairs come from banding the 64-bit fingerprint into 16-bit chunks
  * (exact-match join per chunk — same no-all-pairs discipline as
  * MinHash-LSH), then verifying popcount(xor) on candidates only.
  */
object SimHashUtil {

  private final val FnvOffset = 0xcbf29ce484222325L
  private final val FnvPrime = 0x100000001b3L

  /** FNV-1a over the UTF-8 bytes of one token. */
  def fnv1a(bytes: Array[Byte]): Long = {
    var h = FnvOffset
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= FnvPrime
      i += 1
    }
    h
  }

  /** SimHash of a whitespace-tokenized string (static — callable from
    * generated code). */
  def compute(s: UTF8String): Long = {
    val text = s.toString
    val counters = new Array[Int](64)
    var start = 0
    val len = text.length
    while (start < len) {
      while (start < len && text.charAt(start) == ' ') start += 1
      var end = start
      while (end < len && text.charAt(end) != ' ') end += 1
      if (end > start) {
        val h = fnv1a(text.substring(start, end).getBytes("UTF-8"))
        var bit = 0
        while (bit < 64) {
          if (((h >>> bit) & 1L) == 1L) counters(bit) += 1 else counters(bit) -= 1
          bit += 1
        }
      }
      start = end
    }
    var out = 0L
    var bit = 0
    while (bit < 64) {
      if (counters(bit) > 0) out |= (1L << bit)
      bit += 1
    }
    out
  }
}

/** `simhash64(string) -> bigint` native expression (codegen); an
  * untyped NULL argument yields NULL. */
case class SimHash64(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType] || child.dataType == NullType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"simhash64 takes STRING, got ${child.dataType.simpleString}")

  override protected def nullSafeEval(input: Any): Any =
    SimHashUtil.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (child.dataType == NullType) Literal(null, dataType).genCode(ctx)
    else defineCodeGen(ctx, ev, c => s"graft.functions.SimHashUtil.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)

  override def prettyName: String = "simhash64"
}

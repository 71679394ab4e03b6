package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, NullType}

/** Static vector kernels called from both interpreted eval and
  * generated code (whole-stage codegen emits a plain static call, so
  * the expression stays inside the generated loop — the same trick the
  * reference uses for its compiled scalar functions,
  * `sql/gen/ExpressionCompiler.java:57`).
  *
  * Arithmetic contract: float elements are widened to double and
  * reduced with one sequential left fold — the documented deterministic
  * order every other cosine in this engine (and the DuckDB oracle
  * formulation) uses, so results are bit-identical across engines and
  * across partitionings.
  */
object VectorOps {

  /** Whether a dense vector expression accepts an argument of type
    * `t`: array<float>, array<double>, or an untyped NULL (which the
    * null-intolerant expressions fold to NULL before any kernel runs). */
  def isVector(t: DataType): Boolean = t match {
    case ArrayType(FloatType | DoubleType, _) | NullType => true
    case _ => false
  }

  /** Whether a dense vector argument has float elements. */
  def isFloat(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  /** Sequential-fold dot product; each side is float or double typed
    * (the flags are codegen-time constants, so JIT folds the branch).
    */
  def dot(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      s += x * y
      i += 1
    }
    s
  }

  /** Sparse cosine over the reference's map form
    * (`MathFunctions.java` cosineSimilarity(map, map)): keys are the
    * dimensions, values the weights; a NULL weight in either map
    * yields NULL (boxed return). Disjoint key sets → 0.0. */
  def cosineSparse(a: org.apache.spark.sql.catalyst.util.MapData,
      b: org.apache.spark.sql.catalyst.util.MapData): java.lang.Double = {
    val ak = a.keyArray(); val av = a.valueArray()
    val bk = b.keyArray(); val bv = b.valueArray()
    var i = 0
    var na = 0.0
    val seen = new java.util.HashMap[AnyRef, java.lang.Double](a.numElements() * 2)
    while (i < a.numElements()) {
      if (av.isNullAt(i)) return null
      val v = av.getDouble(i)
      na += v * v
      seen.put(ak.get(i, org.apache.spark.sql.types.StringType), v)
      i += 1
    }
    var nb = 0.0
    var dot = 0.0
    i = 0
    while (i < b.numElements()) {
      if (bv.isNullAt(i)) return null
      val v = bv.getDouble(i)
      nb += v * v
      val x = seen.get(bk.get(i, org.apache.spark.sql.types.StringType))
      if (x != null) dot += x.doubleValue() * v
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Sequential-fold cosine similarity; each side is float or double
    * typed, as in [[dot]]. */
  def cosine(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
}

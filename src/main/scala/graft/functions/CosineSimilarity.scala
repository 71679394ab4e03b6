package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types.{DataType, DoubleType, MapType, NullType, StringType}

/** `cosine_similarity(array<float|double>, array<float|double>) ->
  * double` as a native Catalyst expression with codegen — the hot-path
  * scalar of the similarity-search operators. Each side is float or
  * double typed, as in [[DotProduct]]. Also accepts the reference's
  * sparse form `cosine_similarity(map(varchar,double), map(varchar,double))`
  * (dimension-keyed weights; a NULL weight yields NULL, disjoint key
  * sets yield 0) — interpreted-speed compat surface, not the ANN hot
  * path. An untyped NULL argument yields NULL; any other argument type
  * fails at analysis.
  *
  * Capability match: reference `core/trino-main/.../operator/scalar/
  * MathFunctions.java` (cosine_similarity). A native expression (vs a
  * Scala UDF) stays inside whole-stage codegen: no Row boxing, no
  * serialization of the array per call — at 100 TB of embeddings this
  * is the difference between a memory-bandwidth-bound scan and a
  * GC-bound one.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  // the sparse map form can yield NULL from non-null inputs (a NULL
  // weight inside either map)
  override def nullable: Boolean = true

  private def sparse: Boolean = children.exists(_.dataType.isInstanceOf[MapType])
  private def leftFloat: Boolean = VectorOps.isFloat(left.dataType)
  private def rightFloat: Boolean = VectorOps.isFloat(right.dataType)

  override def checkInputDataTypes(): TypeCheckResult = {
    def isSparse(t: DataType) = t match {
      case MapType(_: StringType, DoubleType, _) | NullType => true
      case _ => false
    }
    val dense = Seq(left, right).forall(e => VectorOps.isVector(e.dataType))
    if (dense || (isSparse(left.dataType) && isSparse(right.dataType)))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "cosine_similarity takes (array<float|double>, array<float|double>) or " +
        s"(map<string,double>, map<string,double>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    if (sparse)
      VectorOps.cosineSparse(a.asInstanceOf[MapData], b.asInstanceOf[MapData])
    else
      VectorOps.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
        leftFloat, rightFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    // an untyped NULL argument is an Object in generated code, which no
    // kernel takes; the result is NULL anyway
    if (children.exists(_.dataType == NullType)) Literal(null, dataType).genCode(ctx)
    else if (sparse)
      nullSafeCodeGen(ctx, ev, (a, b) => {
        s"""java.lang.Double ${ev.value}_r = graft.functions.VectorOps.cosineSparse($a, $b);
           |if (${ev.value}_r == null) { ${ev.isNull} = true; }
           |else { ${ev.value} = ${ev.value}_r.doubleValue(); }
           |""".stripMargin
      })
    else
      defineCodeGen(ctx, ev, (a, b) =>
        s"graft.functions.VectorOps.cosine($a, $b, $leftFloat, $rightFloat)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "cosine_similarity"
}

package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType, NullType}

/** `dot_product(array<float|double>, array<float|double>) -> double` as
  * a native Catalyst expression with codegen — sibling of
  * [[CosineSimilarity]] for the LSH/IVF banding paths, where one side
  * is the float embedding and the other a double hyperplane/centroid
  * coefficient vector.
  *
  * Capability match: reference `core/trino-main/.../operator/scalar/
  * MathFunctions.java` (the compiled cosine_similarity scalar — same
  * lesson: a compiled kernel, not an interpreted lambda chain).
  * Arithmetic contract: elements are widened to double and reduced with
  * one sequential left fold — identical order to the interpreted
  * `aggregate(zip_with(...))` formulation it replaces and to the DuckDB
  * oracle's `list_sum(list_transform(...))`, so hashes are unchanged.
  * An untyped NULL argument yields NULL; any other argument type fails
  * at analysis.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  private def isFloat(e: Expression): Boolean = VectorOps.isFloat(e.dataType)

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(e => VectorOps.isVector(e.dataType)))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "dot_product takes (array<float|double>, array<float|double>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorOps.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      isFloat(left), isFloat(right))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (children.exists(_.dataType == NullType)) Literal(null, dataType).genCode(ctx)
    else defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.VectorOps.dot($a, $b, ${isFloat(left)}, ${isFloat(right)})")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "dot_product"
}

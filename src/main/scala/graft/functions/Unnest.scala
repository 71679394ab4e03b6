package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Add, ArrayTransform, ArraysZip, Cast, Coalesce, CreateNamedStruct, Explode, Expression, Generator, GetStructField, Inline, LambdaFunction, Literal, MapEntries, NamedLambdaVariable}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, BooleanType, IntegerType, LongType, MapType, StructField, StructType}

/** `graft_unnest(ordinality, e1[, e2, …])`: the generator behind the
  * reference's UNNEST relation (grammar `SqlBase.g4` relationPrimary
  * UNNEST, `operator/unnest/UnnestOperator.java`), which
  * `Dialect.translate` places in a `LATERAL VIEW` or a FROM subquery.
  * The output columns depend on the argument TYPES, which are resolved
  * when the builder runs:
  *   - an ARRAY yields one column, an ARRAY(ROW(…)) one column per
  *     field, a MAP two (key, value);
  *   - several arguments zip by position; the shorter ones pad with
  *     NULLs, and a NULL collection counts as empty (reference
  *     `TestUnnestOperator.testUnnest`: (2, [99], null) still emits
  *     (2, 99, null, null));
  *   - WITH ORDINALITY (`ordinality` = TRUE) appends the 1-based
  *     BIGINT position.
  * One argument without ordinality is Spark's own `explode` (ARRAY,
  * MAP) or `inline` (ARRAY(ROW)), and a zip of plain arrays without
  * ordinality `inline(arrays_zip(…))`; every other form is `inline`
  * over one array of flat structs, `transform(…, (x, i) -> struct(…))`.
  * Each form plans as a single `Generate`. */
object Unnest {

  def build(c: Seq[Expression]): Generator = {
    val ordinality = c.headOption match {
      case Some(Literal(b: Boolean, BooleanType)) => b
      case _ => fail("the first argument is the ordinality flag")
    }
    val args = c.tail
    if (args.isEmpty) fail("UNNEST requires at least one argument")
    args.map(_.dataType).foreach {
      case _: ArrayType | _: MapType =>
      case other => fail(s"UNNEST argument must be ARRAY or MAP, got ${other.sql}")
    }
    (args, ordinality) match {
      case (Seq(a), false) => a.dataType match {
        case ArrayType(_: StructType, _) => Inline(a)
        case _ => Explode(a)
      }
      case _ => Inline(rows(args, ordinality))
    }
  }

  /** One argument as an array: its element's fields for ARRAY(ROW)
    * and MAP (its entries), one field otherwise. */
  private case class Slot(array: Expression, fields: Seq[StructField], row: Boolean)

  private def slot(a: Expression, name: String): Slot = a.dataType match {
    case _: MapType =>
      val entries = MapEntries(a)
      val entry = entries.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
      Slot(entries, entry.fields.toSeq, row = true)
    case ArrayType(st: StructType, _) => Slot(a, st.fields.toSeq, row = true)
    case ArrayType(e, n) => Slot(a, Seq(StructField(name, e, n)), row = false)
  }

  private def rows(args: Seq[Expression], ordinality: Boolean): Expression = {
    val slots =
      if (args.size == 1) Seq(slot(args.head, "col"))
      else args.zipWithIndex.map { case (a, k) => slot(a, s"col${k + 1}") }
    // several arguments zip first, each NULL collection coalesced to an
    // empty array of its type; a zip of plain arrays is already flat
    val source = if (slots.size == 1) slots.head.array else {
      val zip = ArraysZip(
        slots.map(s => Coalesce(Seq(s.array,
          Literal.create(new GenericArrayData(Array.empty[Any]), s.array.dataType)))),
        slots.zipWithIndex.map { case (s, k) => Literal(if (s.row) s"_$k" else s.fields.head.name) })
      if (!ordinality && !slots.exists(_.row)) return zip
      zip
    }
    val elem = source.dataType.asInstanceOf[ArrayType]
    val x = NamedLambdaVariable("x", elem.elementType, elem.containsNull)
    val i = NamedLambdaVariable("i", IntegerType, nullable = false)
    val cols = slots.zipWithIndex.flatMap { case (s, k) =>
      val v = if (slots.size == 1) x else GetStructField(x, k)
      if (!s.row) Seq(s.fields.head.name -> v)
      else s.fields.zipWithIndex.map { case (f, j) => f.name -> GetStructField(v, j, Some(f.name)) }
    }
    val ord = if (ordinality) Seq("ordinality" -> Add(Cast(i, LongType), Literal(1L))) else Nil
    val body = CreateNamedStruct((cols ++ ord).flatMap { case (n, e) => Seq(Literal(n), e) })
    ArrayTransform(source, LambdaFunction(body, Seq(x, i)))
  }

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"UNNEST: $msg")
}

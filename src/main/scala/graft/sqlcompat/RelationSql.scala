package graft.sqlcompat

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{arrays_zip, col, explode, explode_outer, expr, map_entries, posexplode, posexplode_outer}

/** SQL-text surface for the reference dialect's relation-level
  * constructs that are NOT expressible as the function renames of
  * [[Dialect]] (reference grammar `SqlBase.g4:331-333` sampledRelation
  * and the UNNEST relation primary):
  *
  *   - `FROM t CROSS JOIN UNNEST(e1[, e2, …]) [WITH ORDINALITY]
  *     AS a(c1[, c2, …][, o])` — one array lowers onto
  *     `Ops.unnestWithOrdinality` (a narrow posexplode generator,
  *     1-based bigint ordinality, no shuffle) or a plain `explode`;
  *     MULTIPLE arrays zip positionally with shorter arrays padded by
  *     nulls (the reference's multi-argument UNNEST,
  *     `UnnestOperator.java` — Spark's `arrays_zip` has exactly these
  *     pad semantics, so the lowering is zip → posexplode → one
  *     projection); a MAP argument unnests to its (key, value) pairs;
  *     `LEFT JOIN UNNEST(…) … ON TRUE` is the OUTER form — rows with
  *     empty/null collections survive with null outputs
  *     (`explode_outer`/`posexplode_outer`);
  *   - `FROM t TABLESAMPLE BERNOULLI(p)` / `SYSTEM(p)` — lowered onto
  *     `DataFrame.sample(p/100)` (row-level Bernoulli; SYSTEM's
  *     block-level sampling has no Spark analog, so both forms sample
  *     per-row — same row-count distribution, different locality);
  *   - `ORDER BY … [OFFSET k ROWS] FETCH FIRST n ROWS (ONLY | WITH
  *     TIES)` (grammar `SqlBase.g4` queryNoWith: offset/limit/fetch
  *     first) — ONLY lowers onto `orderBy.offset(k).limit(n)`; WITH
  *     TIES onto `Ops.limitWithTies` (rank-filter form, planned as
  *     WindowGroupLimit). Null ordering defaults follow the reference
  *     (nulls last when ascending, first when descending), which
  *     differs from Spark's own default — made explicit per sort key.
  *
  * Supported subset (anything else fails loudly, never silently
  * mistranslates): a single FROM table, at most one UNNEST or
  * TABLESAMPLE clause, optional WHERE, optional ORDER BY +
  * OFFSET/FETCH, and a select list of plain expressions. Select-list,
  * WHERE, and sort-key fragments pass through [[Dialect.translate]] so
  * reference function spellings keep working inside them.
  */
object RelationSql {

  /** Parse + lower `sql` (reference dialect). `resolve` maps the FROM
    * table name to its DataFrame. */
  def translate(sql: String, resolve: String => DataFrame): DataFrame = {
    val head = "(?is)^\\s*SELECT\\s+(.*?)\\s+FROM\\s+([A-Za-z_][A-Za-z0-9_]*)\\s+".r
    val m = head.findFirstMatchIn(sql).getOrElse(fail(
      "expected SELECT <exprs> FROM <table> <UNNEST or TABLESAMPLE clause>"))
    val selectList = SqlLex.splitTopLevel(m.group(1), ',')
      .map(_.trim).filter(_.nonEmpty)
    val table = m.group(2)
    var rest = sql.substring(m.end)

    val unnestRe = "(?is)^\\s*(CROSS|LEFT)\\s+JOIN\\s+UNNEST\\s*\\(".r
    val sampleRe =
      "(?is)^\\s*TABLESAMPLE\\s+(BERNOULLI|SYSTEM)\\s*\\(\\s*(\\d+(?:\\.\\d+)?)\\s*\\)".r

    val base = resolve(table)
    val rel: DataFrame = unnestRe.findFirstMatchIn(rest) match {
      case Some(um) =>
        // LEFT JOIN UNNEST(…) ON TRUE is the reference's OUTER unnest
        // (`UnnestOperator.java` outer flag): a row with an empty or
        // null collection survives with null output columns —
        // `explode_outer`/`posexplode_outer` are the exact Spark
        // analogs.
        val outer = um.group(1).equalsIgnoreCase("LEFT")
        val open = um.end - 1
        val close = SqlLex.closeParen(rest, open)
        // Translate FIRST (ARRAY[…] sugar becomes array(…)), then
        // split: the splitter tracks parens, not brackets, so a
        // bracketed array literal's commas must already be inside
        // parens when the argument list is divided.
        val argExprs = SqlLex
          .splitTopLevel(Dialect.translate(rest.substring(open + 1, close)), ',')
          .map(_.trim).filter(_.nonEmpty)
          .map(expr)
        if (argExprs.isEmpty) fail("UNNEST requires at least one argument")
        rest = rest.substring(close + 1)
        val tail = ("(?is)^\\s*(WITH\\s+ORDINALITY\\s+)?" +
          "AS\\s+([A-Za-z_][A-Za-z0-9_]*)\\s*\\(\\s*([A-Za-z_][A-Za-z0-9_, ]*?)\\s*\\)").r
        val tm = tail.findFirstMatchIn(rest).getOrElse(fail(
          "UNNEST requires AS alias(col[, …][, ord]) (with the ord " +
            "column only under WITH ORDINALITY)"))
        rest = rest.substring(tm.end)
        if (outer) {
          val onTrue = "(?is)^\\s*ON\\s+TRUE".r
          val om = onTrue.findFirstMatchIn(rest).getOrElse(fail(
            "LEFT JOIN UNNEST requires ON TRUE (the reference's outer-unnest form)"))
          rest = rest.substring(om.end)
        }
        val ordinality = tm.group(1) != null
        val outNames = tm.group(3).split(',').map(_.trim).filter(_.nonEmpty).toSeq
        // The reference expands a MAP argument to two columns (key,
        // value); each ARRAY argument yields one. Resolve argument
        // types against the base relation (no job — analysis only).
        val argTypes = base.select(argExprs: _*).schema.map(_.dataType)
        // The reference flattens an ARRAY(ROW(…)) argument into one
        // output column PER FIELD (UnnestOperator's replicate/unnest
        // channel split); plain arrays and maps yield 1 and 2.
        val colsPerArg = argTypes.map {
          case _: org.apache.spark.sql.types.MapType => 2
          case org.apache.spark.sql.types.ArrayType(
              st: org.apache.spark.sql.types.StructType, _) => st.fields.length
          case _: org.apache.spark.sql.types.ArrayType => 1
          case other => fail(s"UNNEST argument must be ARRAY or MAP, got $other")
        }
        val dataCols = colsPerArg.sum
        val expected = dataCols + (if (ordinality) 1 else 0)
        if (outNames.size != expected) fail(
          s"UNNEST output columns: expected $expected (${dataCols} data" +
            (if (ordinality) " + ordinality" else "") + s"), got ${outNames.size}")
        def posEx(c: org.apache.spark.sql.Column) =
          if (outer) posexplode_outer(c) else posexplode(c)
        (argExprs, argTypes) match {
          case (Seq(arr), Seq(org.apache.spark.sql.types.ArrayType(
              st: org.apache.spark.sql.types.StructType, _))) =>
            // array-of-rows → one column per row field (Spark `inline`
            // semantics, built on posexplode so ordinality composes).
            val ex = base.select(base.columns.map(col) :+
              posEx(arr).as(Seq("__pos", "__r")): _*)
            var out = ex
            st.fields.zipWithIndex.foreach { case (f, i) =>
              out = out.withColumn(outNames(i), col("__r").getField(f.name))
            }
            if (ordinality)
              out = out.withColumn(outNames(st.fields.length),
                (col("__pos") + 1).cast("long"))
            out.drop("__pos", "__r")
          case (Seq(arr), Seq(_: org.apache.spark.sql.types.ArrayType)) =>
            if (ordinality) {
              // posexplode_outer yields a NULL position for the padded
              // row, so the 1-based cast stays null — the reference's
              // outer-unnest ordinality contract.
              base.select(base.columns.map(col) :+
                  posEx(arr).as(Seq("__pos", outNames(0))): _*)
                .withColumn(outNames(1), (col("__pos") + 1).cast("long"))
                .drop("__pos")
            } else if (outer)
              base.select(base.columns.map(col) :+
                explode_outer(arr).as(outNames(0)): _*)
            else base.withColumn(outNames(0), explode(arr))
          case (Seq(mp), Seq(_: org.apache.spark.sql.types.MapType)) =>
            // map → (key, value) pairs; ordinality follows map order.
            val exploded = base.select(base.columns.map(col) :+
              posEx(mp).as(Seq("__pos", outNames(0), outNames(1))): _*)
            if (ordinality)
              exploded.withColumn(outNames(2), (col("__pos") + 1).cast("long"))
                .drop("__pos")
            else exploded.drop("__pos")
          case _ =>
            // Multi-argument zip. Map args expand to entry structs
            // first so every zipped element is one struct slot. A NULL
            // collection behaves as EMPTY (reference
            // TestUnnestOperator.testUnnest: row (2, [99], null) still
            // emits (2, 99, null, null)) — arrays_zip would instead
            // return NULL if any input is NULL and drop the row, so
            // each slot coalesces to an empty array of its own type.
            import org.apache.spark.sql.functions.{coalesce, array}
            val slotCols: Seq[org.apache.spark.sql.Column] =
              argExprs.zip(argTypes).zipWithIndex.map {
                case ((e, mt: org.apache.spark.sql.types.MapType), i) =>
                  val entryT = org.apache.spark.sql.types.ArrayType(
                    org.apache.spark.sql.types.StructType(Seq(
                      org.apache.spark.sql.types.StructField("key", mt.keyType, nullable = false),
                      org.apache.spark.sql.types.StructField("value", mt.valueType))))
                  coalesce(map_entries(e), array().cast(entryT)).as(s"s$i")
                case ((e, t), i) =>
                  coalesce(e, array().cast(t)).as(s"s$i")
              }
            val zipped = arrays_zip(slotCols: _*)
            val ex = base.select(base.columns.map(col) :+
              posEx(zipped).as(Seq("__pos", "__z")): _*)
            // Project struct slots out to the declared names: a map
            // slot contributes .key/.value of its entry struct; an
            // array-of-rows slot one column per row field; a plain
            // array slot its element.
            var out = ex
            var nameIdx = 0
            argTypes.zipWithIndex.foreach { case (t, i) =>
              val slot = col("__z").getField(s"s$i")
              t match {
                case _: org.apache.spark.sql.types.MapType =>
                  out = out
                    .withColumn(outNames(nameIdx), slot.getField("key"))
                    .withColumn(outNames(nameIdx + 1), slot.getField("value"))
                  nameIdx += 2
                case org.apache.spark.sql.types.ArrayType(
                    st: org.apache.spark.sql.types.StructType, _) =>
                  st.fields.foreach { f =>
                    out = out.withColumn(outNames(nameIdx), slot.getField(f.name))
                    nameIdx += 1
                  }
                case _ =>
                  out = out.withColumn(outNames(nameIdx), slot)
                  nameIdx += 1
              }
            }
            if (ordinality)
              out = out.withColumn(outNames(nameIdx), (col("__pos") + 1).cast("long"))
            out.drop("__pos", "__z")
        }
      case None =>
        sampleRe.findFirstMatchIn(rest) match {
          case Some(sm) =>
            rest = rest.substring(sm.end)
            val pct = sm.group(2).toDouble
            if (pct < 0 || pct > 100) fail(s"sample percentage out of range: $pct")
            // Fixed seed: reruns of one translated query are stable
            // (the gate treats sampling as rows-only regardless).
            base.sample(withReplacement = false, pct / 100.0, seed = 42)
          case None => base // plain FROM table — trailing clauses may follow
        }
    }

    // WHERE, then ORDER BY + OFFSET/FETCH (clause order fixed, as in
    // the grammar). The WHERE predicate must not swallow the ORDER BY,
    // so split the trailing clauses first.
    rest = rest.trim
    val orderIdx = SqlLex.topLevelIndexOf(rest, "(?i)ORDER\\b".r)
    val (beforeOrder, orderAndAfter) =
      if (orderIdx < 0) (rest, "") else rest.splitAt(orderIdx)

    val whereRe = "(?is)^\\s*WHERE\\s+(.*)$".r
    val filtered = beforeOrder.trim match {
      case "" => rel
      case whereRe(pred) => rel.filter(expr(Dialect.translate(pred)))
      case other => fail(s"unsupported trailing clause: '${other.take(60)}'")
    }

    val projected = filtered.select(selectList.map(e => expr(Dialect.translate(e))): _*)
    if (orderAndAfter.isEmpty) return projected

    val obRe = "(?is)^ORDER\\s+BY\\s+".r
    val obm = obRe.findFirstMatchIn(orderAndAfter).getOrElse(fail(
      s"unsupported trailing clause: '${orderAndAfter.take(60)}'"))
    var tail = orderAndAfter.substring(obm.end)
    // Sort keys run until OFFSET/FETCH (top-level scan).
    val offIdx = SqlLex.topLevelIndexOf(tail, "(?i)OFFSET\\b".r)
    val fetIdx = SqlLex.topLevelIndexOf(tail, "(?i)FETCH\\b".r)
    val cut = Seq(offIdx, fetIdx).filter(_ >= 0).sorted.headOption.getOrElse(tail.length)
    val keys = SqlLex.splitTopLevel(tail.substring(0, cut), ',')
      .map(_.trim).filter(_.nonEmpty).map(sortKey)
    if (keys.isEmpty) fail("ORDER BY requires at least one sort key")
    tail = tail.substring(cut).trim

    val offRe = "(?is)^OFFSET\\s+(\\d+)\\s+ROWS?\\s*".r
    val offset = offRe.findFirstMatchIn(tail) match {
      case Some(om) => tail = tail.substring(om.end).trim; om.group(1).toInt
      case None => 0
    }
    val fetchRe =
      "(?is)^FETCH\\s+(?:FIRST|NEXT)\\s+(\\d+)\\s+ROWS?\\s+(ONLY|WITH\\s+TIES)\\s*$".r
    tail match {
      case "" =>
        if (offset > 0) projected.orderBy(keys: _*).offset(offset)
        else projected.orderBy(keys: _*)
      case _ =>
        val fm = fetchRe.findFirstMatchIn(tail).getOrElse(fail(
          s"expected FETCH FIRST n ROWS (ONLY | WITH TIES) at: '${tail.take(60)}'"))
        val n = fm.group(1).toInt
        val ties = fm.group(2).toUpperCase.startsWith("WITH")
        if (ties) {
          if (offset > 0) fail("OFFSET with FETCH ... WITH TIES is not supported")
          graft.operators.Ops.limitWithTies(projected, n, keys)
        } else projected.orderBy(keys: _*).offset(offset).limit(n)
    }
  }

  /** One ORDER BY item → a Column with explicit direction AND null
    * ordering. Reference defaults (nulls larger than any value): ASC →
    * NULLS LAST, DESC → NULLS FIRST — the opposite of Spark's default,
    * so both are always spelled out. */
  private def sortKey(item: String): org.apache.spark.sql.Column = {
    val re = "(?is)^(.*?)(?:\\s+(ASC|DESC))?(?:\\s+NULLS\\s+(FIRST|LAST))?\\s*$".r
    val m = re.findFirstMatchIn(item).get
    val c = expr(Dialect.translate(m.group(1).trim))
    val desc = Option(m.group(2)).exists(_.equalsIgnoreCase("DESC"))
    val nullsFirst = Option(m.group(3)) match {
      case Some(nf) => nf.equalsIgnoreCase("FIRST")
      case None => desc // reference default: nulls sort as largest
    }
    (desc, nullsFirst) match {
      case (false, false) => c.asc_nulls_last
      case (false, true)  => c.asc_nulls_first
      case (true, false)  => c.desc_nulls_last
      case (true, true)   => c.desc_nulls_first
    }
  }

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"relation SQL: $msg")
}

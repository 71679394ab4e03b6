package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Graft

/** Row-level mutation — DELETE / UPDATE / MERGE INTO — as
  * copy-on-write table rewrites (reference grammar `SqlBase.g4:68,
  * 176-182` delete/update/merge statements; executor
  * `core/trino-main/src/main/java/io/trino/operator/MergeWriterOperator
  * .java` + `DeleteAndInsertMergeProcessor.java`, which turn each
  * mutation into delete+insert row operations against the connector).
  *
  * Spark has no built-in row mutation over raw parquet, so the
  * semantics are re-expressed the way lake table formats execute them:
  * read the current table state, compute the post-mutation rows as ONE
  * declarative plan (Catalyst optimizes the predicate/assignment
  * projection like any query), write the new state to a staging
  * directory, and commit by directory swap. The swap is the same
  * publish-then-rename commit protocol the parquet writer sink (p10)
  * relies on: readers see either the old or the new table, never a
  * half-written mix.
  *
  * 100 TB design notes:
  *  - The rewrite plan is embarrassingly parallel (narrow filter /
  *    projection for DELETE and UPDATE; one shuffle join on the merge
  *    key for MERGE, AQE-broadcast when the source is small).
  *  - A whole-table rewrite is the worst case. [[deletePartitionScoped]]
  *    shows the partition-scoped path: only partitions that actually
  *    contain matching rows are rewritten (the analogue of a table
  *    format rewriting only affected files), so a DELETE touching one
  *    day of a date-partitioned table rewrites one partition.
  *  - MERGE enforces the SQL:2003 cardinality rule — more than one
  *    source row matching a target row raises at execution time, in the
  *    distributed plan, not via a driver-side count.
  */
object Mutations {

  /** Commit `df` as the new content of `path`: stage to a sibling
    * directory, then swap via delete+rename (both metadata operations
    * on a real filesystem; on an object store a table-format snapshot
    * commit replaces this step). Returns the re-read table: the write
    * is the commit's only Spark job, because the re-read takes its
    * schema from one footer of the new files on the driver
    * ([[Graft.readParquet]]), as does every target read below. */
  def overwriteInPlace(s: SparkSession, df: DataFrame, path: String): DataFrame = {
    val staged = path + "__staging"
    df.write.mode("overwrite").parquet(staged)
    val fs = new Path(path).getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new Path(path), true)
    if (!fs.rename(new Path(staged), new Path(path)))
      throw new IllegalStateException(s"mutation commit failed: rename $staged -> $path")
    Graft.readParquet(s, path)
  }

  /** DELETE FROM <path> WHERE `pred`. Rows where `pred` is NULL are
    * KEPT (SQL deletes only rows where the predicate IS TRUE). */
  def delete(s: SparkSession, path: String, pred: Column): DataFrame = {
    val t = Graft.readParquet(s, path)
    overwriteInPlace(s, t.filter(!coalesce(pred, lit(false))), path)
  }

  /** Resolve assignment keys case-insensitively against the target's
    * columns, failing loudly on any key that matches no column (SQL
    * identifiers are case-insensitive; a silent no-op on `SET BAL =
    * ...` would contradict the fail-loud posture) and on two keys
    * collapsing onto the same column. */
  private def resolveAssignments(cols: Seq[String],
      assignments: Map[String, Column]): Map[String, Column] = {
    val byLower = cols.map(c => c.toLowerCase -> c).toMap
    val resolved = assignments.toSeq.map { case (k, v) =>
      byLower.getOrElse(k.toLowerCase, throw new IllegalArgumentException(
        s"assignment references unknown column '$k' (columns: ${cols.mkString(", ")})")) -> v
    }
    val dups = resolved.groupBy(_._1).collect { case (c, vs) if vs.size > 1 => c }
    require(dups.isEmpty, s"multiple assignments resolve to column(s): ${dups.mkString(", ")}")
    resolved.toMap
  }

  /** UPDATE <path> SET `assignments` WHERE `pred`. Assignments are
    * evaluated against the PRE-update row (SQL semantics: `SET a = b,
    * b = a` swaps), rows where `pred` is not TRUE pass through.
    * Assignment keys resolve case-insensitively and every key must
    * name a real column. */
  def update(s: SparkSession, path: String,
      assignments: Map[String, Column], pred: Column): DataFrame = {
    val t = Graft.readParquet(s, path)
    val assigns = resolveAssignments(t.columns.toSeq, assignments)
    val hit = coalesce(pred, lit(false))
    val projected = t.select(t.columns.map { c =>
      assigns.get(c) match {
        case Some(v) => when(hit, v).otherwise(col(c)).as(c)
        case None    => col(c)
      }
    }: _*)
    overwriteInPlace(s, projected, path)
  }

  /** Hive-convention partition directory name for a value (the layout
    * Spark's parquet writer produces): special characters are
    * percent-escaped, NULL maps to `__HIVE_DEFAULT_PARTITION__`. */
  private def partitionDirName(partCol: String, v: Any): String = {
    if (v == null) return s"$partCol=__HIVE_DEFAULT_PARTITION__"
    val raw = v.toString
    val sb = new StringBuilder
    raw.foreach { c =>
      val needsEscape = c < 0x20 || "\"#%'*/:=?\\{[]^".indexOf(c.toInt) >= 0
      if (needsEscape) sb.append(f"%%${c.toInt}%02X") else sb.append(c)
    }
    s"$partCol=${sb.toString}"
  }

  /** DELETE scoped to affected partitions of a `partitionBy(partCol)`
    * parquet table: only partitions that contain at least one matching
    * row are rewritten (dynamic partition overwrite); every other
    * partition's files are left byte-identical on disk. The affected
    * partition VALUES are collected to the driver — that list is
    * partition metadata (small by definition), the same cardinality a
    * dynamic-partition-pruning subquery broadcasts. */
  def deletePartitionScoped(s: SparkSession, path: String,
      partCol: String, pred: Column): DataFrame = {
    val t = Graft.readParquet(s, path)
    val schema = t.schema
    val affected = t.filter(coalesce(pred, lit(false)))
      .select(col(partCol)).distinct().collect().map(_.get(0))
    if (affected.nonEmpty) {
      // NULL partition values can't ride isin() (null != null), so the
      // affected-partition filter needs an explicit isNull arm.
      val (nullAffected, nonNullAffected) = affected.partition(_ == null)
      val partHit = {
        val inList =
          if (nonNullAffected.nonEmpty) col(partCol).isin(nonNullAffected.toSeq: _*)
          else lit(false)
        if (nullAffected.nonEmpty) inList || col(partCol).isNull else inList
      }
      val survivors = t.filter(partHit).filter(!coalesce(pred, lit(false)))
      // Dynamic partition overwrite only replaces partitions PRESENT in
      // the written data — a partition whose every row matched the
      // predicate produces no output rows, so its old files would
      // silently survive. Diff affected vs surviving partition values
      // and drop the emptied directories explicitly.
      val survivorVals = survivors.select(col(partCol)).distinct()
        .collect().map(_.get(0))
      val survivorSet = survivorVals.map(Option(_)).toSet
      val emptied = affected.filterNot(v => survivorSet.contains(Option(v)))
      val prev = s.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
      s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try {
        if (survivorVals.nonEmpty)
          survivors.write.mode("overwrite").partitionBy(partCol).parquet(path)
      } finally s.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
      if (emptied.nonEmpty) {
        val fs = new Path(path).getFileSystem(s.sparkContext.hadoopConfiguration)
        emptied.foreach { v =>
          fs.delete(new Path(path, partitionDirName(partCol, v)), true)
        }
      }
    }
    // If the delete emptied the whole table no data files remain and
    // the re-read cannot infer a schema; commit an explicit empty
    // table state (schema-only parquet) instead.
    try Graft.readParquet(s, path)
    catch {
      case _: org.apache.spark.sql.AnalysisException =>
        overwriteInPlace(s,
          s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema),
          path)
    }
  }

  /** Ordered MERGE clause set: `WHEN MATCHED AND deleteWhen THEN
    * DELETE` first, then `WHEN MATCHED THEN UPDATE SET updateSet`,
    * then `WHEN NOT MATCHED THEN INSERT insertValues` (values listed
    * in target-schema order). Any clause may be absent. */
  final case class MergeClauses(
      deleteWhen: Option[Column] = None,
      updateSet: Map[String, Column] = Map.empty,
      insertValues: Option[Seq[Column]] = None)

  /** MERGE INTO <targetPath> USING `source` ON target.`targetKey` =
    * source.`sourceKey`. Source and target column names (other than
    * the keys) must be disjoint — clause expressions reference either
    * side by plain column name. */
  def mergeInto(s: SparkSession, targetPath: String, source: DataFrame,
      targetKey: String, sourceKey: String, clauses: MergeClauses): DataFrame = {
    val target = Graft.readParquet(s, targetPath)
    val overlap = source.columns.toSet.intersect(target.columns.toSet)
    require(overlap.isEmpty,
      s"mergeInto needs disjoint source/target column names, both have: $overlap")
    // SQL:2003 cardinality rule, enforced IN the plan: aggregate the
    // source by key and assert one row per key. The assert rides in a
    // filter (assert_true yields NULL on success → isNull passes every
    // row) so column pruning cannot silently drop the check.
    val updateSet = resolveAssignments(target.columns.toSeq, clauses.updateSet)
    val srcCols = source.columns.toSeq
    val srcAgg = source.groupBy(col(sourceKey).as("__sk"))
      .agg(count(lit(1)).as("__scnt"),
        first(struct(srcCols.map(col): _*)).as("__srow"))
      .filter(assert_true(col("__scnt") <= 1,
        concat(lit("MERGE: more than one source row for key "),
          col("__sk").cast("string"))).isNull)
      .withColumn("__s_present", lit(true))
    // Presence markers, NOT key nullability, decide matched/unmatched:
    // a NULL-keyed target row never joins (null != null) and must pass
    // through untouched — testing col(targetKey).isNotNull would drop
    // it from `kept` and (with an INSERT clause) re-admit the all-NULL
    // source side as a garbage insert.
    val joined = target.withColumn("__t_present", lit(true))
      .join(srcAgg, col(targetKey) === col("__sk"), "full_outer")
      .select((target.columns.toSeq.map(col) ++
        Seq(col("__t_present"), col("__s_present"),
          col("__sk"), col("__sk").as(sourceKey))) ++
        srcCols.filter(_ != sourceKey)
          .map(c => col("__srow").getField(c).as(c)): _*)
    val tPresent = coalesce(col("__t_present"), lit(false))
    val sPresent = coalesce(col("__s_present"), lit(false))
    val matched = tPresent && sPresent
    val deleteHit = clauses.deleteWhen
      .map(c => matched && coalesce(c, lit(false))).getOrElse(lit(false))
    // surviving target rows, with matched-row updates applied
    val kept = joined.filter(tPresent && !deleteHit)
      .select(target.columns.toSeq.map { c =>
        updateSet.get(c) match {
          case Some(v) => when(matched, v).otherwise(col(c)).as(c)
          case None    => col(c)
        }
      }: _*)
    val result = clauses.insertValues match {
      case Some(vals) =>
        require(vals.length == target.columns.length,
          "INSERT values must cover the full target schema in order")
        val inserted = joined.filter(!tPresent && sPresent)
          .select(vals.zip(target.columns.toSeq).map { case (v, c) => v.as(c) }: _*)
        kept.unionByName(inserted)
      case None => kept
    }
    overwriteInPlace(s, result, targetPath)
  }
}

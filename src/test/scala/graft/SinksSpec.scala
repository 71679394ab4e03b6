package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Writer-sink coverage (SURVEY §2.1: TableWriterOperator →
  * df.write.*; other formats orc/csv/json — reference `lib/trino-orc`,
  * `lib/trino-hive-formats`) and the ANALYZE/stats surface (§2.8:
  * SHOW STATS → ANALYZE TABLE COMPUTE STATISTICS feeding Catalyst
  * `Statistics`). */
class SinksSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"
  private var spark: SparkSession = _
  private var tmp: String = _

  override def beforeAll(): Unit = {
    spark = graft.engine.Graft.session("graft-sink-test", 4)
    spark.sparkContext.setLogLevel("ERROR")
    tmp = Files.createTempDirectory("graft_sinks").toString
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("binaryFile source ingests raw media assets into probe-able binary columns") {
    // the multimodal ingest path: raw files on disk → (path, length,
    // content) rows → container probes, without any decode library.
    // At corpus scale this is the same reader Spark distributes over
    // object-store listings; payload bytes stay scan-side.
    val dir = Files.createTempDirectory("graft_media").toString
    def hexBytes(h: String): Array[Byte] =
      h.replaceAll("\\s", "").grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    // a 1x1 PNG IHDR prefix, a minimal WAV, and a non-media file
    Files.write(java.nio.file.Paths.get(dir, "a.png"), hexBytes(
      "89504E470D0A1A0A0000000D4948445200000001000000010806000000" + "1F15C489"))
    Files.write(java.nio.file.Paths.get(dir, "b.wav"), hexBytes(
      "52494646 34000000 57415645 666D7420 10000000 0100 0100 401F0000 401F0000 0100 0800 " +
        "64617461 10000000" + "00" * 16))
    Files.write(java.nio.file.Paths.get(dir, "c.txt"),
      "not media".getBytes("UTF-8"))
    val rows = spark.read.format("binaryFile").load(dir)
      .selectExpr(
        "regexp_extract(path, '([^/]+)$', 1) AS name",
        "length",
        "media_probe(content).format AS img",
        "audio_probe(content).format AS aud",
        "audio_probe(content).sample_rate AS rate")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getString(3), if (r.isNullAt(4)) -1 else r.getInt(4)))
      .sortBy(_._1).toSeq
    assert(rows == Seq(
      ("a.png", 33L, "png", "unknown", -1),
      ("b.wav", 60L, "unknown", "wav", 8000),
      ("c.txt", 9L, "unknown", "unknown", -1)), rows.toString)
  }

  test("write/read round-trip across parquet, orc, json, csv") {
    val src = graft.engine.Graft.load(spark, sfDir, "customer")
    for (fmt <- Seq("parquet", "orc", "json", "csv")) {
      val path = s"$tmp/rt_$fmt"
      src.write.format(fmt).option("header", "true").mode("overwrite").save(path)
      val back = spark.read.format(fmt)
        .option("header", "true").schema(src.schema).load(path)
      assert(back.count() == src.count(), s"$fmt count")
      assert(src.exceptAll(back).isEmpty && back.exceptAll(src).isEmpty,
        s"$fmt content mismatch")
    }
  }

  test("partitioned write prunes partitions on read") {
    val src = graft.engine.Graft.load(spark, sfDir, "orders")
    val path = s"$tmp/part_orders"
    src.withColumn("prio", org.apache.spark.sql.functions.col("o_orderpriority"))
      .write.partitionBy("prio").mode("overwrite").parquet(path)
    val pruned = spark.read.parquet(path)
      .filter(org.apache.spark.sql.functions.col("prio") === "1-URGENT")
    val plan = pruned.queryExecution.executedPlan.toString
    // partition filter must reach the scan, not a post-scan Filter
    assert(plan.contains("PartitionFilters: [isnotnull(prio"), plan.take(1500))
    assert(pruned.count() ==
      src.filter(org.apache.spark.sql.functions.col("o_orderpriority") === "1-URGENT").count())
  }

  test("ANALYZE TABLE feeds Catalyst statistics (row count + column stats)") {
    graft.engine.Graft.load(spark, sfDir, "customer").createOrReplaceTempView("cust_src")
    spark.sql("DROP TABLE IF EXISTS cust_tab")
    spark.sql(
      s"CREATE TABLE cust_tab USING parquet LOCATION '$tmp/cust_tab' AS SELECT * FROM cust_src")
    spark.sql("ANALYZE TABLE cust_tab COMPUTE STATISTICS FOR ALL COLUMNS")
    // catalog row/column stats reach plan Statistics only under CBO
    spark.conf.set("spark.sql.cbo.enabled", "true")
    val stats = spark.table("cust_tab").queryExecution.optimizedPlan.stats
    spark.conf.set("spark.sql.cbo.enabled", "false")
    assert(stats.rowCount.exists(_.longValue == 150), s"rowCount=${stats.rowCount}")
    assert(stats.attributeStats.nonEmpty, "expected column-level stats")
    val distinctKeys = stats.attributeStats.collectFirst {
      case (a, s) if a.name == "c_custkey" => s.distinctCount.get.longValue
    }
    assert(distinctKeys.contains(150L), s"c_custkey ndv=$distinctKeys")
  }

  test("partition-scoped DELETE rewrites only affected partitions") {
    import org.apache.spark.sql.functions._
    val path = s"$tmp/mut_scoped"
    graft.engine.Graft.load(spark, sfDir, "documents")
      .write.mode("overwrite").partitionBy("lang").parquet(path)
    // files of untouched partitions must stay byte-identical (same
    // path + mtime + length) — the 100 TB point of the scoped rewrite
    def snapshot(): Map[String, (Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(path)).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> (f.lastModified(), f.length())).toMap
    }
    val before = snapshot()
    val langs = spark.read.parquet(path).select("lang").distinct()
      .collect().map(_.getString(0)).sorted
    assert(langs.length >= 2, "need multiple partitions for the proof")
    val victim = langs.head
    val preCount = spark.read.parquet(path).count()
    val delCount = spark.read.parquet(path)
      .filter(col("lang") === victim && col("doc_id") % 2 === 0).count()
    val after = graft.operators.Mutations.deletePartitionScoped(
      spark, path, "lang", col("lang") === victim && col("doc_id") % 2 === 0)
    assert(after.count() == preCount - delCount)
    val nowFiles = snapshot()
    val untouchedBefore = before.filter(!_._1.contains(s"lang=$victim"))
    val untouchedAfter = nowFiles.filter(!_._1.contains(s"lang=$victim"))
    assert(untouchedBefore == untouchedAfter,
      "files outside the affected partition changed — rewrite was not scoped")
    assert(before.keys.exists(_.contains(s"lang=$victim")) &&
      before.filter(_._1.contains(s"lang=$victim")) !=
        nowFiles.filter(_._1.contains(s"lang=$victim")),
      "the affected partition should have been rewritten")
  }

  test("mutation SQL text lowers onto the operators (DELETE/UPDATE/MERGE)") {
    import org.apache.spark.sql.functions._
    import graft.sqlcompat.MutationSql
    val spk = spark
    import spk.implicits._
    def fresh(path: String): Unit =
      Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
        .toDF("id", "v", "bal").write.mode("overwrite").parquet(path)
    val path = s"$tmp/mutsql"
    val resolve: String => String = { case "t" => path }

    // DELETE with the reference's strpos spelling riding through the
    // dialect layer inside the predicate
    fresh(path)
    val afterDel = MutationSql.translate(spark,
      "DELETE FROM t WHERE strpos(v, 'b') > 0 OR bal >= 30.0", resolve)
    assert(afterDel.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L))

    // UPDATE with multiple assignments evaluated against the PRE-row
    fresh(path)
    val afterUpd = MutationSql.translate(spark,
      "UPDATE t SET bal = bal * 2, v = upper(v) WHERE id <> 2", resolve)
    assert(afterUpd.orderBy("id").collect().map(r =>
      (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq ==
      Seq((1L, "A", 20.0), (2L, "b", 20.0), (3L, "C", 60.0)))

    // the SET list splits on its top-level commas only: not on the
    // comma inside a literal, nor after the quote inside a quoted
    // identifier
    val qpath = s"$tmp/mutsql_quoted"
    Seq((1L, 0L, "a")).toDF("id", "it's", "b").write.mode("overwrite").parquet(qpath)
    val afterQuoted = MutationSql.translate(spark,
      "UPDATE t SET \"it's\" = 1, b = 'x,y'", { case "t" => qpath })
    assert(afterQuoted.collect().map(r => (r.getLong(1), r.getString(2))).toSeq ==
      Seq((1L, "x,y")))

    // MERGE: delete case, update case, insert case, aliased columns
    fresh(path)
    val afterMrg = MutationSql.translate(spark,
      """MERGE INTO t USING (SELECT * FROM VALUES (1L, 5.0), (3L, 99.0), (9L, 7.0) AS s(key, nb)) s
        |ON t.id = s.key
        |WHEN MATCHED AND s.nb > 50.0 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET bal = s.nb
        |WHEN NOT MATCHED THEN INSERT VALUES (s.key, 'new', s.nb)""".stripMargin,
      resolve)
    assert(afterMrg.orderBy("id").collect().map(r =>
      (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq ==
      Seq((1L, "a", 5.0), (2L, "b", 20.0), (9L, "new", 7.0)))

    // unsupported shapes fail loudly, never silently mis-mutate
    fresh(path)
    assertThrows[IllegalArgumentException](MutationSql.translate(spark,
      """MERGE INTO t USING (SELECT 1L AS key, 1.0 AS nb) s ON t.id = s.key
        |WHEN MATCHED AND s.nb > 0 THEN UPDATE SET bal = s.nb""".stripMargin, resolve))
    assertThrows[IllegalArgumentException](MutationSql.translate(spark,
      """MERGE INTO t USING (SELECT 1L AS key, 1.0 AS nb) s ON t.id = s.key
        |WHEN MATCHED THEN UPDATE SET bal = s.nb
        |WHEN MATCHED THEN DELETE""".stripMargin, resolve))
    assert(MutationSql.matches("DELETE FROM x") &&
      !MutationSql.matches("SELECT delete_me FROM x"))
  }

  test("MERGE raises on the SQL:2003 cardinality violation; NULL-pred rows survive DELETE") {
    import org.apache.spark.sql.functions._
    val spk = spark
    import spk.implicits._
    val path = s"$tmp/mut_card"
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.mode("overwrite").parquet(path)
    // duplicate source keys → the in-plan assert fires at execution
    val dupSrc = Seq((1L, 10.0), (1L, 20.0)).toDF("key", "x")
    val ex = intercept[Exception] {
      graft.operators.Mutations.mergeInto(spark, path, dupSrc, "id", "key",
        graft.operators.Mutations.MergeClauses(
          updateSet = Map("v" -> lit("upd")))).count()
    }
    assert(ex.getMessage.contains("MERGE") ||
      Option(ex.getCause).exists(_.getMessage.contains("MERGE")),
      s"expected the cardinality message, got: ${ex.getMessage}")
    // DELETE keeps rows whose predicate evaluates to NULL
    val path2 = s"$tmp/mut_nullpred"
    Seq((1L, Some(1.0)), (2L, None), (3L, Some(9.0)))
      .toDF("id", "x").write.mode("overwrite").parquet(path2)
    val left = graft.operators.Mutations.delete(
      spark, path2, col("x") > 5.0)
    assert(left.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
  }

  test("TRUNCATE TABLE commits a schema-only empty state; SHOW STATS serves catalog stats") {
    import org.apache.spark.sql.functions._
    val spk = spark
    import spk.implicits._
    // TRUNCATE through the mutation SQL front-end
    val path = s"$tmp/mut_truncate"
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.mode("overwrite").parquet(path)
    val after = graft.sqlcompat.MutationSql.translate(
      spark, "TRUNCATE TABLE t", { case "t" => path })
    assert(after.count() == 0)
    assert(after.columns.toSeq == Seq("id", "v"), "schema must survive the truncate")
    assert(spark.read.parquet(path).count() == 0, "committed state must be empty")
    assert(graft.sqlcompat.MutationSql.matches("TRUNCATE TABLE x"))
    // SHOW STATS over the ANALYZE'd table from the stats test above
    graft.engine.Graft.load(spark, sfDir, "customer").createOrReplaceTempView("cust_src2")
    spark.sql("DROP TABLE IF EXISTS cust_stats_tab")
    spark.sql(
      s"CREATE TABLE cust_stats_tab USING parquet LOCATION '$tmp/cust_stats_tab' AS SELECT * FROM cust_src2")
    spark.sql("ANALYZE TABLE cust_stats_tab COMPUTE STATISTICS FOR ALL COLUMNS")
    val stats = graft.sqlcompat.Statements.execute(spark, "SHOW STATS FOR cust_stats_tab")
    assert(stats.columns.toSeq == Seq("column_name", "data_size",
      "distinct_values_count", "nulls_fraction", "row_count", "low_value", "high_value"))
    val rows = stats.collect()
    val summary = rows.find(_.isNullAt(0)).get
    assert(summary.getLong(4) == 150, s"row_count=${summary.get(4)}")
    val custkey = rows.find(r => !r.isNullAt(0) && r.getString(0) == "c_custkey").get
    assert(custkey.getLong(2) == 150, s"c_custkey ndv=${custkey.get(2)}")
    assert(!custkey.isNullAt(5) && !custkey.isNullAt(6), "low/high must be present")
  }

  test("partition-scoped DELETE drops fully-emptied partitions and reaches NULL partitions") {
    import org.apache.spark.sql.functions._
    val spk = spark
    import spk.implicits._
    val path = s"$tmp/mut_empty_part"
    Seq((1L, Some("a")), (2L, Some("a")), (3L, Some("b")), (4L, Option.empty[String]))
      .toDF("id", "grp").write.mode("overwrite").partitionBy("grp").parquet(path)
    // the predicate matches EVERY row of partition a — dynamic
    // overwrite alone would leave its files behind
    val after = graft.operators.Mutations.deletePartitionScoped(
      spark, path, "grp", col("grp") === "a")
    assert(after.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(3L, 4L))
    assert(!new java.io.File(path, "grp=a").exists(),
      "fully-emptied partition directory must be dropped")
    // NULL partition values are reachable (isin(null) never matches)
    val after2 = graft.operators.Mutations.deletePartitionScoped(
      spark, path, "grp", col("id") === 4L)
    assert(after2.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(3L))
    assert(!new java.io.File(path, "grp=__HIVE_DEFAULT_PARTITION__").exists(),
      "emptied NULL partition directory must be dropped")
    // emptying the whole table commits an explicit schema-only state
    val after3 = graft.operators.Mutations.deletePartitionScoped(
      spark, path, "grp", lit(true))
    assert(after3.count() == 0)
  }

  test("MERGE leaves NULL-keyed target rows untouched (no drop, no garbage insert)") {
    import org.apache.spark.sql.functions._
    val spk = spark
    import spk.implicits._
    val path = s"$tmp/mut_nullkey"
    Seq((Some(1L), "a"), (Option.empty[Long], "nullkey"), (Some(3L), "c"))
      .toDF("id", "v").write.mode("overwrite").parquet(path)
    val src = Seq((1L, "upd"), (9L, "new")).toDF("key", "nv")
    val after = graft.operators.Mutations.mergeInto(spark, path, src, "id", "key",
      graft.operators.Mutations.MergeClauses(
        updateSet = Map("v" -> col("nv")),
        insertValues = Some(Seq(col("key"), col("nv")))))
    val rows = after.collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0)) -> r.getString(1)).sorted.toSeq
    assert(rows == Seq((-1L, "nullkey"), (1L, "upd"), (3L, "c"), (9L, "new")),
      s"got $rows")
  }

  test("UPDATE/MERGE assignment keys resolve case-insensitively and fail on unknowns") {
    import org.apache.spark.sql.functions._
    val spk = spark
    import spk.implicits._
    val path = s"$tmp/mut_casekeys"
    Seq((1L, 10.0), (2L, 20.0)).toDF("id", "bal")
      .write.mode("overwrite").parquet(path)
    // wrong-case key applies, never a silent no-op
    val after = graft.operators.Mutations.update(
      spark, path, Map("BAL" -> (col("bal") + 1)), col("id") === 1L)
    assert(after.orderBy("id").collect().map(_.getDouble(1)).toSeq == Seq(11.0, 20.0))
    // an unknown column raises
    assertThrows[IllegalArgumentException](graft.operators.Mutations.update(
      spark, path, Map("balance" -> lit(0.0)), lit(true)))
    // two keys collapsing onto one column raise
    assertThrows[IllegalArgumentException](graft.operators.Mutations.update(
      spark, path, Map("bal" -> lit(1.0), "BAL" -> lit(2.0)), lit(true)))
  }
}

package graft

import java.nio.file.Files

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanExec
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Graft

/** `Graft.readParquet` resolves a table's schema from one footer on the
  * driver instead of Spark's inference job. It must give the schema
  * inference gives, start no job, and fail where inference fails. */
class ParquetSchemaSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sf = "/root/testdata/sf0.01"

  override def beforeAll(): Unit = {
    spark = Graft.session("graft-parquet-schema", 2)
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft-schema-$tag").toString

  /** The layouts a table path can have: one file per table (the
    * testdata), Spark-written multi-file and partitioned directories, a
    * TRUNCATE's schema-only state, and both physical events layouts. */
  private def paths(): Seq[String] = {
    val spk = spark
    import spk.implicits._
    val base = tmp("layouts")
    val multi = s"$base/multi.parquet"
    spark.range(0, 1000, 1, 4)
      .select(col("id"), (col("id") % 7).cast("int").as("k"),
        col("id").cast("string").as("s"), (col("id") / 3.0).as("d"))
      .write.parquet(multi)
    val parted = s"$base/parted.parquet"
    spark.range(0, 200, 1, 3)
      .select(col("id"), (col("id") % 5).as("bucket"), col("id").cast("string").as("s"))
      .write.partitionBy("bucket").parquet(parted)
    val truncated = s"$base/truncated.parquet"
    Graft.load(spark, sf, "supplier").write.parquet(truncated)
    graft.operators.Mutations.delete(spark, truncated, lit(true))
    val events = Seq("nanos-bigint", "timestamp-micros").map { layout =>
      val rows = Seq((1L, 1700000000123456L, 10L, "click", 1.5, """{"a":1}"""),
        (2L, 1700000001654321L, 11L, "purchase", 2.5, """{"a":2}"""))
        .toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
      val ts = if (layout == "nanos-bigint") col("ts_us") * lit(1000L)
        else timestamp_micros(col("ts_us"))
      val p = s"$base/events-$layout.parquet"
      rows.withColumn("ts", ts)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .repartition(1).write.parquet(p)
      p
    }
    Graft.tableNames.map(t => s"$sf/$t.parquet") ++ Seq(multi, parted, truncated) ++ events
  }

  test("the footer schema equals spark.read.parquet's inferred schema") {
    val all = paths()
    assert(all.size == 15)
    for (p <- all) {
      val inferred = spark.read.parquet(p)
      val resolved = Graft.readParquet(spark, p)
      assert(resolved.schema == inferred.schema, p)
      assert(resolved.schema.json == inferred.schema.json, p)
    }
    // the session's parquet settings reach the footer conversion
    val events = s"$sf/events.parquet"
    Graft.withConfs(spark, Seq("spark.sql.parquet.inferTimestampNTZ.enabled" -> "false")) {
      val inferred = spark.read.parquet(events).schema
      assert(inferred("ts").dataType == org.apache.spark.sql.types.TimestampType)
      assert(Graft.readParquet(spark, events).schema == inferred)
    }
    val parted = all.find(_.endsWith("parted.parquet")).get
    assert(Graft.readParquet(spark, parted).columns.last == "bucket")
    // the same rows come back through either schema
    for (p <- all.filter(_.contains("graft-schema-"))) {
      def rows(df: DataFrame) = df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
      assert(rows(Graft.readParquet(spark, p)) == rows(spark.read.parquet(p)), p)
    }
    val truncated = all.find(_.endsWith("truncated.parquet")).get
    assert(Graft.readParquet(spark, truncated).count() == 0)
  }

  test("registering the tables and reading a table start no Spark job") {
    val fresh = spark.newSession()
    val (_, registerJobs) = PlanExec.jobsStartedBy(fresh)(Graft.registerAll(fresh, sf))
    assert(Graft.tableNames.forall(t => fresh.catalog.tableExists(t)))
    assert(registerJobs == 0)
    val p = s"$sf/lineitem.parquet"
    assert(PlanExec.jobsStartedBy(fresh)(Graft.readParquet(fresh, p))._2 == 0)
    // the counter does see the inference job the helper avoids
    assert(PlanExec.jobsStartedBy(fresh)(fresh.read.parquet(p))._2 >= 1)
    // three-part names resolve through GraftCatalog's footer schema
    fresh.conf.set("spark.sql.catalog.graft", classOf[graft.catalog.GraftCatalog].getName)
    fresh.conf.set("spark.sql.catalog.graft.root", sf)
    val (cols, catalogJobs) =
      PlanExec.jobsStartedBy(fresh)(fresh.table("graft.main.nation").columns.toSeq)
    assert(cols == fresh.read.parquet(s"$sf/nation.parquet").columns.toSeq)
    assert(catalogJobs == 0)
  }

  test("a session that merges schemas still gets the merged schema") {
    val p = s"${tmp("merge")}/t.parquet"
    spark.range(3).selectExpr("id", "id AS a").write.parquet(s"$p/part=1")
    spark.range(3).selectExpr("id", "CAST(id AS STRING) AS b").write.parquet(s"$p/part=2")
    Graft.withConfs(spark, Seq("spark.sql.parquet.mergeSchema" -> "true")) {
      val merged = Graft.readParquet(spark, p).schema
      assert(merged == spark.read.parquet(p).schema)
      assert(merged.fieldNames.toSet == Set("id", "a", "b", "part"))
    }
  }

  test("a missing path and an emptied directory fail as spark.read.parquet does") {
    def failure(read: => DataFrame): Class[_] =
      try { read; fail("expected the read to fail") }
      catch { case e: AnalysisException => e.getClass }
    val missing = s"${tmp("missing")}/absent.parquet"
    val emptied = s"${tmp("emptied")}/t.parquet"
    spark.range(10).write.parquet(emptied)
    new java.io.File(emptied).listFiles().foreach(_.delete())
    for (p <- Seq(missing, emptied))
      assert(failure(Graft.readParquet(spark, p)) == failure(spark.read.parquet(p)), p)
  }
}

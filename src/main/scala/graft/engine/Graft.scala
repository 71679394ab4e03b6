package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Session + catalog bootstrap for the graft engine.
  *
  * Mirrors the reference engine's session/catalog surface (witdb/Trino:
  * coordinator session + connector catalogs, see reference
  * `core/trino-main/.../SystemSessionProperties.java`) re-expressed as a
  * configured [[SparkSession]] plus temp-view registration of the parquet
  * test tables. All heavy lifting (AQE re-planning, broadcast-join
  * selection, skew-join splitting, runtime bloom-filter pushdown — the
  * reference's `DetermineJoinDistributionType` / dynamic-filtering
  * machinery) is delegated to Catalyst by turning the right flags on.
  *
  * This session factory is THE session for every driver path
  * (Verify / Bench / tests), so the tuned flags are actually exercised
  * by the correctness gate and the benchmark — not decorative.
  */
object Graft {

  /** All tables the driver generates (TESTDATA.md + FIXTURES.md). */
  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Build a session tuned for local[N] that still plans like a cluster:
    * AQE re-partitions / re-plans joins at runtime, the broadcast
    * threshold picks join strategies from runtime sizes (we deliberately
    * do NOT hard-code `broadcast()` hints on tables that grow with scale
    * factor), and bloom-filter runtime pushdown stands in for the
    * reference's dynamic filtering.
    *
    * CBO/joinReorder flags are intentionally absent: the query builders
    * read parquet directly (no catalog tables carrying ANALYZE stats),
    * so those flags would be dead weight; AQE supplies the runtime
    * equivalent honestly.
    */
  def session(appName: String = "graft",
              cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // parallelism-first coalescing (the default) is measured-correct
      // here: size-first coalescing (parallelismFirst=false, advisory
      // 16m) was tried in r10 and REGRESSED the bench 46.4→58.4 s —
      // sf0.1 shuffles are byte-small but row-heavy, so collapsing to
      // 1–2 reduce tasks serializes real compute (w +74%, x2 3×). The
      // per-query floor is analysis/planning latency, not reduce-task
      // scheduling.
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // TypedImperativeAggregates (collect_set, the sketch family) run in
      // ObjectHashAggregateExec, whose default hash-map capacity is only
      // 128 groups before degrading to sort-based aggregation — far too
      // conservative for small per-group buffers (a per-order part set,
      // a 2 KB sketch). 64Ki groups × KB-scale buffers stays well inside
      // a task's memory at any scale (keys per task are bounded by task
      // input size), and giant-buffer aggregations still fall back.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .config("spark.sql.session.timeZone", "UTC")
      // Reference map_concat keeps the value from the LAST map on a
      // duplicate key (MapConcatFunction.java; TestMapOperators
      // testMapConcat) — Spark's default policy is to raise. Side
      // effect: duplicate keys inside one map() constructor no longer
      // raise either (the reference does raise there) — documented,
      // lenient-direction divergence.
      .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
      // events.ts is TIMESTAMP(NANOS) parquet, which Spark 4 rejects by
      // default ([PARQUET_TYPE_ILLEGAL]); map it to epoch-nanos bigint.
      // Set once here so load() has no config side effects.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Static conf, read once at first codegen: the default 100-entry
      // generated-class cache thrashes across a 141-query suite pass
      // (each query holds several codegen units), recompiling with
      // Janino on every revisit. Sized to hold the whole surface.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // VALUES rows must reach the analyzer, not evaluate inside the
      // parser: the parser's eager path runs before any injected rule,
      // so `VALUES (0E0/0E0)` (IEEE NaN in the reference) would die
      // with ANSI DIVIDE_BY_ZERO before IeeeDoubleDivide can lower it.
      .config("spark.sql.parser.eagerEvalOfUnresolvedInlineTable", "false")
      .config("spark.ui.enabled", "false")
      // the whole function surface and the plan rules; every session
      // of this context, newSession() included, gets the same registry
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
  }

  /** Run `body` with `confs` set, restoring prior values after. */
  def withConfs[T](spark: SparkSession, confs: Seq[(String, String)])(body: => T): T = {
    val prior = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** A parquet table whose schema is resolved on the driver from ONE
    * footer, without a Spark job. `spark.read.parquet` learns a schema
    * through Spark's non-merging inference, which reads one footer too
    * (the first summary file, else the first data file of the
    * relation's file index) but always inside a one-task Spark job.
    * The reference resolves table metadata on the coordinator at
    * analysis time (`ConnectorMetadata.getTableMetadata`) and never
    * runs a distributed job for it. The read carries the footer's
    * schema as its user schema, so the relation (partition columns
    * appended from the directory layout) is the one inference would
    * build. A path without a data file (missing, or emptied by a
    * mutation) goes to `spark.read.parquet` and fails as Spark does. */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    parquetSchema(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None         => spark.read.parquet(path)
    }

  /** The data schema Spark's non-merging inference would give `path`,
    * read from the same footer on the driver; None when the path has
    * no data file or the session merges schemas across files
    * (`spark.sql.parquet.mergeSchema`), where only inference is right. */
  def parquetSchema(spark: SparkSession, path: String): Option[StructType] = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
    import org.apache.parquet.hadoop.Footer
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
    val conf = spark.sessionState.conf
    val hadoopConf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(hadoopConf)
    if (conf.isParquetSchemaMergingEnabled || !fs.exists(root)) return None
    val files = new InMemoryFileIndex(spark, Seq(fs.makeQualified(root)), Map.empty, None)
      .allFiles().sortBy(_.getPath.toString)
    // inference's pick: a _common_metadata summary, else a _metadata
    // summary, else the first data file by path
    val (summaries, data) = files.partition(f =>
      Set("_common_metadata", "_metadata").contains(f.getPath.getName))
    summaries.sortBy(_.getPath.getName).headOption.orElse(data.headOption)
      .map { f =>
        val footer = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(f, hadoopConf), SKIP_ROW_GROUPS)
        ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer),
          new ParquetToSparkSchemaConverter(conf))
      }
  }

  /** Per-session relation cache: the query builders call load() afresh
    * per query per execution, and a load lists the table's files and
    * reads one footer on the driver ([[readParquet]]); the cache makes
    * that one listing and one footer read per (session, table). A real
    * engine caches table metadata in its catalog (reference:
    * metastore-backed ConnectorMetadata); this memoizes the analyzed
    * relation per (session, dir, table).
    * Stopped sessions are purged eagerly on the next load() — weak keys
    * would not work here because the cached DataFrames strongly
    * reference their SparkSession, keeping the key reachable. The
    * testdata is read-only by contract (TESTDATA.md), so the cached
    * file listing cannot go stale. */
  private val relationCache =
    new java.util.concurrent.ConcurrentHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]]()

  /** Read one test table: the first load per (session, table) lists
    * its files and reads one footer on the driver ([[readParquet]]);
    * later loads return the cached relation. Filters/projections on the
    * result are pushed into the parquet scan by Catalyst (verify via
    * `PushedFilters` in `.explain("formatted")`).
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // Defensive for sessions not built via session() (e.g. test harnesses).
    if (name == "events")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    relationCache.keySet.removeIf(s => s.sparkContext.isStopped)
    val perSession = relationCache.computeIfAbsent(spark,
      _ => new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]())
    perSession.computeIfAbsent((dir, name),
      _ => normalizeSchema(readParquet(spark, s"$dir/$name.parquet"), name))
  }

  /** Canonical LOGICAL column types per table — the types the whole
    * 150+-query surface (and its oracle SQL) was written against.
    * Generalizes the events lesson (r12: the driver re-typed one
    * physical column and 16 queries died at analysis): the reference
    * resolves table metadata per table at analysis time and never
    * couples query semantics to a file's physical encoding
    * (`core/trino-spi/.../connector/ConnectorMetadata.java`
    * getTableMetadata), so any physical drift the generator ships —
    * int width flips, DECIMAL vs DOUBLE money columns, DATE vs
    * TIMESTAMP datekeys, float64 embeddings — is cast back to this
    * logical schema at load. Unknown extra columns pass through;
    * `events.ts`/`ts_ns` stay owned by [[events]]' dedicated
    * nanos-vs-micros normalization. */
  private val canonicalSchema: Map[String, Seq[(String, DataType)]] = {
    import org.apache.spark.sql.types._
    Map(
      "region" -> Seq("r_regionkey" -> IntegerType, "r_name" -> StringType),
      "nation" -> Seq("n_nationkey" -> IntegerType, "n_name" -> StringType,
        "n_regionkey" -> IntegerType),
      "customer" -> Seq("c_custkey" -> LongType, "c_name" -> StringType,
        "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
        "c_mktsegment" -> StringType),
      "supplier" -> Seq("s_suppkey" -> LongType, "s_name" -> StringType,
        "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
      "part" -> Seq("p_partkey" -> LongType, "p_name" -> StringType,
        "p_brand" -> StringType, "p_type" -> StringType,
        "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
      "orders" -> Seq("o_orderkey" -> LongType, "o_custkey" -> LongType,
        "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
        "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
      "lineitem" -> Seq("l_orderkey" -> LongType, "l_partkey" -> LongType,
        "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
        "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
        "l_discount" -> DoubleType, "l_tax" -> DoubleType,
        "l_returnflag" -> StringType, "l_linestatus" -> StringType,
        "l_shipdate" -> TimestampNTZType),
      "events" -> Seq("event_id" -> LongType, "user_id" -> LongType,
        "event_type" -> StringType, "value" -> DoubleType,
        "props" -> StringType),
      "documents" -> Seq("doc_id" -> LongType, "text" -> StringType,
        "lang" -> StringType, "source" -> StringType,
        "n_chars" -> LongType),
      "embeddings" -> Seq("vec_id" -> LongType,
        "embedding" -> ArrayType(FloatType), "label" -> IntegerType))
  }

  /** Cast any drifted column back to its canonical logical type; a
    * no-op (same DataFrame) when nothing drifted, so the common path
    * adds zero plan nodes. Nullability is not part of the contract. */
  private[graft] def normalizeSchema(df: DataFrame, name: String): DataFrame =
    canonicalSchema.get(name) match {
      case None => df
      case Some(cols) =>
        import org.apache.spark.sql.functions.col
        val want = cols.toMap
        val have = df.schema.fields.map(f => f.name -> f.dataType).toMap
        val drifted = want.exists { case (c, dt) =>
          have.get(c).exists(d => !DataType.equalsIgnoreNullability(d, dt))
        }
        if (!drifted) df
        else df.select(df.columns.toIndexedSeq.map { c =>
          want.get(c) match {
            case Some(dt) if !DataType.equalsIgnoreNullability(have(c), dt) =>
              col(c).cast(dt).as(c)
            case _ => col(c)
          }
        }: _*)
    }

  /** Fingerprint of a source table's files (mtime ^ size, xor-folded),
    * for keying derived fixtures (sink paths, CTAS/bucketed catalog
    * tables): if the testdata is regenerated in place, the tag changes
    * and the stale derivative is never read. */
  def srcTag(dir: String, name: String): String = {
    val root = new java.io.File(s"$dir/$name.parquet")
    val files =
      if (root.isDirectory) root.listFiles().filter(_.isFile).toSeq else Seq(root)
    // order-sensitive multiplicative mix over (name, mtime, length):
    // a plain XOR fold cancels pairwise-equal mtimes (every part file
    // of one write shares a timestamp), so a rewrite whose part files
    // kept their sizes could masquerade as unchanged
    val sig = files.sortBy(_.getName).foldLeft(0L) { (acc, f) =>
      val h = f.getName.hashCode.toLong ^ f.lastModified() ^
        (f.length() * 2654435761L)
      acc * 1000003L + h
    }
    java.lang.Long.toHexString(sig)
  }

  /** The events table with `ts_ns` (exact epoch-nanos, ordering key) and
    * `ts` (micros-precision timestamp for date/window functions).
    *
    * Schema-ADAPTIVE on the physical parquet type of `ts`, mirroring the
    * reference's per-table metadata resolution at analysis time (schemas
    * are discovered from the connector, never hard-coded — reference
    * `core/trino-spi/.../connector/ConnectorMetadata.java` getTableHandle /
    * getTableMetadata): the driver has shipped this table both as
    * TIMESTAMP(NANOS) parquet (surfacing as epoch-nanos BIGINT under
    * `nanosAsLong`) and as timestamp[us] parquet (surfacing as
    * TIMESTAMP/TIMESTAMP_NTZ). Both physical layouts normalize to the
    * same logical schema: exact `ts_ns` bigint plus micros `ts`.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = load(spark, dir, "events")
    val normalized = raw.schema("ts").dataType match {
      case LongType =>
        // TIMESTAMP(NANOS) parquet read as epoch-nanos bigint.
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", timestamp_micros(expr("ts_ns DIV 1000")))
      case TimestampType | TimestampNTZType =>
        // timestamp[us] parquet; session tz is UTC so the NTZ→TZ cast is
        // the identity on the underlying micros value.
        raw.withColumn("ts", col("ts").cast(TimestampType))
          .withColumn("ts_ns", unix_micros(col("ts")) * lit(1000L))
      case other =>
        throw new IllegalStateException(
          s"events.ts: unsupported physical type $other (expected " +
            "epoch-nanos BIGINT or TIMESTAMP[_NTZ])")
    }
    // Stable column order regardless of which physical layout was read.
    val tail = Seq("ts_ns", "ts")
    val front = normalized.columns.filterNot(tail.contains)
    normalized.select((front ++ tail).map(col): _*)
  }

  /** Register every test table as a temp view (SQL-surface parity with
    * the reference's catalog.schema.table namespace, flattened).
    * `events` is registered through [[events]] so the SQL surface sees
    * the same derived micros `ts` as the DataFrame surface.
    *
    * Registration is per-table defensive: one table failing to load or
    * normalize must not zero queries that never touch it (the reference
    * resolves each table handle independently at analysis time; a broken
    * table fails ITS queries, not the catalog).
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    tableNames.foreach { t =>
      try {
        val df = if (t == "events") events(spark, dir) else load(spark, dir, t)
        df.createOrReplaceTempView(t)
      } catch {
        case e: Throwable =>
          System.err.println(
            s"[graft] registerAll: table '$t' failed to register " +
              s"(queries touching it will fail at analysis): ${e.getMessage}")
      }
    }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scale-up generator for PARALLEL-SCALE measurement
  * (VERDICT r20 next-round #1: "prove the 100-TB claims with a measured
  * sf1 scaling run — the 8→32-core ratios at sf0.1 are ~1 suite-wide
  * because every heavy query sits on the local-mode job floor").
  *
  * `/root/testdata` is driver-owned and read-only, so this tool derives
  * a larger input OUTSIDE it by tiling the sf0.1 tables k times with
  * deterministic key shifts:
  *
  *   - dimension tables (region/nation/customer/supplier/part) copy
  *     as-is — the TPC-H scaling model grows facts against fixed-ish
  *     dims, and the suite's dimension-bounded arguments (q11/q15
  *     census windows) are exactly what a fact-only scale-up stresses;
  *   - fact tables tile with their primary key shifted by
  *     i * span(table) per copy i (span = max key rounded up to the
  *     next power of ten), so join relationships (orders↔lineitem on
  *     orderkey) replicate exactly, per-group structure (lines per
  *     order, events per user, docs per source) is preserved, and key
  *     cardinality grows with the data — shuffles get 10× the rows AND
  *     10× the keys, the shape a real SF increase produces.
  *
  * No randomness anywhere: byte-identical output across runs, so
  * scaling numbers are reproducible. The output is NOT oracle-gated
  * (correctness stays pinned at sf0.01/sf0.1); it exists only so the
  * 8-core vs 32-core ratio measures data parallelism instead of the
  * per-job scheduling floor.
  *
  * Usage: runMain graft.ScaleGen [srcDir] [destDir] [factor]
  */
object ScaleGen {
  private val dims = Seq("region", "nation", "customer", "supplier", "part")
  /** fact table -> columns to shift per copy (primary/foreign keys that
    * must grow with the data; cross-table keys share spans). */
  private val factKeys: Map[String, Seq[String]] = Map(
    "orders" -> Seq("o_orderkey"),
    "lineitem" -> Seq("l_orderkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))
  /** keys that must shift by the SAME span in every table referencing
    * them (orderkey appears in orders and lineitem). */
  private def spanGroup(c: String): String =
    if (c.endsWith("orderkey")) "orderkey" else c

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val dest = args.lift(1).getOrElse("/root/scaledata/sf1")
    val k = args.lift(2).map(_.toInt).getOrElse(10)
    require(!dest.startsWith("/root/testdata"), "testdata is read-only")
    val spark = graft.engine.Graft.session("graft-scalegen", 16)
    spark.sparkContext.setLogLevel("WARN")

    def read(name: String): DataFrame = graft.engine.Graft.readParquet(spark, s"$src/$name.parquet")

    // one span per key GROUP, from the max over every table carrying it
    val spans: Map[String, Long] = factKeys.toSeq
      .flatMap { case (t, cols) => cols.map(c => (spanGroup(c), t, c)) }
      .groupBy(_._1)
      .map { case (g, refs) =>
        val m = refs.map { case (_, t, c) =>
          read(t).agg(max(col(c))).head().getLong(0)
        }.max
        var span = 10L
        while (span <= m) span *= 10
        g -> span
      }

    for (t <- dims) {
      read(t).write.mode("overwrite").parquet(s"$dest/$t.parquet")
      System.err.println(s"[scalegen] $t copied")
    }
    for ((t, keys) <- factKeys.toSeq.sortBy(_._1)) {
      val base = read(t)
      val tiled = (0 until k).map { i =>
        keys.foldLeft(base) { (df, c) =>
          df.withColumn(c, col(c) + lit(i * spans(spanGroup(c))))
        }
      }.reduce(_ unionAll _)
      // Write ≥64 files per fact table: parquet parallelism is bounded
      // by ROW GROUPS, and the driver testdata ships one row group per
      // table — the very serial-scan bottleneck the scaling run exists
      // to escape. A 100 TB table has millions of row groups; 64 files
      // is the smallest layout where a 32-core scan stage has ≥2 waves
      // and an 8-vs-32 ratio can reflect data parallelism instead of
      // file count. (Deterministic: round-robin repartition sorts its
      // input first — sortBeforeRepartition — so output is stable.)
      tiled.repartition(math.max(64, k))
        .write.mode("overwrite").parquet(s"$dest/$t.parquet")
      System.err.println(s"[scalegen] $t tiled x$k " +
        s"(spans ${keys.map(c => s"$c=${spans(spanGroup(c))}").mkString(",")})")
    }
    System.err.println(s"[scalegen] done -> $dest (factor $k of $src)")
    spark.stop()
  }
}

package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Spill-forced re-execution — the engine analog of the reference's
  * `testing/trino-tests/.../TestSpilledAggregations.java` and
  * `TestJoinQueriesWithForceSpilling.java`, which re-run whole query
  * corpora with spill-to-disk forced on and assert identical results.
  *
  * Spark's operators spill through size/row thresholds rather than a
  * revocable-memory signal, so "force spill" here = drive every
  * threshold to a handful of rows: hash aggregation falls back to
  * sort-based after 3 rows (Spark's own internal test knob), window /
  * sort-merge-join / cartesian buffers spill past ~17 rows, object
  * hash aggregation falls back after 2 keys, and MATCH_RECOGNIZE's
  * per-key row buffer ([[graft.operators.SpillableRowBuffer]]) goes to
  * its disk path after 8 rows. A representative query per operator
  * family then re-executes under the constrained session and must
  * hash-identically to its unconstrained run — the cheapest proof that
  * results do not depend on everything fitting in memory (the 100 TB
  * posture: at scale these spill paths are the NORMAL paths).
  */
class SpillSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"
  private var spark: SparkSession = _

  // Core (SparkContext) confs for the spill session. The fallback knob
  // below spills every 3 input rows, so one lineitem aggregate task
  // merges ~2000 spill files, and every reader stays referenced until its
  // task ends. Each reader holds a fixed 1 MiB record buffer; the default
  // read-ahead stream adds two more 1 MiB heap buffers per reader. With
  // read-ahead, q11 outgrew a 7 GiB heap; without it the peak (q21) fits
  // a 6 GiB heap. Only the read buffering changes: the spill write, sort
  // and merge paths run as before. A task OutOfMemoryError still fails
  // this test, but no longer exits the forked JVM that the suites queued
  // behind this one share.
  private val coreConfs = Seq(
    "spark.unsafe.sorter.spill.read.ahead.enabled" -> "false",
    "spark.executor.killOnFatalError.depth" -> "0")

  override def beforeAll(): Unit = {
    // core confs reach Graft.session only as system properties set
    // before the context starts
    val prior = coreConfs.map { case (k, _) => k -> Option(System.getProperty(k)) }
    coreConfs.foreach { case (k, v) => System.setProperty(k, v) }
    try spark = graft.engine.Graft.session("graft-spill-test", 4)
    finally prior.foreach { case (k, p) => p.fold(System.clearProperty(k))(System.setProperty(k, _)) }
    spark.sparkContext.setLogLevel("ERROR")
    for ((k, v) <- coreConfs)
      assert(spark.sparkContext.getConf.get(k) == v,
        s"spill session reused a SparkContext started without $k=$v")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private val spillConfs = Seq(
    // hash agg → sort-based fallback after 3 rows (Spark's test knob)
    "spark.sql.TungstenAggregate.testFallbackStartsAt" -> "1,3",
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "2",
    "spark.sql.windowExec.buffer.in.memory.threshold" -> "4",
    "spark.sql.windowExec.buffer.spill.threshold" -> "17",
    "spark.sql.sortMergeJoinExec.buffer.in.memory.threshold" -> "4",
    "spark.sql.sortMergeJoinExec.buffer.spill.threshold" -> "17",
    "spark.sql.cartesianProductExec.buffer.in.memory.threshold" -> "4",
    "spark.sql.cartesianProductExec.buffer.spill.threshold" -> "17")

  /** Order-insensitive content hash over stringified rows (sorted —
    * several covered queries have no total output order). */
  private def contentHash(df: DataFrame): String = {
    val rows = df.collect().map { r =>
      (0 until r.length).map(i => String.valueOf(r.get(i))).mkString("|")
    }.sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach(s => md.update(s.getBytes("UTF-8")))
    java.util.Base64.getEncoder.encodeToString(md.digest())
  }

  // the FULL headline set (r15 verdict Next #9): every TPC-H query,
  // every TPC-DS-shaped composite, plus one representative per
  // non-headline operator family (window frames, MATCH_RECOGNIZE,
  // global sort, ordered agg, set ops, grouping sets, LSH join
  // pipeline)
  private val covered =
    (1 to 22).map(i => s"q${i}_") ++ (1 to 8).map(i => s"x${i}_") ++ Seq(
      "w9_moving_agg", "mr1_match_recognize", "srt2_sort_6col",
      "ag5_ordered_agg", "set3_intersect", "gs1_rollup", "p3_minhash_lsh",
      // r20: the bounded-state capped LISTAGG under sort-based
      // fallback — exercises ListaggCappedAgg's serialize/merge of
      // trimmed heaps end-to-end. (p28/p26-shaped explode + string
      // groupBy is NOT covered: the TungstenAggregate
      // testFallbackStartsAt=1,3 knob OOMs on that shape even for a
      // VANILLA word count with no custom aggregates — a test-hook
      // pathology, reproduced in isolation, not an operator defect.)
      "dx34_listagg_overflow")

  test("headline queries are hash-stable under forced spill") {
    val available = covered.flatMap(p =>
      SparkEntry.queries.keys.find(k => k == p || k.startsWith(p))).distinct
    assert(available.size >= 36, s"coverage shrank (${available.size}): $available")
    val baseline = available.map { name =>
      name -> contentHash(SparkEntry.queries(name)(spark, sfDir))
    }.toMap
    val mrSpillBefore = graft.operators.MatchRecognize.SpillCount.get()
    val prevMrCap = graft.operators.MatchRecognize.SpillAfterRows
    graft.operators.MatchRecognize.SpillAfterRows = 8
    try {
      graft.engine.Graft.withConfs(spark, spillConfs) {
        for (name <- available) {
          val spilled = contentHash(SparkEntry.queries(name)(spark, sfDir))
          assert(spilled == baseline(name),
            s"$name changed results under forced spill")
        }
      }
    } finally graft.operators.MatchRecognize.SpillAfterRows = prevMrCap
    // prove the MATCH_RECOGNIZE disk path actually engaged
    assert(graft.operators.MatchRecognize.SpillCount.get() > mrSpillBefore,
      "mr1 did not hit the SpillableRowBuffer disk path — threshold not applied")
  }
}

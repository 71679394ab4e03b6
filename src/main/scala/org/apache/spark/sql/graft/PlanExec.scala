package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.{Expression, ScalaUDF}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSparkSession}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{SparkUserDefinedFunction, UserDefinedFunction}

/** Minimal `private[sql]` bridge: re-plan an already-analyzed logical
  * plan in a FRESH QueryExecution.
  *
  * Why it exists: repeated executions of the SAME `Dataset` reuse its
  * finalized physical plan AND its shuffle outputs (the DAG scheduler
  * sees the map stages as already computed), so a benchmark that
  * re-materializes one Dataset measures only the final stage — not the
  * query. Rebuilding from the analyzed plan instead gives each run a
  * fresh physical plan, fresh shuffle ids, and a full re-execution,
  * while skipping only parse + analysis (which a warm engine caches —
  * the reference memoizes metadata/analysis per query shape the same
  * way). Also the seam where graft's adaptive session confs (AQE,
  * shuffle partitions) are re-read, since physical planning happens
  * anew per call.
  */
object PlanExec {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    ClassicDataset.ofRows(spark.asInstanceOf[ClassicSparkSession], plan)

  /** Fresh execution of an ALREADY-OPTIMIZED logical plan: analysis
    * and optimization are skipped (the plan is used as-is), while
    * physical planning, codegen, shuffles, broadcasts, and every
    * execution stage run anew — prepared-statement execution. The
    * caller owns conf coherence: an optimized plan bakes in
    * optimizer-time conf decisions (runtime-filter injection,
    * constant folding of conf-dependent exprs), so it must be
    * re-executed under the conf regime it was optimized under. */
  def ofPreOptimized(spark: SparkSession, optimized: LogicalPlan): DataFrame = {
    val cs = spark.asInstanceOf[ClassicSparkSession]
    val qe = new org.apache.spark.sql.execution.QueryExecution(cs, optimized) {
      override lazy val optimizedPlan: LogicalPlan = optimized
    }
    new ClassicDataset[org.apache.spark.sql.Row](qe,
      org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(qe.analyzed.schema))
  }

  /** Run `body` and count the Spark jobs it started. The listener bus is
    * flushed before the listener is added (so an earlier job's queued
    * start event is not charged to `body`) and again before the count
    * is read (so a job `body` started is not missed). */
  def jobsStartedBy[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      val result = body
      sc.listenerBus.waitUntilEmpty()
      (result, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  /** True when `plan` (subqueries included) reads a locally checkpointed
    * Dataset. The checkpoint's blocks are cached by the first execution,
    * so every later execution of the same plan skips the work behind
    * it. */
  def readsLocalCheckpoint(plan: LogicalPlan): Boolean =
    plan.collectWithSubqueries {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.checkpointData
    }.exists(_.exists(_.isInstanceOf[org.apache.spark.rdd.LocalRDDCheckpointData[_]]))

  /** BATCH execution of `transformWithState` loads per-partition state
    * stores, and store loading asks the driver for its
    * StateStoreCoordinator RPC endpoint — which is otherwise created
    * lazily when the first STREAMING query starts. Touch it so a
    * batch-mode stateful processor doesn't die with
    * RpcEndpointNotFoundException in a session that never streamed. */
  def ensureStateStoreCoordinator(spark: SparkSession): Unit =
    spark.asInstanceOf[ClassicSparkSession].streams.stateStoreCoordinator

  /** Column ↔ catalyst Expression converters, for the few engine
    * helpers built directly on catalyst nodes Spark exposes no DSL for
    * (e.g. [[org.apache.spark.sql.catalyst.expressions.UnscaledValue]]
    * behind graft's limb-based decimal sums). */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)
  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** Function-registry builder of a named scalar UDF: a `ScalaUDF` over
    * the call's arguments, with the arity check Spark's own UDF
    * registration applies (WRONG_NUM_ARGS at analysis). */
  def scalaUdf(f: UserDefinedFunction): Seq[Expression] => ScalaUDF = {
    val u = f.asInstanceOf[SparkUserDefinedFunction]
    val arity = u.inputEncoders.size
    children =>
      if (children.length == arity)
        org.apache.spark.sql.classic.UserDefinedFunctionUtils.toScalaUDF(u, children)
      else throw org.apache.spark.sql.errors.QueryCompilationErrors
        .wrongNumArgsError(u.name, Seq(arity), children.length)
  }
}

package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.StructType

/** Minimal private[sql] bridge (the standard technique Spark-ecosystem
  * libraries use to build DataFrames from custom logical plans — the
  * constructor surface is package-private by design). Only `ofRows` is
  * exposed; no other internals leak. */
object GraftBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A DataFrame over pre-encoded InternalRows — the V1 streaming
    * source/sink boundary (the Kafka-source idiom): a streaming `getBatch`
    * must return an isStreaming plan, and a V1 `Sink.addBatch` must pin
    * the engine's incremental-execution rows before re-planning them
    * through batch writes. Rows must already match `schema`'s layout. */
  def internalCreateDataFrame(spark: SparkSession, rdd: RDD[InternalRow],
      schema: StructType, isStreaming: Boolean): DataFrame =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming)

  /** Blocks until every listener event posted so far has been delivered,
    * so a listener's counts are complete when they are read. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** `st` with every field, array element and map value nullable — the
    * schema a file-source read reports whatever the writer declared. */
  def asNullable(st: StructType): StructType = st.asNullable

  /** A Column over a Catalyst expression — the public-API boundary the
    * row-level SQL translation crosses (statement expressions, with
    * attribute references rewritten to unresolved names, re-resolve
    * against the library verbs' own DataFrames). */
  def columnOf(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  /** The physical plan a FRESH QueryExecution over `df`'s logical plan
    * would run — what a `df.write...` action actually executes (writes
    * wrap the logical plan in a new command and re-run the optimizer;
    * `df.queryExecution` is the cached execution only `df`'s own actions
    * use). Test-probe for conf-scoped optimizer rules: a rewrite that is
    * only pinned in the cached execution, not in the logical plan, shows
    * up here un-rewritten. */
  def freshExecutedPlan(df: DataFrame): String = {
    val cs = df.sparkSession.asInstanceOf[classic.SparkSession]
    cs.sessionState.executePlan(df.queryExecution.logical).executedPlan.toString
  }
}

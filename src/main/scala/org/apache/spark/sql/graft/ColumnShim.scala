package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge between the public Column API and catalyst Expressions.
  *
  * Spark 4 backs `Column` with connect-compatible `ColumnNode`s; the
  * conversion helpers live in `org.apache.spark.sql.classic` and are
  * `private[sql]`, so this one-file shim sits inside the sql package
  * namespace to re-export them to the engine (the standard technique
  * for libraries shipping native expressions).
  */
object ColumnShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Build a DataFrame from a catalyst LogicalPlan (classic.Dataset
    * .ofRows is private[sql]). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The analyzed logical plan behind a DataFrame. */
  def logicalPlan(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed

  /** Apply a SparkSessionExtensions' injected functions to a registry —
    * lets specs unit-test extension wiring without building a session
    * (`registerFunctions` is private[sql]). */
  def registerFunctions(ext: org.apache.spark.sql.SparkSessionExtensions,
      registry: org.apache.spark.sql.catalyst.analysis.FunctionRegistry)
      : org.apache.spark.sql.catalyst.analysis.FunctionRegistry =
    ext.registerFunctions(registry)

  /** The optimizer rules a SparkSessionExtensions injects, built for
    * `spark` — lets specs install them on the shared session through
    * `spark.experimental` (`buildOptimizerRules` is private[sql]). */
  def optimizerRules(ext: org.apache.spark.sql.SparkSessionExtensions,
      spark: org.apache.spark.sql.SparkSession)
      : Seq[org.apache.spark.sql.catalyst.rules.Rule[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]] =
    ext.buildOptimizerRules(spark)

  /** DataFrame over an InternalRow RDD, optionally flagged streaming —
    * what a V1 streaming `Source.getBatch` must return
    * (`internalCreateDataFrame` is private[sql]). */
  def internalCreateDataFrame(spark: org.apache.spark.sql.SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType,
      isStreaming: Boolean): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming)
}

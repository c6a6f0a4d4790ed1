package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.StructType

/** Bridge to the `private[sql]` Column↔Expression converters — the
  * one sanctioned way for a library shipping custom Catalyst
  * expressions to lift them into the public Column API on Spark 4.
  * Graft's typed builders (`VectorOps.dot`, `TextOps.words`, …) build
  * every native expression through it, so no kernel resolves one by
  * its SQL name.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Re-wrap an InternalRow RDD (e.g. a persisted `toRdd`) as a
    * DataFrame — `SparkSession.internalCreateDataFrame` is
    * private[sql]; this forwarder lets graft.ops.Reuse cache shared
    * subplans at the UnsafeRow layer (no columnar re-encode) while
    * keeping lineage, which Dataset-level persist/localCheckpoint
    * can't offer together.
    */
  def internalCreateDataFrame(
      spark: SparkSession, rdd: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /** The physical InternalRow RDD of a DataFrame. */
  def toRdd(df: DataFrame): RDD[InternalRow] =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.toRdd
}

/** Bridge to the `private[sql]` plan-level constructors — what a
  * library shipping a CUSTOM WHOLE-OPERATOR (logical node + strategy +
  * physical exec, SURVEY §7.3 ladder step (c)) needs to lift its node
  * into the public DataFrame API on Spark 4. The strategy and rules
  * that plan the node are not installed here: `graft.GraftExtensions`
  * injects them at session build.
  */
object GraftPlanBridge {
  import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

  /** The ANALYZED logical plan of a DataFrame (stable attribute ids —
    * the form custom nodes must be built from). */
  def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  /** Wrap a logical plan (containing custom nodes) back into a
    * DataFrame; runs the analyzer, which leaves an already-resolved
    * custom node untouched. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}

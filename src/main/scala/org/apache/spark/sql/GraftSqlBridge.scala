package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge to the `private[sql]` Column ↔ Expression converters —
  * the standard pattern for libraries that ship custom Catalyst
  * expressions against classic Spark (the public sql-api Column carries
  * a ColumnNode, not an Expression).
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Register a temp SQL function on a live session. */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** Truncate a DataFrame's logical plan to a leaf over its own
    * execution RDD — `Dataset.checkpoint`'s plan surgery
    * (`LogicalRDD.fromDataset`) without the checkpoint itself.
    *
    * Call this on a frame that has just been `persist()`ed (core.Pin's
    * Large frames, llm/'s iteration caches) and is then re-derived by
    * MANY downstream jobs: each then plans a one-leaf tree instead of
    * re-analyzing the full upstream lineage — on the composed inference
    * chains that lineage is the entire kernel/stacking pipeline. Fault
    * tolerance is unchanged: the wrapped RDD still recomputes through the
    * (cached) plan on executor loss. The trade is that downstream column
    * pruning stops at this boundary, so only flatten frames whose full
    * width the consumers actually read. The Small-size probe
    * (core.Windows.smallRows) reads through it too, to keep its limit out. */
  def flattenPlan(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val plan = org.apache.spark.sql.execution.LogicalRDD.fromDataset(
      ds.queryExecution.toRdd, ds, isStreaming = false)
    classic.Dataset.ofRows(ds.sparkSession, plan)
  }
}

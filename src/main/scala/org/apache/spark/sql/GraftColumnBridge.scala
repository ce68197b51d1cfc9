package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the `private[sql]` Column <-> Expression converters so graft
  * can build Columns from its custom Catalyst expressions. This is the
  * standard pattern for Spark-native libraries that add expressions without
  * forking Spark (the converters are stable across the 4.x classic API).
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** DataFrame over a BaseRelation (e.g. a HadoopFsRelation wearing a
    * custom FileIndex) — `Dataset.ofRows` + `LogicalRelation` are
    * private[sql], so the wrap lives in this bridge. */
  def ofRelation(
      spark: SparkSession,
      relation: org.apache.spark.sql.sources.BaseRelation): DataFrame =
    classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession],
      execution.datasources.LogicalRelation(relation, isStreaming = false))

  /** `s` with every field, nested ones included, nullable — the schema
    * `spark.read.parquet` reports for files that declare required columns
    * (`StructType.asNullable` is private[spark]). */
  def nullable(s: types.StructType): types.StructType = s.asNullable

  /** Formatted plan text of a DataFrame without executing it —
    * `queryExecution`/`ExplainMode` live behind the classic API. */
  def explainString(df: DataFrame, mode: String = "formatted"): String =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution
      .explainString(execution.ExplainMode.fromString(mode))

  /** Checkpoint directory of a reliably-checkpointed DataFrame — the
    * `LogicalRDD` that `Dataset.checkpoint` returns wraps the
    * checkpointed RDD, whose `getCheckpointFile` is the on-storage
    * `rdd-N` path. None for non-checkpoint frames and local
    * checkpoints (block-backed, no files to clean). */
  def checkpointFile(df: DataFrame): Option[String] =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed match {
      case r: execution.LogicalRDD => r.rdd.getCheckpointFile
      case _ => None
    }

  /** Run `body` on `exec` with the calling thread's Spark local
    * properties (job group, scheduler pool, job tags) and `spark` as the
    * active session — `SQLExecution.withThreadLocalCaptured` wants the
    * classic session type. */
  def withThreadLocalCaptured[T](spark: SparkSession,
      exec: java.util.concurrent.ExecutorService)(body: => T)
      : java.util.concurrent.CompletableFuture[T] =
    execution.SQLExecution.withThreadLocalCaptured(
      spark.asInstanceOf[classic.SparkSession], exec)(body)

  /** Register a function into an ALREADY-RUNNING session's registry
    * (SparkSessionExtensions only apply to sessions built after
    * withExtensions; this covers the getOrCreate-reuse case). */
  def registerFunction(
      spark: SparkSession,
      name: String,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.registerFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier(name), info, builder)
}

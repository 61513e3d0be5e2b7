package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.LogicalRDD

/** Bridge into `private[sql]` plumbing for graft's native Catalyst
  * expressions — the standard pattern for third-party Spark extension
  * libraries (a Column cannot be built from an Expression through public
  * API in Spark 4's unified Column).
  */
object GraftBridge {
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)

  def toExpression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Register an expression builder so it is callable from SQL text. */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** Apply the function injections collected in `ext` to a live session's
    * registry — lets a test prove a SparkSessionExtensions entry point
    * (normally applied only at session construction from
    * `spark.sql.extensions`) registers what it claims, without tearing
    * down the shared test session. `registerFunctions` is private[sql].
    */
  def applyInjectedFunctions(ext: SparkSessionExtensions, spark: SparkSession): Unit =
    ext.registerFunctions(spark.sessionState.functionRegistry)

  /** Materialize `df` once and root the rows on `target`: one job
    * local-checkpoints the rows and counts them, all of them and those
    * for which the boolean `flag` holds, and the returned frame (`df`'s
    * columns) belongs to `target`, not to the session `df` was planned
    * on. A streamed micro-batch arrives on the stream's own cloned
    * session, whose code-generation cache entries do not carry over to
    * the next stream; every plan built on the re-rooted rows compiles
    * against the caller's long-lived session instead, and hits its cache.
    */
  def checkpointOn(target: SparkSession, df: DataFrame,
      flag: Column): (DataFrame, Long, Long) = {
    val f = df.columns.length
    val lc = df.select(functions.col("*"), flag.as("__graft_flag"))
      .localCheckpoint(eager = false).asInstanceOf[classic.Dataset[Row]]
    val rdd = lc.logicalPlan.asInstanceOf[LogicalRDD]
    val (n, nFlagged) = rdd.rdd.aggregate((0L, 0L))(
      (a, r) => (a._1 + 1, if (!r.isNullAt(f) && r.getBoolean(f)) a._2 + 1 else a._2),
      (a, b) => (a._1 + b._1, a._2 + b._2))
    val session = target.asInstanceOf[classic.SparkSession]
    (classic.Dataset.ofRows(session,
        rdd.copy()(session, Some(rdd.computeStats()), Some(rdd.constraints)))
      .drop("__graft_flag"), n, nFlagged)
  }

  /** [[checkpointOn]] without a flag: the re-rooted rows and their count. */
  def checkpointOn(target: SparkSession, df: DataFrame): (DataFrame, Long) = {
    val (rows, n, _) = checkpointOn(target, df, functions.lit(false))
    (rows, n)
  }
}

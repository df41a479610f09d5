package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 made Column ↔ Expression conversion `private[sql]`
  * (org.apache.spark.sql.classic.ExpressionUtils). This shim, living in
  * an org.apache.spark.sql subpackage, re-exposes the two conversions we
  * need to register custom Catalyst expressions as Columns. Public API
  * only in spirit — same pattern used by every Spark extension library.
  */
object ColumnShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Fresh execution of an already-analyzed logical plan: same
    * expression ids → identical generated code (janino cache hit, warm
    * JIT), but a brand-new QueryExecution → no AQE shuffle reuse.
    * Benchmarking helper.
    */
  def reExecute(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    ofRows(df.sparkSession, df.queryExecution.logical)

  /** The rows of `df` as the executors return them (UnsafeRows, never
    * converted to external `Row`s), run as one SQL execution like
    * `collect`.
    */
  def collectInternal(df: org.apache.spark.sql.DataFrame)
      : Array[org.apache.spark.sql.catalyst.InternalRow] = {
    val qe = df.queryExecution
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe)(
      qe.executedPlan.executeCollect())
  }

  /** DataFrame over a logical plan (`Dataset.ofRows` is `private[sql]`). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}

package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Bridge into `private[sql]` Column <-> Expression conversions (Spark 4
  * moved Column onto ColumnNode; extensions that define native Catalyst
  * expressions need this two-liner) and into the `LogicalRDD` leaf that
  * operator materializations read. Standard pattern for Spark extension
  * libraries; nothing else in the engine lives outside the graft package.
  */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Full ColumnNode -> Expression conversion (vs [[expression]]'s opaque
    * wrapper): required when a functions-API Column tree must become a real
    * (analyzer-resolvable) expression — e.g. FunctionRegistry builders that
    * expand to built-in compositions.
    */
  def catalystExpression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** The rows of `df`'s executed (AQE final) plan persisted MEMORY_AND_DISK,
    * and a frame over them: a `LogicalRDD` leaf that carries the executed
    * plan's output partitioning and ordering and the optimized plan's
    * statistics — `Dataset.localCheckpoint` without the truncated lineage.
    * Building the RDD runs the plan's shuffle stages; its final stage runs
    * at the first action on the returned frame.
    */
  def materialize(df: DataFrame): (DataFrame, RDD[InternalRow]) = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val rdd = ds.queryExecution.toRdd.map(_.copy()).persist(StorageLevel.MEMORY_AND_DISK)
    (classic.Dataset.ofRows(ds.sparkSession,
      LogicalRDD.fromDataset(rdd, ds, isStreaming = false)), rdd)
  }
}

package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Bridge into `private[sql]` Spark internals. `column`/`expression` are
  * the Column <-> Expression wrappers that let the native
  * [[graft.functions.HammingDistance]] expression stand in a Column (Spark 4
  * moved Column onto ColumnNode). `materialize` builds the `LogicalRDD` leaf
  * that operator materializations read. Nothing else in the engine lives
  * outside the graft package.
  */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

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

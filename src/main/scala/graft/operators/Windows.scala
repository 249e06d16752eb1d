package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Dataset-native windowed feature operators (SURVEY.md §2.5, graft-added
  * row): gap-based sessionization and per-group top-k — leakage-safe by
  * construction (frames end at the current row; nothing reads the future).
  *
  * Every operator shares one window layout (PARTITION BY entity ORDER BY
  * time, tie), so chained calls reuse a single shuffle+sort.
  */
object Windows {

  def entityWindow(entity: String, time: String, tie: Seq[String] = Nil): WindowSpec =
    Window.partitionBy(col(entity)).orderBy((Seq(time) ++ tie).map(col): _*)

  /** The fixed-width time-bucket layout of the skew-safe operators
    * ([[AsOf.joinSkewSafe]], `FeaturePipeline.featuresSkewSafe`): the int
    * bucket `(t - lo) div span` of a time column, [lo, hi] in `buckets`
    * buckets — an exact long division, truncating toward zero, so a time
    * just below a caller's `lo` shares bucket 0; the bucket stays monotone
    * in time, which is all the carry needs. `bounds` is the caller's known
    * time range (at 100 TB the partition metadata has it); else ONE
    * min/max over `times`, a single long column, where empty input gives
    * (0, 0) (any bounds work then).
    */
  def timeBuckets(times: => DataFrame, bounds: Option[(Long, Long)],
      buckets: Int): Column => Column = {
    require(buckets > 0, s"timeBuckets=$buckets must be positive")
    val (lo, hi) = bounds.getOrElse {
      val t = col(times.columns.head)
      val b = times.agg(min(t), max(t)).head()
      if (b.isNullAt(0)) (0L, 0L) else (b.getLong(0), b.getLong(1))
    }
    val span = math.max(1L, (hi - lo) / buckets + 1L)
    t => call_function("div", t.cast("long") - lit(lo), lit(span)).cast("int")
  }

  /** Gap-based sessionization: a new session starts when the gap since the
    * previous event exceeds `gapMs`. session_idx is a running sum of
    * new-session indicators; 0-based per entity. Works on long-millis time.
    */
  def sessionize(df: DataFrame, entity: String, timeMs: String, gapMs: Long,
      tie: Seq[String] = Nil): DataFrame = {
    val w = entityWindow(entity, timeMs, tie)
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__gap", col(timeMs) - lag(col(timeMs), 1).over(w))
      .withColumn("__new", when(col("__gap").isNull || col("__gap") > gapMs, 1L).otherwise(0L))
      .withColumn("session_idx", sum(col("__new")).over(wRun) - 1L)
      .withColumn("session_id", concat_ws("#", col(entity), col("session_idx")))
      .drop("__gap", "__new")
  }

  /** Top-k rows per group by `order` descending (reference W1/W2: ranked
    * feature selection, `train_functions.R:16,56-59`). Deterministic via tie
    * columns. Partial aggregation note: row_number over (group) is the
    * standard Spark top-k; for very large groups prefer groupBy + a bounded
    * heap Aggregator — at feature-table cardinalities the window is optimal.
    */
  def topKPerGroup(df: DataFrame, group: Seq[String], order: String, k: Int,
      tie: Seq[String] = Nil, asc: Boolean = false): DataFrame = {
    val ord = (if (asc) col(order).asc else col(order).desc) +: tie.map(col(_).asc)
    val w = Window.partitionBy(group.map(col): _*).orderBy(ord: _*)
    df.withColumn("__rn", row_number().over(w)).where(col("__rn") <= k)
      .withColumnRenamed("__rn", "rank_in_group")
  }
}

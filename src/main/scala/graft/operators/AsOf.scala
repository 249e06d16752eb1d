package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** Point-in-time (as-of) join.
  *
  * Semantics generalized from the reference's key-aligned "value in effect
  * for this entity" pattern (`helper/summarizeData.R:56-69`, SURVEY.md §2.3
  * J8): for each probe row (entity, t) attach the most recent event row of
  * the same entity with event_time <= t, or nulls if none exists (left
  * as-of).
  *
  * Physical formulation (SURVEY.md §7.2 decision): the union-tag window
  * technique — tag probes/events, union, and take
  * `last(struct(event cols), ignoreNulls) OVER (PARTITION BY entity
  * ORDER BY t, side, tie ROWS UNBOUNDED PRECEDING)`. Both forms run this one
  * window: [[join]] partitions it by entity, [[joinSkewSafe]] by (entity,
  * time bucket) and adds the carry from earlier buckets.
  *
  * Why this beats a custom merge exec at scale:
  *  - exactly ONE shuffle (hash on entity) and ONE sort per side-union —
  *    the same lower bound a sort-merge as-of has;
  *  - stays entirely inside whole-stage codegen (WindowExec's frame here is
  *    the running-aggregate fast path) and spills via SortExec;
  *  - AQE skew handling and adaptive partition coalescing still apply.
  * If the inputs are already hash-partitioned by entity and sorted by
  * (entity, t) — e.g. `repartition(col(entity)).sortWithinPartitions(entity,
  * t)` upstream — Catalyst's EnsureRequirements inserts no extra exchange
  * and no extra sort.
  *
  * Tie rules:
  *  - an event at exactly t IS visible to a probe at t (<=, zero leakage of
  *    strictly-future events only);
  *  - among events with equal (entity, t), the one with the greatest tie
  *    column wins (deterministic; pass a unique sequence column).
  */
object AsOf {

  /** Events in the union-tag layout: the partition `keys`, the time key
    * `__t` (the event time cast to `timeType`, the probe time's type),
    * `__side` 0, `__tie`, and `__ev`, the one event struct: `asof_time`
    * (the event time in its own type), then `asof_<c>` per attach column
    * (`attach`, or by default every event column but the key and the time).
    * An event whose time is null is dropped: it is at no point in time, so
    * it attaches to no probe, and a null-time probe, which sorts first,
    * matches nothing (DuckDB's `ASOF LEFT JOIN` semantics). So is an event
    * whose entity is null: `ON p.entity = e.entity` holds for no null, so a
    * null-entity probe matches nothing either, though the window groups the
    * nulls of its partition keys together.
    */
  private def tagEvents(events: DataFrame, keys: Seq[Column], entity: String,
      eventTime: String, timeType: DataType, attach: Seq[String],
      tie: Option[String]): DataFrame = {
    val attachCols =
      if (attach.nonEmpty) attach
      else events.columns.filter(c => c != entity && c != eventTime).toSeq
    events.where(col(eventTime).isNotNull && col(entity).isNotNull)
      .select((keys ++ Seq(col(eventTime).cast(timeType).as("__t"), lit(0).as("__side"),
        tie.map(col).getOrElse(lit(0L)).cast("long").as("__tie"),
        struct((col(eventTime).as("asof_time") +:
          attachCols.map(c => col(c).as("asof_" + c))): _*).as("__ev"))): _*)
  }

  /** The one union-tag window of both forms: the [[tagEvents]] and the
    * probes (`__side` 1), unioned; within the partition `keys`, ordered by
    * (`__t`, `__side`, `__tie`). Each probe row keeps its columns and gets
    * `__match`, the latest event struct at or before it in that order, or
    * null.
    */
  private def matchWindow(probes: DataFrame, tagged: DataFrame, keys: Seq[String],
      probeTime: String): DataFrame = {
    val probesU = probes.select((keys.map(col) ++ Seq(col(probeTime).as("__t"),
      lit(1).as("__side"), lit(Long.MaxValue).as("__tie")) ++
      probes.columns.toSeq.filterNot(keys.contains).map(col)): _*)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__t"), col("__side"), col("__tie"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged.unionByName(probesU, allowMissingColumns = true)
      .withColumn("__match", last(col("__ev"), ignoreNulls = true).over(w))
      .where(col("__side") === 1)
  }

  /** Skew-safe left as-of join for HOT entities.
    *
    * [[join]] partitions the window by entity, so one hot entity (Zipf head
    * of image_id prefixes) serializes into a single task at 10^12 rows. This
    * variant splits every entity's timeline into `timeBuckets` fixed-width
    * time ranges, so the per-partition key becomes (entity, bucket) — the
    * hot entity's work spreads across `timeBuckets` tasks — and repairs the
    * cross-bucket dependency with a tiny per-(entity, bucket) summary table:
    *
    *  1. bucket = floor((t - tmin) / span), identical for both sides (the
    *     [[Windows.timeBuckets]] layout `featuresSkewSafe` shares), over the
    *     times cast to long — the only long in the operator; a bucket is
    *     monotone in time, so an event in an earlier bucket than a probe's
    *     is strictly earlier than the probe;
    *  2. within each (entity, bucket): [[join]]'s union-tag window finds the
    *     latest event <= t *inside the probe's bucket*, at the time's full
    *     precision;
    *  3. a per-(entity, bucket) "latest event" summary (|entities|·B rows,
    *     tiny) is prefix-scanned per entity so each probe bucket knows the
    *     latest event of ALL earlier buckets;
    *  4. result = within-bucket match, else the carried prefix match.
    *
    * Semantically identical to [[join]], schema included (asserted in
    * AsOfSkewSpec): a null time or a null entity matches nothing in both.
    */
  def joinSkewSafe(
      probes: DataFrame,
      events: DataFrame,
      entity: String,
      probeTime: String,
      eventTime: String,
      attach: Seq[String] = Nil,
      tie: Option[String] = None,
      timeBuckets: Int = 32,
      timeBounds: Option[(Long, Long)] = None): DataFrame = {
    val bucketOf = Windows.timeBuckets(
      probes.select(col(probeTime).cast("long").as("t"))
        .unionByName(events.select(col(eventTime).cast("long").as("t"))),
      timeBounds, timeBuckets)
    val keys = Seq(entity, "__bkt")
    val probesB = probes.withColumn("__bkt", bucketOf(col(probeTime)))
    val tagged = tagEvents(events, Seq(col(entity), bucketOf(col(eventTime)).as("__bkt")),
      entity, eventTime, probes.schema(probeTime).dataType, attach, tie)

    // per-(entity, bucket) latest event in the window's (__t, __tie) order —
    // |entities|·B rows, tiny
    val summary = tagged.groupBy(keys.map(col): _*)
      .agg(max_by(col("__ev"), struct(col("__t"), col("__tie"))).as("__c"))

    // for a probe in bucket k: the latest event of all buckets < k = the
    // last summary row over a RANGE frame ending at bucket value k-1 (range,
    // not rows, so probe buckets with no summary row still see the carry)
    val probeCarry = summary.withColumn("__side", lit(0))
      .unionByName(probesB.select(keys.map(col): _*).distinct()
        .withColumn("__side", lit(1)), allowMissingColumns = true)
      .withColumn("__carriedIn", last(col("__c"), ignoreNulls = true).over(
        Window.partitionBy(col(entity)).orderBy(col("__bkt"))
          .rangeBetween(Window.unboundedPreceding, -1)))
      .where(col("__side") === 1)
      .select(col(entity), col("__bkt"), col("__carriedIn"))

    matchWindow(probesB, tagged, keys, probeTime)
      .join(probeCarry, keys, "left")
      .withColumn("__match", coalesce(col("__match"), col("__carriedIn")))
      .select(probes.columns.map(col) :+ col("__match.*"): _*)
  }

  /** Left as-of join: the union-tag window partitioned by entity alone,
    * with no bucket and no carry.
    *
    * @param probes   left side; one output row per probe row
    * @param events   right side; columns in `attach` are carried over as
    *                 `asof_<c>`, the event time as `asof_time`
    * @param entity   equality key column name (present on both sides)
    * @param probeTime probe-side time column (long or timestamp)
    * @param eventTime event-side time column (same type as probeTime)
    * @param attach   event-side columns to attach (default: all non-key)
    * @param tie      event-side tie-break column (greatest wins at equal t)
    */
  def join(
      probes: DataFrame,
      events: DataFrame,
      entity: String,
      probeTime: String,
      eventTime: String,
      attach: Seq[String] = Nil,
      tie: Option[String] = None): DataFrame =
    matchWindow(probes, tagEvents(events, Seq(col(entity)), entity, eventTime,
        probes.schema(probeTime).dataType, attach, tie), Seq(entity), probeTime)
      .select(probes.columns.map(col) :+ col("__match.*"): _*)
}

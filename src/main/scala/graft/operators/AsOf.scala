package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

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
  * ORDER BY t, side, tie ROWS UNBOUNDED PRECEDING)`.
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

  /** `attach`, or by default every event column but the key and the time. */
  private def attachColumns(events: DataFrame, entity: String, eventTime: String,
      attach: Seq[String]): Seq[String] =
    if (attach.nonEmpty) attach
    else events.columns.filter(c => c != entity && c != eventTime).toSeq

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
    *     [[Windows.timeBuckets]] layout `featuresSkewSafe` shares);
    *  2. within each (entity, bucket): the normal union-tag window finds the
    *     latest event <= t *inside the probe's bucket*;
    *  3. a per-(entity, bucket) "latest event" summary (|entities|·B rows,
    *     tiny) is prefix-scanned per entity so each probe bucket knows the
    *     latest event of ALL earlier buckets;
    *  4. result = within-bucket match, else the carried prefix match.
    *
    * Semantically identical to [[join]] (asserted in AsOfSpec).
    */
  def joinSkewSafe(
      probes: DataFrame,
      events: DataFrame,
      entity: String,
      probeTime: String,
      eventTime: String,
      attach: Seq[String] = Nil,
      tie: Option[String] = None,
      prefix: String = "asof_",
      timeBuckets: Int = 32,
      timeBounds: Option[(Long, Long)] = None): DataFrame = {
    val attachCols = attachColumns(events, entity, eventTime, attach)

    val bucketOf = Windows.timeBuckets(
      probes.select(col(probeTime).cast("long").as("t"))
        .unionByName(events.select(col(eventTime).cast("long").as("t"))),
      timeBounds, timeBuckets)

    val tieCol = tie.map(col).getOrElse(lit(0L)).cast("long")
    // __origt keeps the event time in its ORIGINAL type (the long __t is for
    // ordering/bucketing only) so the output schema and values are identical
    // to [[join]]'s on timestamp-typed inputs
    val evStruct = struct(
      (col(eventTime).cast("long").as("__t") +: tieCol.as("__tie") +:
        col(eventTime).as("__origt") +:
        attachCols.map(c => col(c).as(prefix + c))): _*)
    val ev = events.select(col(entity), bucketOf(col(eventTime)).as("__bkt"),
      evStruct.as("__ev"))

    // per-(entity, bucket) latest event — |entities|·B rows, tiny.
    // max(struct) orders by (__t, __tie, ...) lexicographically = our tie rule
    val summary = ev.groupBy(col(entity), col("__bkt")).agg(max(col("__ev")).as("__last"))

    // for a probe in bucket k: latest event across all buckets < k = max of
    // summary.__last over a RANGE frame ending at bucket value k-1 (range,
    // not rows, so probe buckets with no summary row still see the carry)
    val probeBuckets = probes.select(col(entity), bucketOf(col(probeTime)).as("__bkt"))
      .distinct()
    val sumU = summary.select(col(entity), col("__bkt"), lit(0).as("__side"),
      col("__last").as("__c"))
    val prbU = probeBuckets.select(col(entity), col("__bkt"), lit(1).as("__side"),
      lit(null).cast(summary.schema("__last").dataType).as("__c"))
    val probeCarry = sumU.unionByName(prbU)
      .withColumn("__carriedIn", max(col("__c")).over(
        Window.partitionBy(col(entity)).orderBy(col("__bkt"))
          .rangeBetween(Window.unboundedPreceding, -1)))
      .where(col("__side") === 1)
      .select(col(entity), col("__bkt"), col("__carriedIn"))

    // within-bucket as-of via the standard union-tag window on (entity, bkt)
    val probeCols = probes.columns.toSeq
    val evU = ev.select(
      (Seq(col(entity), col("__bkt"), col("__ev")("__t").as("__t"),
        lit(0).as("__side"), col("__ev")("__tie").as("__tie"), col("__ev").as("__evs")) ++
        probeCols.filter(_ != entity).map(c =>
          lit(null).cast(probes.schema(c).dataType).as(c))): _*)
    val prU = probes.select(
      (Seq(col(entity), bucketOf(col(probeTime)).as("__bkt"),
        col(probeTime).cast("long").as("__t"), lit(1).as("__side"),
        lit(Long.MaxValue).as("__tie"), lit(null).cast(ev.schema("__ev").dataType).as("__evs")) ++
        probeCols.filter(_ != entity).map(col)): _*)
    val wIn = Window.partitionBy(col(entity), col("__bkt"))
      .orderBy(col("__t"), col("__side"), col("__tie"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val within = evU.unionByName(prU)
      .withColumn("__inMatch", last(col("__evs"), ignoreNulls = true).over(wIn))
      .where(col("__side") === 1)

    val joined = within.join(probeCarry, Seq(entity, "__bkt"), "left")
      .withColumn("__match", coalesce(col("__inMatch"), col("__carriedIn")))
    val out = probeCols.map(col) ++ Seq(
      col("__match")("__origt").as(prefix + "time")) ++
      attachCols.map(c => col("__match")(prefix + c).as(prefix + c))
    joined.select(out: _*)
  }

  /** Left as-of join.
    *
    * @param probes   left side; one output row per probe row
    * @param events   right side; columns in `attach` are carried over
    * @param entity   equality key column name (present on both sides)
    * @param probeTime probe-side time column (long or timestamp)
    * @param eventTime event-side time column (same type as probeTime)
    * @param attach   event-side columns to attach (default: all non-key)
    * @param tie      event-side tie-break column (greatest wins at equal t)
    * @param prefix   prefix for attached columns (avoids collisions)
    */
  def join(
      probes: DataFrame,
      events: DataFrame,
      entity: String,
      probeTime: String,
      eventTime: String,
      attach: Seq[String] = Nil,
      tie: Option[String] = None,
      prefix: String = "asof_"): DataFrame = {
    val attachCols = attachColumns(events, entity, eventTime, attach)
    val probeCols = probes.columns.toSeq

    // Unified schema: (entity, __t, __side, __tie, probe cols..., __ev struct)
    val evStruct = struct(
      (col(eventTime).as(prefix + "time") +: attachCols.map(c => col(c).as(prefix + c))): _*)
    val eventsU = events.select(
      (Seq(col(entity), col(eventTime).cast(probes.schema(probeTime).dataType).as("__t"),
        lit(0).as("__side"),
        tie.map(col).getOrElse(lit(0L)).cast("long").as("__tie"),
        evStruct.as("__ev")) ++
        probeCols.filter(_ != entity).map(c => lit(null).cast(probes.schema(c).dataType).as(c))): _*)
    val probesU = probes.select(
      (Seq(col(entity), col(probeTime).as("__t"), lit(1).as("__side"),
        lit(Long.MaxValue).as("__tie"), lit(null).cast(eventsU.schema("__ev").dataType).as("__ev")) ++
        probeCols.filter(_ != entity).map(col)): _*)

    val w = Window.partitionBy(col(entity))
      .orderBy(col("__t"), col("__side"), col("__tie"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    val joined = eventsU.unionByName(probesU)
      .withColumn("__match", last(col("__ev"), ignoreNulls = true).over(w))
      .where(col("__side") === 1)

    val out = probeCols.map(col) ++
      ((prefix + "time") +: attachCols.map(prefix + _)).map(n => col("__match." + n).as(n))
    joined.select(out: _*)
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** The Structured Streaming form of the point-in-time as-of attach.
  *
  * The reference is strictly batch (SURVEY.md §2.11) and the engine ingests
  * through [[graft.tables.SnapshotTable.commitDelta]]; this object holds the
  * one streaming operator a query runs (`corpus_stream_asof`): the
  * incremental twin of [[graft.operators.AsOf.join]], gated against the
  * same DuckDB `ASOF` oracle, and the driver that runs it over a bounded
  * source.
  */
object StreamOps {

  /** One unioned input row for the streaming as-of: events carry the payload,
    * probes carry only (entity, time). `t_ms` is the event-time in epoch ms
    * (the watermark column is the separate timestamp `ts`).
    */
  final case class AsOfIn(entity_id: String, t_ms: Long, seq: Long,
      phash: Long, caption: String, is_probe: Boolean, ts: java.sql.Timestamp)

  /** Per-entity state: events not yet collapsible, probes not yet final. */
  final case class AsOfBuf(events: List[(Long, Long, Long, String)],
      probes: List[Long])

  final case class AsOfOut(entity_id: String, probe_ms: Option[Long],
      asof_time: Option[Long], asof_seq: Option[Long],
      asof_phash: Option[Long], asof_caption: Option[String])

  /** Streaming point-in-time (as-of) attach — the incremental twin of
    * [[graft.operators.AsOf.join]], via `flatMapGroupsWithState`.
    *
    * Semantics (identical to the batch operator): for each probe (entity, t)
    * emit the latest event of that entity with event_time <= t (ties: max
    * seq), or nulls if none — zero temporal leakage by construction, since a
    * probe is only resolved once the event-time watermark has passed it (no
    * admissible event <= t can still arrive). A null time or a null entity
    * matches nothing, as in DuckDB's `ASOF`: null-time and null-entity
    * events are dropped before the stateful operator (so the null key's
    * group holds probes only), and a null-time probe bypasses it and is
    * emitted unmatched.
    *
    * Bounded state (the 10^12-rows property): per entity the buffer holds
    * only (a) probes still ahead of the watermark, (b) events ahead of the
    * watermark, and (c) ONE collapsed latest-event below the watermark —
    * everything older is provably unreachable by any future probe. An
    * event-time timeout re-fires the group when the watermark passes its
    * oldest pending probe, so resolution does not wait for new data on that
    * entity.
    */
  def asofAttach(events: DataFrame, probes: DataFrame,
      watermark: String): Dataset[AsOfOut] = {
    val s = events.sparkSession
    import s.implicits._
    val evIn = events.where(col("event_ms").isNotNull && col("entity_id").isNotNull)
      .withWatermark("event_time", watermark)
      .select(col("entity_id"), col("event_ms").as("t_ms"), col("seq"),
        col("phash"), col("caption"), lit(false).as("is_probe"),
        col("event_time").as("ts"))
    val prIn = probes.where(col("probe_ms").isNotNull)
      .withWatermark("probe_time", watermark)
      .select(col("entity_id"), col("probe_ms").as("t_ms"),
        lit(Long.MaxValue).as("seq"), lit(0L).as("phash"),
        lit(null).cast("string").as("caption"), lit(true).as("is_probe"),
        col("probe_time").as("ts"))
    val untimed = probes.where(col("probe_ms").isNull)
      .select(col("entity_id"), col("probe_ms"), lit(null).cast("long").as("asof_time"),
        lit(null).cast("long").as("asof_seq"), lit(null).cast("long").as("asof_phash"),
        lit(null).cast("string").as("asof_caption"))
      .as[AsOfOut]
    // the watermark-tagged `ts` column must reach the stateful operator's
    // input (projecting it away fails analysis), so AsOfIn carries it
    evIn.unionByName(prIn)
      .as[AsOfIn]
      .groupByKey(_.entity_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        resolveAsOf)
      .union(untimed)
  }

  private def resolveAsOf(entity: String, rows: Iterator[AsOfIn],
      state: GroupState[AsOfBuf]): Iterator[AsOfOut] = {
    val prev = state.getOption.getOrElse(AsOfBuf(Nil, Nil))
    var events = prev.events
    var probes = prev.probes
    rows.foreach { r =>
      if (r.is_probe) probes ::= r.t_ms
      else events ::= (r.t_ms, r.seq, r.phash, r.caption)
    }
    val wm = state.getCurrentWatermarkMs()
    // resolve probes the watermark has passed: no admissible event can arrive
    val (done, pending) = probes.partition(_ < wm)
    val out = done.sorted.map { t =>
      val m = events.filter(_._1 <= t) match {
        case Nil => None
        case es  => Some(es.maxBy(e => (e._1, e._2)))
      }
      AsOfOut(entity, Some(t), m.map(_._1), m.map(_._2), m.map(_._3), m.map(_._4))
    }
    // collapse events below the watermark to the single latest — any future
    // probe has t >= wm, so only the max of the old ones can ever match
    val (old, fresh) = events.partition(_._1 < wm)
    val collapsed = if (old.isEmpty) fresh else old.maxBy(e => (e._1, e._2)) :: fresh
    state.update(AsOfBuf(collapsed, pending))
    // re-fire when the watermark passes the oldest pending probe (must be
    // strictly beyond the current watermark or Spark rejects the timestamp)
    if (pending.nonEmpty)
      state.setTimeoutTimestamp(math.max(pending.min + 1, wm + 1))
    out.iterator
  }

  /** Drive a streaming query synchronously over a bounded source into an
    * in-memory table (Append mode: only watermark-resolved rows are emitted).
    */
  def runToMemory(df: DataFrame, name: String): StreamingQuery = {
    val q = df.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q
  }
}

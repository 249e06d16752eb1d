package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** Structured Streaming variants of the engine's windowed operators.
  *
  * The reference is strictly batch (SURVEY.md §2.11) and the graft's
  * resumability story is snapshot-based, but the engine also exposes the
  * streaming formulation for pipelines that want incremental ingestion:
  * the same event schema flows through `readStream` with watermarked
  * event-time windows and native session windows.
  */
object StreamOps {

  /** Watermarked tumbling-window aggregation over an event stream: count per
    * (window, key), plus the mean of `valueCol` when one is given (the
    * corpus event schema has no generic "value" column, so the mean is
    * opt-in rather than hardcoded).
    */
  def windowedCounts(events: DataFrame, tsCol: String, keyCol: String,
      windowDur: String = "1 hour", watermark: String = "2 hours",
      valueCol: Option[String] = None): DataFrame = {
    val aggs = count(lit(1)).as("n") +:
      valueCol.map(v => avg(col(v)).as("mean_v")).toSeq
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDur), col(keyCol))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Native session windows (gap-based), the streaming twin of
    * Windows.sessionize.
    */
  def sessionCounts(events: DataFrame, tsCol: String, keyCol: String,
      gap: String = "30 minutes", watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n"))

  /** Streaming exact dedup, the incremental twin of [[graft.operators.Dedup
    * .exact]]: keep the first occurrence per content key, where the state
    * store retains keys only within the watermark horizon (unbounded dedup
    * state is the classic streaming-pipeline OOM at 10^12 docs — late
    * re-occurrences beyond the horizon are the documented tradeoff, exactly
    * as in the batch engine's snapshot-incremental reprocessing).
    */
  def dedupExact(events: DataFrame, tsCol: String, textCol: String,
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .withColumn("__k", xxhash64(col(textCol)))
      .dropDuplicatesWithinWatermark("__k")
      .drop("__k")

  final case class NdIn(key: Long, id: Long, sig: Long, t_ms: Long,
      ts: java.sql.Timestamp)

  final case class NdBuf(entries: List[(Long, Long, Long)]) // (id, sig, t_ms)

  final case class NdPair(id_a: Long, id_b: Long, hamming: Int)

  /** Streaming NEAR-dup detection — the incremental twin of
    * [[graft.operators.Dedup.simhashFast]] signatures paired by
    * [[graft.operators.Dedup.hammingPairs]]: every document explodes into
    * its four 16-bit SimHash chunk keys (pigeonhole: hamming<=3 pairs agree
    * on at least one chunk); per chunk-bucket the state holds (id, sig, t)
    * of documents inside the watermark horizon, and each arriving document
    * emits a pair for every state member within `maxHamming`.
    *
    * Bounded state: entries older than the watermark prune on every
    * invocation (late-arriving near-dups beyond the horizon are the
    * documented tradeoff, as in [[dedupExact]]); a per-bucket cap keeps
    * degenerate sign patterns from accumulating (newest `maxBucket` kept —
    * at web scale a hot chunk means near-identical docs that exact dedup
    * should have removed upstream).
    *
    * Each pair emits ONCE, matching batch [[graft.operators.Dedup
    * .hammingPairs]]' per-pair-once contract without a second stateful
    * stage: both full signatures are in hand at emission time, so the set
    * of agreeing chunks is computable locally in every shared bucket, and
    * only the bucket of the LOWEST agreeing chunk emits. (Corner: if the
    * per-bucket `maxBucket` cap evicts the older doc from that lowest
    * bucket specifically, the pair is missed rather than emitted from a
    * surviving higher bucket — the cap marks a degenerate hot chunk that
    * upstream exact dedup should have prevented; within-cap behavior is
    * exact.)
    */
  def nearDupPairs(docs: DataFrame, idCol: String, textCol: String,
      tsCol: String, watermark: String,
      maxHamming: Int = 3, maxBucket: Int = 256): Dataset[NdPair] = {
    // the 4x16-bit pigeonhole guarantees recall only for hamming <= 3
    // (4 differing bits can touch all four chunks and share no bucket);
    // asking for more would silently return a subset
    require(maxHamming >= 0 && maxHamming <= 3,
      s"maxHamming=$maxHamming: the 4-chunk SimHash blocking is complete " +
        "only for hamming <= 3; use batch Dedup with more chunks for wider radii")
    val s = docs.sparkSession
    import s.implicits._
    val mh = maxHamming
    val cap = maxBucket
    docs
      .withWatermark(tsCol, watermark)
      .select(col(idCol).cast("long").as("id"),
        graft.operators.Dedup.simhashFast(col(textCol)).as("sig"),
        (unix_millis(col(tsCol))).as("t_ms"), col(tsCol).as("ts"))
      .select(col("id"), col("sig"), col("t_ms"), col("ts"),
        posexplode(array((0 until 4).map(c =>
          shiftright(col("sig"), c * 16).bitwiseAND(lit(0xffffL))): _*))
          .as(Seq("chunk", "bits")))
      .select((col("chunk").cast("long") * 65536L + col("bits")).as("key"),
        col("id"), col("sig"), col("t_ms"), col("ts"))
      .as[NdIn]
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[NdIn], state: GroupState[NdBuf]) =>
          val myChunk = (key >>> 16).toInt // key = chunk * 65536 + bits
          val wm = state.getCurrentWatermarkMs()
          var entries = state.getOption.map(_.entries).getOrElse(Nil)
            .filter(_._3 >= wm)
          val out = scala.collection.mutable.ArrayBuffer.empty[NdPair]
          rows.toSeq.sortBy(r => (r.t_ms, r.id)).foreach { r =>
            entries.foreach { case (oid, osig, _) =>
              if (oid != r.id) {
                val xor = osig ^ r.sig
                val h = java.lang.Long.bitCount(xor)
                // single emission: both sigs are local, so every shared
                // bucket computes the same lowest agreeing chunk — only
                // that bucket speaks for the pair
                if (h <= mh) {
                  var first = 0
                  while ((xor >>> (first * 16) & 0xffffL) != 0L) first += 1
                  if (first == myChunk)
                    out += NdPair(math.min(oid, r.id), math.max(oid, r.id), h)
                }
              }
            }
            entries = ((r.id, r.sig, r.t_ms) :: entries).take(cap)
          }
          state.update(NdBuf(entries))
          out.iterator
      }
  }

  /** One unioned input row for the streaming as-of: events carry the payload,
    * probes carry only (entity, time). `t_ms` is the event-time in epoch ms
    * (the watermark column is the separate timestamp `ts`).
    */
  final case class AsOfIn(entity_id: String, t_ms: Long, seq: Long,
      phash: Long, caption: String, is_probe: Boolean, ts: java.sql.Timestamp)

  /** Per-entity state: events not yet collapsible, probes not yet final. */
  final case class AsOfBuf(events: List[(Long, Long, Long, String)],
      probes: List[Long])

  final case class AsOfOut(entity_id: String, probe_ms: Long,
      asof_time: Option[Long], asof_seq: Option[Long],
      asof_phash: Option[Long], asof_caption: Option[String])

  /** Streaming point-in-time (as-of) attach — the incremental twin of
    * [[graft.operators.AsOf.join]], via `flatMapGroupsWithState`.
    *
    * Semantics (identical to the batch operator): for each probe (entity, t)
    * emit the latest event of that entity with event_time <= t (ties: max
    * seq), or nulls if none — zero temporal leakage by construction, since a
    * probe is only resolved once the event-time watermark has passed it (no
    * admissible event <= t can still arrive).
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
    val evIn = events
      .withWatermark("event_time", watermark)
      .select(col("entity_id"), col("event_ms").as("t_ms"), col("seq"),
        col("phash"), col("caption"), lit(false).as("is_probe"),
        col("event_time").as("ts"))
    val prIn = probes
      .withWatermark("probe_time", watermark)
      .select(col("entity_id"), col("probe_ms").as("t_ms"),
        lit(Long.MaxValue).as("seq"), lit(0L).as("phash"),
        lit(null).cast("string").as("caption"), lit(true).as("is_probe"),
        col("probe_time").as("ts"))
    // the watermark-tagged `ts` column must reach the stateful operator's
    // input (projecting it away fails analysis), so AsOfIn carries it
    evIn.unionByName(prIn)
      .as[AsOfIn]
      .groupByKey(_.entity_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        resolveAsOf)
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
      AsOfOut(entity, t, m.map(_._1), m.map(_._2), m.map(_._3), m.map(_._4))
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

  /** Ingest a stream into a [[graft.tables.SnapshotTable]]: every non-empty
    * micro-batch APPENDS via [[graft.tables.SnapshotTable.commitDelta]] —
    * only the batch itself is scanned, hashed and written (one new slice
    * per touched bucket); parent manifests fold arithmetically, so a
    * micro-batch costs O(batch), not O(history). The streaming batchId is
    * recorded in the snapshot manifest, which makes the commit idempotent
    * under foreachBatch's at-least-once contract: a crash after the
    * snapshot commit but before the streaming log records the batch makes
    * the restarted query re-deliver the SAME batchId, and commitDelta
    * skips it instead of appending the rows twice. Buckets whose slice
    * count passes `compactAfter` are compacted in the same call (fold-only
    * manifest math, data rewritten once per ~compactAfter appends).
    */
  def commitStream(events: DataFrame, root: String, entityCol: String,
      timeCol: String, checkpointDir: String, buckets: Int = 16,
      compactAfter: Int = 8, upsert: Boolean = false): StreamingQuery = {
    import graft.tables.SnapshotTable
    val q = events.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], bid: Long) =>
        // no isEmpty pre-check: that is a full extra pass over every
        // micro-batch, and both commit verbs already return early on an
        // empty batch from a scan they need anyway.
        // upsert = CDC-style ingestion: a re-delivered (entity, time) key
        // REPLACES the stored row instead of appending a duplicate; both
        // verbs are batchId-idempotent so at-least-once replay is safe
        if (upsert)
          SnapshotTable.commitUpsert(batch.toDF(), root, entityCol, timeCol,
            buckets, batchId = bid)
        else
          SnapshotTable.commitDelta(batch.toDF(), root, entityCol, timeCol,
            buckets, batchId = bid)
        if (SnapshotTable.currentId(root).isDefined)
          SnapshotTable.compact(batch.sparkSession, root,
            maxSlices = compactAfter): Unit
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q
  }

  /** Drive a streaming query synchronously into a parquet file sink with an
    * EXPLICIT checkpoint — the resumable path: a later call with the same
    * checkpoint+sink processes only source files not yet committed, and the
    * file-sink manifest gives exactly-once output across restarts (the
    * streaming twin of the snapshot table's kill/rerun contract).
    */
  def runToParquet(df: DataFrame, outDir: String, checkpointDir: String): Unit = {
    val q = df.writeStream.outputMode(OutputMode.Append())
      .format("parquet").option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  /** Drive a streaming query synchronously over a bounded source into an
    * in-memory table (test/bench harness path). Append mode only emits
    * watermark-closed windows (the last open session per key stays pending);
    * pass Complete for bounded-input comparisons against batch.
    */
  def runToMemory(df: DataFrame, name: String,
      mode: OutputMode = OutputMode.Append): StreamingQuery = {
    val q = df.writeStream.outputMode(mode)
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q
  }
}

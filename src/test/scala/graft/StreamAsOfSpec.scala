package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.Corpus
import graft.operators.AsOf
import graft.streaming.StreamOps

class StreamAsOfSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Drive a streaming query synchronously into a parquet file sink with an
    * explicit checkpoint: a later call with the same checkpoint and sink
    * processes only source files not yet committed, and the file sink's
    * manifest gives exactly-once output across restarts.
    */
  private def runToParquet(df: DataFrame, outDir: String, checkpointDir: String): Unit =
    df.writeStream.outputMode(OutputMode.Append)
      .format("parquet").option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow()).start()
      .awaitTermination()

  test("streaming as-of attach equals the batch as-of join on a bounded corpus") {
    val p = Corpus.Params(rows = 1200, entities = 8)
    val corpusEv = Corpus.events(spark, p)
      .select(col("entity_id"), col("event_ms"), col("seq"), col("phash"),
        col("caption"), col("event_time"))
    // plus a null-time and a null-entity event and probe: a null time or a
    // null entity matches nothing (the probe is emitted unmatched), as in
    // the batch join and DuckDB's ASOF LEFT JOIN on entity equality
    val first = corpusEv.head()
    val (e0, t0) = (first.getString(0), first.getLong(1))
    val ev = corpusEv.unionByName(Seq((e0, Option.empty[Long], -1L, 0L, "no time"),
        (null, Option(t0), -2L, 0L, "no entity"))
      .toDF("entity_id", "event_ms", "seq", "phash", "caption")
      .withColumn("event_time", timestamp_millis(col("event_ms"))))
    val pr = Corpus.probes(spark, p).unionByName(Seq((e0, Option.empty[Long]),
        (null, Option(t0)))
      .toDF("entity_id", "probe_ms")
      .withColumn("probe_time", timestamp_millis(col("probe_ms"))))

    // batch oracle: the proven as-of join over the same bounded data
    val batch = AsOf.join(pr,
        ev.select("entity_id", "event_ms", "seq", "phash", "caption"),
        "entity_id", "probe_ms", "event_ms", tie = Some("seq"))
      .select(col("entity_id"), col("probe_ms"), col("asof_time"),
        col("asof_seq"), col("asof_phash"), col("asof_caption"))
      .collect()
      .map(r => (r.getString(0), Option(r.get(1)).map(_.asInstanceOf[Long]),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.get(3)).map(_.asInstanceOf[Long]),
        Option(r.get(4)).map(_.asInstanceOf[Long]),
        Option(r.getString(5))))
      .toSet

    // bounded streams: a far-future sentinel row on EACH stream — the global
    // watermark is the MIN across all watermarked inputs, so both must
    // advance past every real probe for everything pending to resolve
    val evDir = java.nio.file.Files.createTempDirectory("graft-asof-ev").toString
    val prDir = java.nio.file.Files.createTempDirectory("graft-asof-pr").toString
    val maxTs = ev.agg(max(col("event_ms"))).head.getLong(0)
      .max(pr.agg(max(col("probe_ms"))).head.getLong(0))
    val sentinel = Seq(("zz_sentinel", maxTs + 86400000L, 0L, 0L, "s"))
      .toDF("entity_id", "event_ms", "seq", "phash", "caption")
      .withColumn("event_time", timestamp_millis(col("event_ms")))
    val sentinelProbe = Seq(("zz_sentinel", maxTs + 86400000L))
      .toDF("entity_id", "probe_ms")
      .withColumn("probe_time", timestamp_millis(col("probe_ms")))
    ev.unionByName(sentinel).coalesce(1).write.mode("overwrite").parquet(evDir)
    pr.unionByName(sentinelProbe).coalesce(1).write.mode("overwrite").parquet(prDir)

    val evStream = spark.readStream.schema(ev.schema).parquet(evDir)
    val prStream = spark.readStream.schema(pr.schema).parquet(prDir)
    StreamOps.runToMemory(
      StreamOps.asofAttach(evStream, prStream, watermark = "0 seconds").toDF(),
      "asof_out")
    val streamed = spark.table("asof_out")
      .where(col("entity_id").isNull || col("entity_id") =!= "zz_sentinel")
      .collect()
      .map(r => (r.getString(0), Option(r.get(1)).map(_.asInstanceOf[Long]),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.get(3)).map(_.asInstanceOf[Long]),
        Option(r.get(4)).map(_.asInstanceOf[Long]),
        Option(r.getString(5))))
      .toSet

    assert(streamed.nonEmpty, "streaming as-of emitted nothing")
    assert(batch.contains((e0, None, None, None, None, None)))
    assert(batch.contains((null, Some(t0), None, None, None, None)))
    assert(streamed == batch,
      s"stream-only=${(streamed -- batch).take(3)} batch-only=${(batch -- streamed).take(3)}")
  }

  test("as-of resumes from checkpoint across a stop/restart with exactly-once output") {
    val p = Corpus.Params(rows = 800, entities = 6)
    val ev = Corpus.events(spark, p)
      .select(col("entity_id"), col("event_ms"), col("seq"), col("phash"),
        col("caption"), col("event_time"))
    val pr = Corpus.probes(spark, p)
    val batch = AsOf.join(pr,
        ev.select("entity_id", "event_ms", "seq", "phash", "caption"),
        "entity_id", "probe_ms", "event_ms", tie = Some("seq"))
      .select(col("entity_id"), col("probe_ms"), col("asof_time"), col("asof_seq"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.get(3)).map(_.asInstanceOf[Long])))
      .toSet

    val evDir = java.nio.file.Files.createTempDirectory("graft-ckpt-ev").toString
    val prDir = java.nio.file.Files.createTempDirectory("graft-ckpt-pr").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-ckpt-out").toString
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-ckpt-cp").toString
    val midMs = ev.agg(expr("percentile_approx(event_ms, 0.5)")).head
      .get(0).toString.toDouble.toLong
    // phase 1: only the first half of the timeline is available
    ev.where(col("event_ms") <= midMs).coalesce(1)
      .write.mode("append").parquet(evDir)
    pr.where(col("probe_ms") <= midMs).coalesce(1)
      .write.mode("append").parquet(prDir)
    def runOnce(): Unit = runToParquet(
      StreamOps.asofAttach(
        spark.readStream.schema(ev.schema).parquet(evDir),
        spark.readStream.schema(pr.schema).parquet(prDir),
        watermark = "0 seconds").toDF(),
      outDir, ckptDir)
    runOnce() // query STOPS here (AvailableNow) — state lives in the checkpoint
    val afterPhase1 = scala.util.Try(spark.read.parquet(outDir).count()).getOrElse(0L)

    // phase 2: the rest + far-future sentinels arrive; a NEW query instance
    // resumes from the same checkpoint and must emit each probe exactly once
    val maxTs = pr.agg(max(col("probe_ms"))).head.getLong(0) + 86400000L
    ev.where(col("event_ms") > midMs)
      .unionByName(Seq(("zz_sentinel", maxTs, 0L, 0L, "s")).toDF(
        "entity_id", "event_ms", "seq", "phash", "caption")
        .withColumn("event_time", timestamp_millis(col("event_ms"))))
      .coalesce(1).write.mode("append").parquet(evDir)
    pr.where(col("probe_ms") > midMs)
      .unionByName(Seq(("zz_sentinel", maxTs)).toDF("entity_id", "probe_ms")
        .withColumn("probe_time", timestamp_millis(col("probe_ms"))))
      .coalesce(1).write.mode("append").parquet(prDir)
    runOnce()

    val streamed = spark.read.parquet(outDir)
      .where(col("entity_id").isNull || col("entity_id") =!= "zz_sentinel")
      .select(col("entity_id"), col("probe_ms"), col("asof_time"), col("asof_seq"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.get(3)).map(_.asInstanceOf[Long])))
    assert(streamed.length == streamed.toSet.size, "duplicate emissions across restart")
    assert(streamed.length > afterPhase1, "phase 2 emitted nothing new")
    assert(streamed.toSet == batch,
      s"stream-only=${(streamed.toSet -- batch).take(3)} batch-only=${(batch -- streamed.toSet).take(3)}")
  }

  test("as-of state stays bounded: old events collapse to one per entity") {
    // direct unit check of the resolver's pruning invariant via the public
    // operator on a two-batch file sequence is implicit in the first test;
    // here assert the collapse rule itself on the pure function level by
    // running a resolution where the watermark has passed most events.
    // (The resolver is private; the observable proxy is that resolution with
    // a far-past probe after collapse still finds the latest old event.)
    val p = Corpus.Params(rows = 400, entities = 4)
    val ev = Corpus.events(spark, p)
      .select(col("entity_id"), col("event_ms"), col("seq"), col("phash"),
        col("caption"), col("event_time"))
    // probes strictly after ALL of each entity's events: every match must be
    // the entity's LATEST event — exactly what survives the collapse
    val lateProbes = ev.groupBy("entity_id")
      .agg((max(col("event_ms")) + 3600000L).as("probe_ms"))
      .withColumn("probe_time", timestamp_millis(col("probe_ms")))
    val evDir = java.nio.file.Files.createTempDirectory("graft-asof-ev2").toString
    val prDir = java.nio.file.Files.createTempDirectory("graft-asof-pr2").toString
    val maxTs = lateProbes.agg(max(col("probe_ms"))).head.getLong(0)
    val sentinel = Seq(("zz_sentinel", maxTs + 86400000L, 0L, 0L, "s"))
      .toDF("entity_id", "event_ms", "seq", "phash", "caption")
      .withColumn("event_time", timestamp_millis(col("event_ms")))
    val sentinelProbe = Seq(("zz_sentinel", maxTs + 86400000L))
      .toDF("entity_id", "probe_ms")
      .withColumn("probe_time", timestamp_millis(col("probe_ms")))
    ev.unionByName(sentinel).coalesce(1).write.mode("overwrite").parquet(evDir)
    lateProbes.unionByName(sentinelProbe).coalesce(1).write.mode("overwrite").parquet(prDir)
    StreamOps.runToMemory(
      StreamOps.asofAttach(
        spark.readStream.schema(ev.schema).parquet(evDir),
        spark.readStream.schema(lateProbes.schema).parquet(prDir),
        watermark = "0 seconds").toDF(),
      "asof_out2")
    val got = spark.table("asof_out2")
      .where(col("entity_id").isNull || col("entity_id") =!= "zz_sentinel")
      .select(col("entity_id"), col("asof_time"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = ev.groupBy("entity_id").agg(max(col("event_ms")).as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want, s"got=$got want=$want")
  }
}

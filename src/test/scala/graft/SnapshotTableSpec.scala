package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.corpus.Corpus
import graft.tables.SnapshotTable

class SnapshotTableSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def tmpRoot(tag: String): String = {
    val p = Files.createTempDirectory(s"graft-snap-$tag")
    p.toString
  }

  private def digestOf(df: org.apache.spark.sql.DataFrame): Long =
    df.select(xxhash64(to_json(struct(df.columns.sorted.map(col): _*))).as("h"))
      .agg(expr("bit_xor(h)")).head().getLong(0)

  test("commit+read roundtrips content exactly") {
    val root = tmpRoot("rt")
    val ev = Corpus.events(spark, Corpus.Params(rows = 500, entities = 10))
      .drop("bytes") // binary json-digest is format-noise; content parity via cols
    val id = SnapshotTable.commit(ev, root, "entity_id", "event_ms", buckets = 8)
    assert(id == 0L)
    val back = SnapshotTable.read(spark, root).drop(SnapshotTable.BucketCol)
    assert(back.count() == 500)
    assert(digestOf(back.select(ev.columns.map(col): _*)) == digestOf(ev))
  }

  test("idempotent re-commit rewrites nothing and preserves digests") {
    val root = tmpRoot("idem")
    val ev = Corpus.events(spark, Corpus.Params(rows = 300, entities = 8)).drop("bytes")
    SnapshotTable.commit(ev, root, "entity_id", "event_ms", buckets = 4)
    val s0 = SnapshotTable.currentSnapshot(root).get
    SnapshotTable.commit(ev, root, "entity_id", "event_ms", buckets = 4)
    val s1 = SnapshotTable.currentSnapshot(root).get
    assert(s1.id == s0.id + 1)
    // same digests, same data dirs (no bucket rewritten)
    assert(s1.buckets.map(b => (b.bucket, b.digest, b.dir)) ==
      s0.buckets.map(b => (b.bucket, b.digest, b.dir)))
  }

  test("incremental commit rewrites only changed buckets; time travel works") {
    val root = tmpRoot("incr")
    val p = Corpus.Params(rows = 400, entities = 8)
    val ev = Corpus.events(spark, p).drop("bytes")
    SnapshotTable.commit(ev, root, "entity_id", "event_ms", buckets = 8)
    val s0 = SnapshotTable.currentSnapshot(root).get

    // append rows for ONE entity only -> only that entity's bucket changes
    val extra = Corpus.events(spark, p.copy(rows = 430)).drop("bytes")
      .filter(col("seq") >= 400 && col("entity_id") === "e00000")
    val ev2 = ev.unionByName(extra)
    SnapshotTable.commit(ev2, root, "entity_id", "event_ms", buckets = 8)
    val s1 = SnapshotTable.currentSnapshot(root).get

    val changed = s1.buckets.filter(b =>
      s0.buckets.find(_.bucket == b.bucket).exists(_.digest != b.digest))
    assert(changed.nonEmpty && changed.size < 8, s"changed=${changed.size}")
    val reusedDirs = s1.buckets.filterNot(b => changed.exists(_.bucket == b.bucket))
      .map(_.dir).toSet
    val oldDirs = s0.buckets.map(_.dir).toSet
    assert(reusedDirs.subsetOf(oldDirs), "unchanged buckets must reuse files")

    // time travel to snapshot 0 reproduces the original content
    val back0 = SnapshotTable.read(spark, root, Some(s0.id)).drop(SnapshotTable.BucketCol)
    assert(back0.count() == 400)
    val back1 = SnapshotTable.read(spark, root, Some(s1.id)).drop(SnapshotTable.BucketCol)
    assert(back1.count() == ev2.count())
  }

  test("lineage table exposes per-bucket manifests across snapshots") {
    val root = tmpRoot("lin")
    val p = Corpus.Params(rows = 300, entities = 6)
    val ev = Corpus.events(spark, p).drop("bytes")
    SnapshotTable.commit(ev.filter(col("seq") < 200), root, "entity_id", "event_ms", buckets = 4)
    SnapshotTable.commit(ev, root, "entity_id", "event_ms", buckets = 4)
    val lin = SnapshotTable.lineage(spark, root)
    // one row per (snapshot, non-empty bucket), manifests row-exact vs JSON
    val wantRows = SnapshotTable.snapshot(root, 0L).buckets.size +
      SnapshotTable.snapshot(root, 1L).buckets.size
    assert(lin.count() == wantRows)
    assert(lin.where(col("is_current")).select("snapshot_id").distinct().head.getLong(0) == 1L)
    val s1 = SnapshotTable.snapshot(root, 1L)
    val fromDf = lin.where(col("snapshot_id") === 1L)
      .select("bucket", "rows", "watermark", "digest")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(fromDf == s1.buckets.map(b => (b.bucket, b.rows, b.watermark, b.digest)).toSet)
    // incremental-diff use: changed buckets between snapshots via the table
    val changed = lin.groupBy("bucket")
      .agg(countDistinct(col("digest")).as("nd")).where(col("nd") > 1).count()
    assert(changed > 0)
  }

  test("watermarks track max event time per bucket") {
    val root = tmpRoot("wm")
    val ev = Corpus.events(spark, Corpus.Params(rows = 200, entities = 5)).drop("bytes")
    SnapshotTable.commit(ev, root, "entity_id", "event_ms", buckets = 4)
    val wm = SnapshotTable.watermark(root).get
    val trueMaxPerBucket = ev
      .withColumn(SnapshotTable.BucketCol, pmod(xxhash64(col("entity_id")), lit(4)).cast("int"))
      .groupBy(SnapshotTable.BucketCol).agg(max("event_ms").as("m"))
      .agg(min("m")).head().getLong(0)
    assert(wm == trueMaxPerBucket)
  }

  test("commitDelta: O(delta) input scan, manifests fold-equal to a full recompute") {
    val root = tmpRoot("delta")
    val p = Corpus.Params(rows = 4000, entities = 16)
    val ev = Corpus.events(spark, p).drop("bytes")
    // both sides come from parquet so the listener's recordsRead tracks
    // every data-source scan the commit performs
    val pb = tmpRoot("delta-base"); val pd = tmpRoot("delta-delta")
    ev.filter(col("seq") < 3600).write.mode("overwrite").parquet(pb)
    ev.filter(col("seq") >= 3600).write.mode("overwrite").parquet(pd)
    SnapshotTable.commit(spark.read.parquet(pb), root, "entity_id", "event_ms", buckets = 8)

    val read = new java.util.concurrent.atomic.AtomicLong()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null) read.addAndGet(t.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      SnapshotTable.commitDelta(spark.read.parquet(pd), root, "entity_id",
        "event_ms", buckets = 8, batchId = 7L)
      // listener events are async: poll until the counter quiesces
      var last = -1L
      var spins = 0
      while (read.get() != last && spins < 50) {
        last = read.get(); Thread.sleep(100); spins += 1
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    // the delta (400 rows) is read once, by the staging write, and its stats
    // come from one scan of the staged 400-row slice; the 3600-row base
    // must NOT be re-read — that was the O(history) scale-killer
    assert(read.get() >= 400, s"listener saw ${read.get()} records — tracking broken?")
    assert(read.get() < 3600, s"commitDelta read ${read.get()} records; base was re-scanned")

    // folded manifests byte-equal to a from-scratch full commit
    val rootFull = tmpRoot("delta-full")
    SnapshotTable.commit(ev, rootFull, "entity_id", "event_ms", buckets = 8)
    val sd = SnapshotTable.currentSnapshot(root).get
    val sf = SnapshotTable.currentSnapshot(rootFull).get
    assert(sd.folded == sf.folded)
    assert(sd.batchId == 7L)
    // content equality via order-insensitive digest
    val da = digestOf(SnapshotTable.read(spark, root).drop(SnapshotTable.BucketCol)
      .select(ev.columns.map(col): _*))
    assert(da == digestOf(ev))
  }

  test("commitDelta: replayed batchId is skipped (at-least-once idempotence)") {
    val root = tmpRoot("replay")
    val ev = Corpus.events(spark, Corpus.Params(rows = 500, entities = 8)).drop("bytes")
    SnapshotTable.commit(ev.filter(col("seq") < 400), root, "entity_id", "event_ms",
      buckets = 4)
    val delta = ev.filter(col("seq") >= 400)
    val id1 = SnapshotTable.commitDelta(delta, root, "entity_id", "event_ms",
      buckets = 4, batchId = 1L)
    assert(id1 == 1L)
    // the crash-after-commit replay: same batch arrives again
    val id2 = SnapshotTable.commitDelta(delta, root, "entity_id", "event_ms",
      buckets = 4, batchId = 1L)
    assert(id2 == 1L, "replayed batch must be skipped, not re-appended")
    assert(SnapshotTable.currentId(root).contains(1L))
    assert(SnapshotTable.read(spark, root).count() == 500)
  }

  test("compact folds slices and preserves content, manifests and batchId") {
    val root = tmpRoot("compact")
    val ev = Corpus.events(spark, Corpus.Params(rows = 600, entities = 8)).drop("bytes")
    SnapshotTable.commit(ev.filter(col("seq") < 100), root, "entity_id", "event_ms",
      buckets = 4)
    (1 to 5).foreach { i =>
      SnapshotTable.commitDelta(
        ev.filter(col("seq") >= i * 100 && col("seq") < (i + 1) * 100),
        root, "entity_id", "event_ms", buckets = 4, batchId = i.toLong)
    }
    val before = SnapshotTable.currentSnapshot(root).get
    assert(before.buckets.groupBy(_.bucket).values.exists(_.size > 3),
      "fixture produced no multi-slice bucket — compaction test is vacuous")
    val dig0 = digestOf(SnapshotTable.read(spark, root).drop(SnapshotTable.BucketCol)
      .select(ev.columns.map(col): _*))

    SnapshotTable.compact(spark, root, maxSlices = 3)
    val after = SnapshotTable.currentSnapshot(root).get
    assert(after.buckets.groupBy(_.bucket).values.forall(_.size <= 3))
    assert(after.folded == before.folded, "compaction must not change folded manifests")
    assert(after.batchId == before.batchId, "compaction must preserve the replay token")
    val dig1 = digestOf(SnapshotTable.read(spark, root).drop(SnapshotTable.BucketCol)
      .select(ev.columns.map(col): _*))
    assert(dig1 == dig0)
    // a no-op compact does not mint a snapshot
    val idBefore = SnapshotTable.currentId(root).get
    SnapshotTable.compact(spark, root, maxSlices = 3)
    assert(SnapshotTable.currentId(root).contains(idBefore))
  }

  test("readIncremental returns exactly the appended rows, straight off manifests") {
    val root = tmpRoot("incr-read")
    val ev = Corpus.events(spark, Corpus.Params(rows = 600, entities = 8)).drop("bytes")
    SnapshotTable.commit(ev.filter(col("seq") < 400), root, "entity_id", "event_ms", buckets = 4)
    SnapshotTable.commitDelta(ev.filter(col("seq") >= 400 && col("seq") < 500),
      root, "entity_id", "event_ms", buckets = 4)
    SnapshotTable.commitDelta(ev.filter(col("seq") >= 500),
      root, "entity_id", "event_ms", buckets = 4)
    // everything after snapshot 0 = the two deltas
    val inc0 = SnapshotTable.readIncremental(spark, root, 0L)
      .drop(SnapshotTable.BucketCol).select(ev.columns.map(col): _*)
    assert(inc0.count() == 200)
    assert(digestOf(inc0) == digestOf(ev.filter(col("seq") >= 400)))
    // everything after snapshot 1 = only the second delta
    val inc1 = SnapshotTable.readIncremental(spark, root, 1L)
      .drop(SnapshotTable.BucketCol).select(ev.columns.map(col): _*)
    assert(digestOf(inc1) == digestOf(ev.filter(col("seq") >= 500)))
    // compaction breaks slice identity: incremental read must refuse
    SnapshotTable.compact(spark, root, maxSlices = 1)
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.readIncremental(spark, root, 0L)
    }
    assert(e.getMessage.contains("compacted"))
  }

  test("resume after simulated kill: rerun yields identical snapshot digests") {
    val rootA = tmpRoot("killA")
    val rootB = tmpRoot("killB")
    val ev = Corpus.events(spark, Corpus.Params(rows = 300, entities = 8)).drop("bytes")

    // clean run
    SnapshotTable.commit(ev, rootA, "entity_id", "event_ms", buckets = 4)

    // killed run: staging files written but pointer never swapped
    val stage = Paths.get(rootB, "data", "s0_0")
    Files.createDirectories(stage)
    Files.writeString(stage.resolve("_partial"), "killed mid-write")
    // rerun commits from scratch; stale staging dir is simply not referenced
    SnapshotTable.commit(ev, rootB, "entity_id", "event_ms", buckets = 4)

    val a = SnapshotTable.currentSnapshot(rootA).get
    val b = SnapshotTable.currentSnapshot(rootB).get
    assert(a.buckets.map(x => (x.bucket, x.rows, x.watermark, x.digest)) ==
      b.buckets.map(x => (x.bucket, x.rows, x.watermark, x.digest)))
    // and readback digests agree
    val da = digestOf(SnapshotTable.read(spark, rootA).drop(SnapshotTable.BucketCol))
    val db = digestOf(SnapshotTable.read(spark, rootB).drop(SnapshotTable.BucketCol))
    assert(da == db)
  }

  test("manifest strings with quotes/braces round-trip; special-char roots work") {
    import spark.implicits._
    // a quote in the root must be escaped on write and unescaped on read in
    // every dir field; unmatched braces/brackets must stay string content
    val root = tmpRoot("esc") + "/we\"ird pa}t]h"
    val df = Seq((1L, 100L, "a"), (2L, 200L, "b")).toDF("entity_id", "event_ms", "v")
    SnapshotTable.commit(df, root, "entity_id", "event_ms", buckets = 4)
    assert(SnapshotTable.read(spark, root).count() == 2)
    // idempotent re-commit must still SEE matching digests through the codec
    SnapshotTable.commit(df, root, "entity_id", "event_ms", buckets = 4)
    val Seq(s0, s1) = Seq(0L, 1L).map(SnapshotTable.snapshot(root, _))
    assert(s1.buckets.map(b => (b.bucket, b.digest, b.dir)) ==
      s0.buckets.map(b => (b.bucket, b.digest, b.dir)))
  }

  test("a manifest cut inside its buckets array, or missing tmin, fails loudly") {
    import spark.implicits._
    val root = tmpRoot("torn")
    val df = (0L until 30L).map(i => (s"e${i % 6}", i, s"v$i"))
      .toDF("entity_id", "event_ms", "v")
    SnapshotTable.commit(df.filter(col("event_ms") < 15), root,
      "entity_id", "event_ms", buckets = 2)
    SnapshotTable.commitDelta(df.filter(col("event_ms") >= 15), root,
      "entity_id", "event_ms", buckets = 2)
    val path = Paths.get(root, "snapshots", "v1.json")
    val whole = Files.readString(path)
    val last = whole.lastIndexOf("{\"bucket\":")
    assert(last > whole.indexOf("\"buckets\":["))
    val noTmin = whole.replaceFirst(",\"tmin\":-?\\d+", "")
    val noFiles = whole.replaceFirst(",\"files\":\\{[^}]*\\}", "")
    assert(noTmin != whole && noFiles != whole)
    // cut after a complete slice, inside the last slice, and just before
    // the closing bracket: each would parse as a smaller table if tolerated
    val bad = Seq(whole.take(last), whole.take(last + 5),
      whole.take(whole.indexOf("]", last)), noTmin, noFiles)
    bad.foreach { text =>
      Files.writeString(path, text)
      val errs = Seq(
        intercept[IllegalStateException](SnapshotTable.snapshot(root, 1L)),
        intercept[IllegalStateException](SnapshotTable.read(spark, root)),
        intercept[IllegalStateException](
          SnapshotTable.readEntities[String](spark, root, Seq("e1"))))
      errs.foreach(e => assert(e.getMessage.contains(path.toString), e.getMessage))
    }
    Files.writeString(path, whole)
    assert(SnapshotTable.read(spark, root).count() == 30)
  }

  test("empty commit: legal, watermark None, no empty.min crash") {
    import spark.implicits._
    val root = tmpRoot("empty")
    val df = Seq((1L, 100L)).toDF("entity_id", "event_ms").filter(lit(false))
    SnapshotTable.commit(df, root, "entity_id", "event_ms", buckets = 4)
    assert(SnapshotTable.watermark(root).isEmpty)
    assert(SnapshotTable.read(spark, root).isEmpty)
  }

  test("null entity keys fail fast instead of hashing into a shared bucket") {
    import spark.implicits._
    val root = tmpRoot("nullkey")
    val df = Seq((Option(1L), 100L), (Option.empty[Long], 200L))
      .toDF("entity_id", "event_ms")
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.commit(df, root, "entity_id", "event_ms", buckets = 4)
    }
    assert(e.getMessage.contains("null"))
  }

  test("readEntities: bucket-pruned lookup equals full-scan filter, scans only those buckets") {
    import spark.implicits._
    val root = tmpRoot("pt")
    val ev = Corpus.events(spark, Corpus.Params(rows = 4000, entities = 16)).drop("bytes")
    SnapshotTable.commit(ev, root, "entity_id", "event_ms", buckets = 16)
    val keys = ev.select("entity_id").distinct().orderBy("entity_id").limit(2)
      .collect().map(_.getString(0)).toSeq

    val got = SnapshotTable.readEntities[String](spark, root, keys)
    val expected = SnapshotTable.read(spark, root)
      .filter(col("entity_id").isInCollection(keys))
    assert(digestOf(got.drop(SnapshotTable.BucketCol)) ==
      digestOf(expected.drop(SnapshotTable.BucketCol)))

    // the scan must touch ONLY the keys' buckets: the manifest itself gives
    // the exact row bound for those buckets
    val snap = SnapshotTable.currentSnapshot(root).get
    val wantedBuckets = got.select(SnapshotTable.BucketCol).distinct()
      .collect().map(_.getInt(0)).toSet
    val wantedRows = snap.folded.filter { case (k, _) => wantedBuckets.contains(k) }
      .values.map(_._1).sum
    assert(wantedRows < 4000, "fixture degenerate: keys cover every bucket")

    val read = new java.util.concurrent.atomic.AtomicLong()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null) read.addAndGet(t.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      SnapshotTable.readEntities[String](spark, root, keys).count()
      var last = -1L
      var spins = 0
      while (read.get() != last && spins < 50) {
        last = read.get(); Thread.sleep(100); spins += 1
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(read.get() > 0, "listener saw no records — tracking broken?")
    assert(read.get() <= wantedRows + keys.size,
      s"lookup read ${read.get()} records; the keys' buckets hold only $wantedRows")

    // a key that exists nowhere returns empty with the table's schema
    val missing = SnapshotTable.readEntities[String](spark, root, Seq("no-such-entity"))
    assert(missing.isEmpty && missing.columns.contains("entity_id"))
  }

  test("additive schema evolution: append with a new column; old slices read null") {
    import spark.implicits._
    val root = tmpRoot("evo")
    val base = Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("entity_id", "event_ms", "v")
    SnapshotTable.commit(base, root, "entity_id", "event_ms", buckets = 4)
    val delta = Seq((3L, 30L, "c", 1.5)).toDF("entity_id", "event_ms", "v", "score")
    // without the opt-in, a widened delta is still rejected
    intercept[IllegalArgumentException] {
      SnapshotTable.commitDelta(delta, root, "entity_id", "event_ms", buckets = 4)
    }
    SnapshotTable.commitDelta(delta, root, "entity_id", "event_ms", buckets = 4,
      evolveSchema = true)
    // the read is typed by the widened manifest schema, in its sorted order
    val back = SnapshotTable.read(spark, root)
    assert(back.columns.toSeq ==
      Seq("entity_id", "event_ms", "score", "v", SnapshotTable.BucketCol))
    assert(back.schema("score").dataType == org.apache.spark.sql.types.DoubleType)
    assert(back.count() == 3)
    val score = back.collect()
      .map(r => r.getAs[Long]("entity_id") -> Option(r.getAs[Any]("score"))).toMap
    assert(score(1L).isEmpty && score(2L).isEmpty && score(3L).contains(1.5))
    // dropping a recorded column stays an error even with the flag (old
    // slices are carried verbatim — the column would be half-present)
    intercept[IllegalArgumentException] {
      SnapshotTable.commitDelta(Seq((4L, 40L)).toDF("entity_id", "event_ms"),
        root, "entity_id", "event_ms", buckets = 4, evolveSchema = true)
    }
    // compaction across the evolution boundary preserves content
    SnapshotTable.compact(spark, root, maxSlices = 1)
    assert(SnapshotTable.read(spark, root).count() == 3)
    // bucket-pruned lookup of a pre-evolution entity sees the null column
    val one = SnapshotTable.readEntities[Long](spark, root, Seq(1L)).collect()
    assert(one.length == 1 && one.head.getAs[Any]("score") == null)
    // a full rewrite of the mixed table reads back exactly what it wrote:
    // the padded nulls were written as real nulls under one schema
    val full = SnapshotTable.read(spark, root).drop(SnapshotTable.BucketCol)
      .withColumn("v", concat(col("v"), lit("!")))
    SnapshotTable.commit(full, root, "entity_id", "event_ms", buckets = 4,
      evolveSchema = true)
    val rewritten = SnapshotTable.read(spark, root).collect()
      .map(r => r.getAs[Long]("entity_id") ->
        ((r.getAs[String]("v"), Option(r.getAs[Any]("score"))))).toMap
    assert(rewritten == Map(1L -> (("a!", None)), 2L -> (("b!", None)),
      3L -> (("c!", Some(1.5)))))
  }

  test("upsert replaces matching keys, inserts the rest, touches only their buckets") {
    val root = tmpRoot("ups")
    val ev = Corpus.events(spark, Corpus.Params(rows = 4000, entities = 16)).drop("bytes")
    SnapshotTable.commit(ev, root, "entity_id", "event_ms", buckets = 16)
    val before = SnapshotTable.currentSnapshot(root).get

    // updates: overwrite caption for one entity's rows + insert a brand-new
    // entity (both hash into a small subset of the 16 buckets)
    val target = ev.select("entity_id").orderBy("entity_id").head().getString(0)
    val replaced = ev.filter(col("entity_id") === target)
      .withColumn("caption", lit("REPLACED"))
    val inserted = ev.filter(col("entity_id") === target).limit(3)
      .withColumn("entity_id", lit("brand-new-entity"))
      .withColumn("event_ms", col("event_ms") + 1000000000L)
    val updates = replaced.unionByName(inserted)

    val read = new java.util.concurrent.atomic.AtomicLong()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null) read.addAndGet(t.taskMetrics.inputMetrics.recordsRead)
    }
    // materialize updates first so the listener only sees the upsert's scans
    updates.cache().count()
    spark.sparkContext.addSparkListener(listener)
    try {
      SnapshotTable.commitUpsert(updates, root, "entity_id", "event_ms", buckets = 16)
      var last = -1L; var spins = 0
      while (read.get() != last && spins < 50) { last = read.get(); Thread.sleep(100); spins += 1 }
    } finally spark.sparkContext.removeSparkListener(listener)

    val after = SnapshotTable.currentSnapshot(root).get
    val touched = after.buckets.map(_.dir).toSet -- before.buckets.map(_.dir).toSet
    val carried = after.buckets.map(_.dir).toSet intersect before.buckets.map(_.dir).toSet
    assert(touched.nonEmpty && carried.nonEmpty,
      s"expected a mix of rewritten and carried slices, got touched=$touched")

    // content: replaced rows new caption, others untouched, inserts present
    val back = SnapshotTable.read(spark, root)
    assert(back.count() == 4000 + 3)
    assert(back.filter(col("entity_id") === target)
      .filter(col("caption") =!= "REPLACED").count() == 0)
    assert(back.filter(col("entity_id") === "brand-new-entity").count() == 3)
    val untouchedRows = ev.filter(col("entity_id") =!= target)
    assert(back.filter(col("entity_id") =!= target &&
      col("entity_id") =!= "brand-new-entity").count() == untouchedRows.count())

    // cost: the upsert read the touched buckets (twice: merge + stats of the
    // staged write) — never the whole table
    val touchedRows = before.folded
      .filter { case (k, _) => after.buckets.filter(b => touched.contains(b.dir)).map(_.bucket).contains(k) }
      .values.map(_._1).sum
    assert(read.get() < 4000,
      s"upsert scanned ${read.get()} records — the whole ${4000}-row table was read " +
        s"(touched buckets hold only $touchedRows)")
    updates.unpersist()
  }

  test("entity delete erases from the head, keeps time travel, empties vanish") {
    import spark.implicits._
    val root = tmpRoot("del")
    val ev = Corpus.events(spark, Corpus.Params(rows = 2000, entities = 12)).drop("bytes")
    SnapshotTable.commit(ev, root, "entity_id", "event_ms", buckets = 8)
    val entities = ev.select("entity_id").distinct()
      .orderBy("entity_id").collect().map(_.getString(0)).toSeq
    val victims = entities.take(2)
    val before = SnapshotTable.currentSnapshot(root).get

    SnapshotTable.commitDelete[String](spark, root, victims)
    val back = SnapshotTable.read(spark, root)
    assert(back.filter(col("entity_id").isInCollection(victims)).count() == 0)
    assert(back.count() ==
      ev.filter(!col("entity_id").isInCollection(victims)).count())
    // untouched buckets carried verbatim (no whole-table rewrite)
    val after = SnapshotTable.currentSnapshot(root).get
    assert((after.buckets.map(_.dir).toSet intersect
      before.buckets.map(_.dir).toSet).nonEmpty)
    // time travel still sees the pre-delete content
    assert(SnapshotTable.read(spark, root, Some(before.id))
      .filter(col("entity_id").isInCollection(victims)).count() > 0)
    // deleting EVERY entity leaves a legal empty table
    SnapshotTable.commitDelete[String](spark, root, entities)
    assert(SnapshotTable.read(spark, root).isEmpty)
    assert(SnapshotTable.watermark(root).isEmpty)
  }

  test("type rails: column type changes and mistyped keys are rejected") {
    import spark.implicits._
    val root = tmpRoot("types")
    SnapshotTable.commit(Seq((1L, 10L, 1)).toDF("entity_id", "event_ms", "v"),
      root, "entity_id", "event_ms", buckets = 2) // v: Int
    // same names, v re-typed to Long: the name-only check would pass and
    // mix int- and long-physical parquet in one bucket
    val e1 = intercept[IllegalArgumentException] {
      SnapshotTable.commitDelta(
        Seq((2L, 20L, 2L)).toDF("entity_id", "event_ms", "v"),
        root, "entity_id", "event_ms", buckets = 2)
    }
    assert(e1.getMessage.contains("type"))
    // entity keys of the wrong type hash to the wrong buckets: fail fast
    // instead of an empty lookup / no-op delete
    val e2 = intercept[IllegalArgumentException] {
      SnapshotTable.readEntities[String](spark, root, Seq("1"))
    }
    assert(e2.getMessage.contains("type"))
    val e3 = intercept[IllegalArgumentException] {
      SnapshotTable.commitDelete[String](spark, root, Seq("1"))
    }
    assert(e3.getMessage.contains("type"))
  }

  test("upsert without a batchId carries the parent's streaming replay marker") {
    import spark.implicits._
    val root = tmpRoot("upsbid")
    val batch7 = Seq((1L, 10L, "a")).toDF("entity_id", "event_ms", "v")
    SnapshotTable.commitDelta(batch7, root, "entity_id", "event_ms",
      buckets = 2, batchId = 7L)
    SnapshotTable.commitUpsert(
      Seq((1L, 10L, "b")).toDF("entity_id", "event_ms", "v"),
      root, "entity_id", "event_ms", buckets = 2)
    assert(SnapshotTable.currentSnapshot(root).get.batchId == 7L)
    // crash-replay of batch 7 AFTER the maintenance upsert: still skipped,
    // and the upserted value survives
    SnapshotTable.commitDelta(batch7, root, "entity_id", "event_ms",
      buckets = 2, batchId = 7L)
    val back = SnapshotTable.read(spark, root)
    assert(back.count() == 1 && back.head().getAs[String]("v") == "b")
  }

  test("verb interplay: evolve, then upsert, delete and incremental-read the mixed table") {
    import spark.implicits._
    val root = tmpRoot("interplay")
    SnapshotTable.commit(
      Seq((1L, 10L, "a"), (2L, 20L, "b"), (3L, 30L, "c"))
        .toDF("entity_id", "event_ms", "v"),
      root, "entity_id", "event_ms", buckets = 4)
    // evolve: append a row carrying a new score column
    SnapshotTable.commitDelta(
      Seq((4L, 40L, "d", 4.0)).toDF("entity_id", "event_ms", "v", "score"),
      root, "entity_id", "event_ms", buckets = 4, evolveSchema = true)
    val evolvedId = SnapshotTable.currentId(root).get

    // upsert ON the mixed table: replace entity 1's row (pre-evolution
    // slice) with a scored version, insert entity 5
    SnapshotTable.commitUpsert(
      Seq((1L, 10L, "a2", 1.0), (5L, 50L, "e", 5.0))
        .toDF("entity_id", "event_ms", "v", "score"),
      root, "entity_id", "event_ms", buckets = 4)
    val back = SnapshotTable.read(spark, root)
    assert(back.count() == 5)
    val byId = back.collect().map(r => r.getAs[Long]("entity_id") ->
      ((r.getAs[String]("v"), Option(r.getAs[Any]("score"))))).toMap
    assert(byId(1L) == (("a2", Some(1.0))), s"upserted row wrong: ${byId(1L)}")
    assert(byId(2L)._2.isEmpty && byId(3L)._2.isEmpty,
      "pre-evolution rows must read null score")
    assert(byId(4L) == (("d", Some(4.0))) && byId(5L) == (("e", Some(5.0))))

    // incremental read ACROSS the upsert must fail fast: an upsert rewrites
    // touched buckets' slices (delete-then-insert is not append-only), so
    // "slices added since" would silently double-count rewritten rows —
    // the rail catches exactly this
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.readIncremental(spark, root, evolvedId)
    }
    assert(e.getMessage.contains("append-only"))

    // delete a pre-evolution entity from the mixed table
    SnapshotTable.commitDelete[Long](spark, root, Seq(2L))
    val afterDel = SnapshotTable.read(spark, root)
    assert(afterDel.count() == 4 &&
      afterDel.filter(col("entity_id") === 2L).isEmpty)
    // the table still reads consistently after compaction
    SnapshotTable.compact(spark, root, maxSlices = 1)
    assert(SnapshotTable.read(spark, root).count() == 4)
  }

  test("concurrent appends: every commit survives, one claim per snapshot id") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val root = tmpRoot("conc")
    val n = 8
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      // all writers race table CREATION too (no pre-existing v0): exactly
      // one wins v0, the rest must fall into the append path — a lost
      // update here would silently drop a writer's rows
      val ids = Await.result(Future.sequence((0 until n).map { i =>
        Future {
          val df = spark.range(i * 100L, i * 100L + 100L)
            .selectExpr("id AS entity_id", "id AS event_ms", s"'w$i' AS src")
          SnapshotTable.commitDelta(df, root, "entity_id", "event_ms", buckets = 4)
        }
      }), 5.minutes)
      assert(ids.toSet.size == n, s"duplicate snapshot ids claimed: $ids")
      assert(ids.toSet == (0L until n.toLong).toSet, s"non-contiguous ids: $ids")
      val back = SnapshotTable.read(spark, root)
      assert(back.count() == n * 100L, "rows lost to a commit race")
      assert(back.select(countDistinct(col("src"))).head().getLong(0) == n.toLong,
        "an entire writer's delta went missing")
      assert(SnapshotTable.currentId(root).contains(ids.max))
    } finally pool.shutdown()
  }

  test("a lagging CURRENT pointer heals: the claimed head stays visible") {
    import spark.implicits._
    val root = tmpRoot("heal")
    SnapshotTable.commit(Seq((1L, 10L)).toDF("entity_id", "event_ms"),
      root, "entity_id", "event_ms", buckets = 2)
    SnapshotTable.commitDelta(Seq((2L, 20L)).toDF("entity_id", "event_ms"),
      root, "entity_id", "event_ms", buckets = 2)
    // simulate a writer that claimed v1 but died before the pointer swap
    // (or lost a pointer race to a slower writer): regress the hint
    Files.writeString(Paths.get(root, "CURRENT"), "v0\n")
    assert(SnapshotTable.currentId(root).contains(1L),
      "claimed manifest must be the head even when the pointer lags")
    assert(SnapshotTable.read(spark, root).count() == 2)
    // the next commit builds on the TRUE head and heals the pointer
    SnapshotTable.commitDelta(Seq((3L, 30L)).toDF("entity_id", "event_ms"),
      root, "entity_id", "event_ms", buckets = 2)
    assert(Files.readString(Paths.get(root, "CURRENT")).trim == "v2")
    assert(SnapshotTable.read(spark, root).count() == 3)
  }

  test("full commit rejects key-column mismatch against the table's manifest") {
    import spark.implicits._
    val root = tmpRoot("keyrail")
    val df = Seq((1L, 100L, "x")).toDF("entity_id", "event_ms", "v")
    SnapshotTable.commit(df, root, "entity_id", "event_ms", buckets = 2)
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.commit(df, root, "v", "event_ms", buckets = 2)
    }
    assert(e.getMessage.contains("key columns"))
  }

  /** Time-chunked three-slice table for the readRange suite: event_ms
    * 0..899, chunk boundaries at 300 and 600, 4 buckets. Returns (root, df).
    */
  private def rangeTable(tag: String): (String, org.apache.spark.sql.DataFrame) = {
    import spark.implicits._
    val root = tmpRoot(tag)
    val df = (0L until 900L).map(i => (s"e${i % 30}", i, s"v$i"))
      .toDF("entity_id", "event_ms", "v")
    SnapshotTable.commit(df.filter(col("event_ms") < 300),
      root, "entity_id", "event_ms", buckets = 4)
    SnapshotTable.commitDelta(
      df.filter(col("event_ms") >= 300 && col("event_ms") < 600),
      root, "entity_id", "event_ms", buckets = 4)
    SnapshotTable.commitDelta(df.filter(col("event_ms") >= 600),
      root, "entity_id", "event_ms", buckets = 4)
    (root, df)
  }

  /** Stage dirs (parents of slice dirs) NEW in snapshot `id` vs its parent. */
  private def stageOf(root: String, id: Long): Set[String] = {
    val s = SnapshotTable.snapshot(root, id)
    val parent =
      if (s.parent < 0) Set.empty[String]
      else SnapshotTable.snapshot(root, s.parent).buckets.map(_.dir).toSet
    s.buckets.map(_.dir).filterNot(parent.contains)
      .map(d => Paths.get(d).getParent.toString).toSet
  }

  test("readRange: equals the full-scan predicate and OPENS only overlapping slices") {
    val (root, df) = rangeTable("rng")
    // [350, 449] lies fully inside the middle chunk
    val got = SnapshotTable.readRange(spark, root, Some(350L), Some(449L))
      .drop(SnapshotTable.BucketCol)
    val want = df.filter(col("event_ms").between(350, 449))
    assert(got.count() == 100)
    assert(digestOf(got.select(df.columns.map(col): _*)) == digestOf(want))
    // manifest-level skipping: every file in the PLAN comes from the middle
    // chunk's stage; the base and top chunks are never opened (inputFiles is
    // the planned scan set — this asserts the skip happened at the manifest,
    // not via parquet row-group stats after opening footers)
    val midStages = stageOf(root, 1L)
    val others = stageOf(root, 0L) ++ stageOf(root, 2L)
    val files = got.inputFiles.toSeq
    assert(files.nonEmpty)
    assert(files.forall(f => midStages.exists(f.contains) && !others.exists(f.contains)),
      s"scan leaked outside the overlapping slices: $files")

    // open-ended lower bound: chunks 1+2 skipped entirely
    val tail = SnapshotTable.readRange(spark, root, Some(600L), None)
    assert(tail.count() == 300)
    assert(tail.inputFiles.forall(f => stageOf(root, 2L).exists(f.contains)))
    // open-ended upper bound at the head slice
    assert(SnapshotTable.readRange(spark, root, None, Some(299L)).count() == 300)
    // bound rails
    intercept[IllegalArgumentException] {
      SnapshotTable.readRange(spark, root, None, None)
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.readRange(spark, root, Some(5L), Some(4L))
    }
    // a range nothing overlaps: zero slices opened, schema kept
    val none = SnapshotTable.readRange(spark, root, Some(2000L), Some(3000L))
    assert(none.isEmpty && none.columns.contains("event_ms"))
    assert(none.inputFiles.isEmpty)
  }

  test("readRange: all-null-time slices make no claim and match no range") {
    import spark.implicits._
    val root = tmpRoot("rngnull")
    val nulls = Seq(("a", Option.empty[Long], "x"), ("b", Option.empty[Long], "y"))
      .toDF("entity_id", "event_ms", "v")
    val timed = Seq(("c", Option(100L), "z")).toDF("entity_id", "event_ms", "v")
    SnapshotTable.commit(nulls, root, "entity_id", "event_ms", buckets = 2)
    SnapshotTable.commitDelta(timed, root, "entity_id", "event_ms", buckets = 2)
    // lower-bounded: the null slice is skipped via watermark = MinValue
    val lo = SnapshotTable.readRange(spark, root, Some(0L), None)
    assert(lo.count() == 1)
    // upper-bounded only: the null slice cannot be skipped (tmin MinValue =
    // no claim) but null event times never satisfy the residual predicate
    val hi = SnapshotTable.readRange(spark, root, None, Some(200L))
    assert(hi.count() == 1)
  }

  test("readEntities with a time window prunes on bucket AND slice interval") {
    import spark.implicits._
    val (root, df) = rangeTable("rngent")
    val keys = Seq("e5", "e17")
    val got = SnapshotTable
      .readEntities[String](spark, root, keys, from = Some(350L), until = Some(449L))
      .drop(SnapshotTable.BucketCol)
    val want = df.filter(col("entity_id").isInCollection(keys) &&
      col("event_ms").between(350, 449))
    assert(got.count() == want.count() && got.count() > 0)
    assert(digestOf(got.select(df.columns.map(col): _*)) == digestOf(want))
    // the plan must touch ONLY the middle chunk's stage (interval prune)
    // AND only the keys' bucket dirs within it (bucket prune)
    val wantedBuckets = spark.range(1).select(
        explode(array(keys.map(k =>
          pmod(xxhash64(lit(k)), lit(4)).cast("int")): _*)))
      .collect().map(_.getInt(0)).toSet
    val midStages = stageOf(root, 1L)
    val files = got.inputFiles.toSeq
    assert(files.nonEmpty)
    assert(files.forall(f => midStages.exists(f.contains) &&
      wantedBuckets.exists(b => f.contains(s"${SnapshotTable.BucketCol}=$b"))),
      s"scan leaked outside bucket∩interval: $files")
    // degenerate window rail
    intercept[IllegalArgumentException] {
      SnapshotTable.readEntities[String](spark, root, keys,
        from = Some(5L), until = Some(4L))
    }
  }

  test("compact folds tmin by min; range reads stay exact across compaction") {
    val (root, df) = rangeTable("rngcomp")
    val pre = SnapshotTable.currentSnapshot(root).get
    val id = SnapshotTable.compact(spark, root, maxSlices = 1)
    val s = SnapshotTable.snapshot(root, id)
    // every compacted bucket's interval is the fold of its old slices
    val preBy = pre.buckets.groupBy(_.bucket)
    s.buckets.groupBy(_.bucket).foreach { case (k, ss) =>
      assert(ss.size == 1)
      assert(ss.head.tmin == preBy(k).map(_.tmin).min)
      assert(ss.head.watermark == preBy(k).map(_.watermark).max)
    }
    val got = SnapshotTable.readRange(spark, root, Some(350L), Some(449L))
      .drop(SnapshotTable.BucketCol)
    assert(got.count() == 100)
    assert(digestOf(got.select(df.columns.map(col): _*)) ==
      digestOf(df.filter(col("event_ms").between(350, 449))))
  }

  /** Spark jobs started while `body` runs. Listener events arrive async, in
    * order: a marker job run after `body` bounds the count.
    */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val marker = "jobsDuring marker"
    val starts = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        starts.put(Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      Iterator.continually(starts.poll(60, java.util.concurrent.TimeUnit.SECONDS))
        .takeWhile { d => assert(d != null, "the marker job never reached the listener"); d != marker }
        .size
    } finally sc.removeSparkListener(listener)
  }

  /** Rows of the head whose bucket column differs from the manifest bucket
    * of the slice dir its file lies in, as (bucket, file) pairs.
    */
  private def misbucketed(root: String): Seq[(Int, String)] = {
    val byDir = SnapshotTable.currentSnapshot(root).get.buckets
      .map(b => Paths.get(b.dir).toString -> b.bucket).toMap
    val pairs = SnapshotTable.read(spark, root)
      .select(col(SnapshotTable.BucketCol), input_file_name()).distinct().collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(pairs.nonEmpty)
    pairs.filterNot { case (k, f) =>
      byDir.get(Paths.get(new java.net.URI(f)).getParent.toString).contains(k)
    }
  }

  test("commitDelta evaluates its delta once per row: stats come from the staged slice") {
    val root = tmpRoot("once")
    val ev = Corpus.events(spark, Corpus.Params(rows = 500, entities = 8)).drop("bytes")
    SnapshotTable.commit(ev.filter(col("seq") < 400), root, "entity_id", "event_ms", buckets = 4)
    val pd = tmpRoot("once-delta")
    ev.filter(col("seq") >= 400).write.mode("overwrite").parquet(pd)
    val evaluated = spark.sparkContext.longAccumulator("delta filter evaluations")
    val counted = udf { (_: Long) => evaluated.add(1L); true }.asNondeterministic()
    SnapshotTable.commitDelta(spark.read.parquet(pd).filter(counted(col("seq"))),
      root, "entity_id", "event_ms", buckets = 4)
    assert(evaluated.value == 100L, s"the delta filter ran ${evaluated.value} times for 100 rows")
    val back = SnapshotTable.read(spark, root).drop(SnapshotTable.BucketCol)
    assert(digestOf(back.select(ev.columns.map(col): _*)) == digestOf(ev))
  }

  test("read plans one typed scan from the manifest: no Spark job before an action") {
    val (root, df) = rangeTable("onescan")
    val snap = SnapshotTable.currentSnapshot(root).get
    assert(snap.buckets.map(_.bucket).distinct.size > 1 &&
      snap.buckets.groupBy(_.bucket).values.exists(_.size > 1),
      "fixture must hold several slices in several buckets")
    var back: org.apache.spark.sql.DataFrame = null
    val jobs = jobsDuring { back = SnapshotTable.read(spark, root) }
    assert(jobs == 0, s"read ran $jobs Spark jobs at planning")
    val scans = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(back.queryExecution.executedPlan) {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
    assert(scans.size == 1, s"${scans.size} scans:\n${back.queryExecution.executedPlan}")
    assert(digestOf(back.drop(SnapshotTable.BucketCol).select(df.columns.map(col): _*)) ==
      digestOf(df))
  }

  test("every row's bucket column is its slice dir's manifest bucket, across every writer") {
    import spark.implicits._
    val (root, _) = rangeTable("bucketcol")
    def check(after: String): Unit = {
      val bad = misbucketed(root)
      assert(bad.isEmpty, s"after $after: ${bad.take(5)}")
    }
    check("commitDelta")
    SnapshotTable.compact(spark, root, maxSlices = 1)
    check("compact")
    SnapshotTable.commitUpsert(Seq(("e5", 365L, "X"), ("new", 5L, "N"))
      .toDF("entity_id", "event_ms", "v"), root, "entity_id", "event_ms", buckets = 4)
    check("commitUpsert")
    SnapshotTable.commitDelete[String](spark, root, Seq("e7"))
    check("commitDelete")
    SnapshotTable.commitDelta(Seq(("e9", 2000L, "w", 1.5))
      .toDF("entity_id", "event_ms", "v", "score"), root, "entity_id", "event_ms",
      buckets = 4, evolveSchema = true)
    check("an additive-evolution append")
    // e5@365 is replaced and new@5 inserted, e7's 30 rows go, e9@2000 comes
    assert(SnapshotTable.read(spark, root).count() == 900 + 1 - 30 + 1)
  }

  test("commitDelta with a null key fails before publishing and leaves no stage") {
    import spark.implicits._
    val root = tmpRoot("deltanull")
    SnapshotTable.commit(Seq((Option(1L), 10L)).toDF("entity_id", "event_ms"),
      root, "entity_id", "event_ms", buckets = 2)
    def stages = Files.list(Paths.get(root, "data")).toArray.toSet
    val (head, before) = (SnapshotTable.currentId(root), stages)
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.commitDelta(Seq((Option.empty[Long], 20L), (Option(2L), 30L))
        .toDF("entity_id", "event_ms"), root, "entity_id", "event_ms", buckets = 2)
    }
    assert(e.getMessage.contains("null"))
    assert(SnapshotTable.currentId(root) == head)
    assert(stages == before, s"new stage dirs: ${stages -- before}")
  }

  test("key buckets come from the driver: a lookup and an empty-bucket delete run no job") {
    import spark.implicits._
    val root = tmpRoot("keyhash")
    // one entity in 16 buckets: most keys hash into a bucket with no slice
    SnapshotTable.commit(Seq(("only", 10L)).toDF("entity_id", "event_ms"),
      root, "entity_id", "event_ms", buckets = 16)
    val bucketOf = (k: String) => spark.range(1)
      .select(pmod(xxhash64(lit(k)), lit(16)).cast("int")).head().getInt(0)
    val elsewhere = (0 until 100).map(i => s"k$i").filterNot(bucketOf(_) == bucketOf("only"))
      .take(3)
    assert(elsewhere.size == 3)
    val head = SnapshotTable.currentId(root)
    val jobs = jobsDuring {
      SnapshotTable.readEntities[String](spark, root, "only" +: elsewhere)
      SnapshotTable.commitDelete[String](spark, root, elsewhere)
    }
    assert(jobs == 0, s"$jobs Spark jobs to hash a driver-side key list")
    assert(SnapshotTable.currentId(root) == head)
    assert(SnapshotTable.readEntities[String](spark, root, "only" +: elsewhere).count() == 1)
  }

  test("a read over more than 32 live slices runs no Spark job at planning") {
    import spark.implicits._
    val root = tmpRoot("manyslices")
    val df = (0L until 600L).map(i => (s"e${i % 120}", i, s"v$i"))
      .toDF("entity_id", "event_ms", "v")
    SnapshotTable.commit(df.filter(col("event_ms") < 200), root,
      "entity_id", "event_ms", buckets = 16)
    Seq(200L, 400L).foreach { lo =>
      SnapshotTable.commitDelta(df.filter(col("event_ms").between(lo, lo + 199)), root,
        "entity_id", "event_ms", buckets = 16)
    }
    val slices = SnapshotTable.currentSnapshot(root).get.buckets.size
    assert(slices > 32, s"fixture holds only $slices slices")
    var back: org.apache.spark.sql.DataFrame = null
    val jobs = jobsDuring { back = SnapshotTable.read(spark, root) }
    assert(jobs == 0, s"a read of $slices slices ran $jobs Spark jobs at planning")
    assert(digestOf(back.drop(SnapshotTable.BucketCol).select(df.columns.map(col): _*)) ==
      digestOf(df))
  }

  test("pruned reads open exactly the manifest-recorded files of their kept slices") {
    import spark.implicits._
    val (root, _) = rangeTable("files")
    val snap = SnapshotTable.currentSnapshot(root).get
    // the manifest records each slice dir's parquet files with their lengths
    snap.buckets.foreach { s =>
      val onDisk = Files.list(Paths.get(s.dir)).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .map(f => f.getFileName.toString -> Files.size(f)).toMap
      assert(s.files.toMap == onDisk, s.dir)
    }
    def recorded(keep: SnapshotTable.BucketManifest => Boolean): Set[String] =
      snap.buckets.filter(keep)
        .flatMap(s => s.files.keys.map(n => Paths.get(s.dir, n).toString)).toSet
    def planned(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.inputFiles.map(f => Paths.get(new java.net.URI(f)).toString).toSet
    def inWindow(b: SnapshotTable.BucketManifest) = b.watermark >= 350L && b.tmin <= 449L
    val keys = Seq("e5", "e17")
    val wanted = keys.map(k => spark.range(1)
      .select(pmod(xxhash64(lit(k)), lit(4)).cast("int")).head().getInt(0)).toSet
    val kept = recorded(b => wanted.contains(b.bucket) && inWindow(b))
    assert(kept.nonEmpty && recorded(inWindow).size > kept.size &&
      recorded(_ => true).size > recorded(inWindow).size, "fixture prunes nothing")
    val lookup = SnapshotTable
      .readEntities[String](spark, root, keys, from = Some(350L), until = Some(449L))
    assert(planned(lookup) == kept)
    assert(planned(SnapshotTable.readRange(spark, root, Some(350L), Some(449L))) ==
      recorded(inWindow))
  }

  test("a filter on the bucket column returns exactly that bucket's rows") {
    val (root, df) = rangeTable("bucketfilter")
    val hashed = df.withColumn("k", pmod(xxhash64(col("entity_id")), lit(4)).cast("int"))
    val all = SnapshotTable.read(spark, root)
    (0 until 4).foreach { k =>
      val got = all.filter(col(SnapshotTable.BucketCol) === k)
      val want = hashed.filter(col("k") === k).drop("k")
      assert(got.count() == want.count() && want.count() > 0, s"bucket $k")
      assert(digestOf(got.drop(SnapshotTable.BucketCol).select(df.columns.map(col): _*)) ==
        digestOf(want), s"bucket $k")
    }
    assert(all.filter(col(SnapshotTable.BucketCol) =!= 0).count() ==
      hashed.filter(col("k") =!= 0).count())
  }
}

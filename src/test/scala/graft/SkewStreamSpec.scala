package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.corpus.Corpus
import graft.functions.HammingDistance
import graft.operators.Skew
import graft.streaming.StreamOps

class SkewStreamSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("salted join is semantics-preserving vs plain join on skewed keys") {
    val p = Corpus.Params(rows = 3000, entities = 10) // zipf: e00000 is hot
    val fact = Corpus.events(spark, p).select("entity_id", "seq", "phash")
    val dim = FeaturePipeline_entityDim()
    val plain = fact.join(dim, Seq("entity_id")).select("entity_id", "seq", "topic")
    val salted = Skew.saltedJoin(fact, dim, "entity_id", "seq", salts = 8)
      .select("entity_id", "seq", "topic")
    assert(plain.exceptAll(salted).isEmpty && salted.exceptAll(plain).isEmpty)
  }

  private def FeaturePipeline_entityDim() =
    graft.features.FeaturePipeline.entityDim(spark, 10)

  test("native hamming expression matches bit_count oracle and codegens") {
    // range-based source so Catalyst cannot constant-fold the expression away
    val df = spark.range(500)
      .select(xxhash64(col("id"), lit(1)).as("a"), xxhash64(col("id"), lit(2)).as("b"))
    val got = df.select(HammingDistance.hamming(col("a"), col("b")).as("h"),
      bit_count(col("a").bitwiseXOR(col("b"))).cast("int").as("o"))
    assert(got.filter(col("h") =!= col("o")).count() == 0)
    // SQL registration
    GraftExtensions.registerAll(spark)
    df.createOrReplaceTempView("hamming_in")
    val viaSql = spark.sql(
      "SELECT count(*) FROM hamming_in WHERE hamming(a, b) <> bit_count(a ^ b)")
    assert(viaSql.head().getLong(0) == 0L)
    // stays inside whole-stage codegen (the "*(n)" stage marker)
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("WholeStageCodegen") || plan.contains("*("), plan)
    assert(plan.contains("hamming("), plan)
  }

  test("GraftExtensions SQL functions equal their Column formulations") {
    GraftExtensions.registerAll(spark)
    val p = Corpus.Params(rows = 300, entities = 6)
    Corpus.events(spark, p).select(col("caption")).createOrReplaceTempView("ext_docs")
    val viaSql = spark.sql(
      """SELECT graft_fingerprint(caption) AS fp, graft_lang_id(caption) AS lid,
         graft_token_count(caption) AS tc, graft_quality(caption) AS q,
         graft_dup_word_frac(caption) AS dwf, graft_top_bigram_frac(caption) AS tbf,
         graft_signif(graft_quality(caption)) AS sg
         FROM ext_docs""").collect()
    val viaCol = spark.table("ext_docs").select(
      graft.functions.Text.fingerprint(col("caption")).as("fp"),
      graft.functions.Text.langId(col("caption")).as("lid"),
      graft.functions.Text.tokenCount(col("caption")).cast("long").as("tc"),
      graft.functions.Text.qualityScore(col("caption"), Corpus.Stopwords).as("q"),
      graft.functions.Text.dupWordFrac(col("caption")).as("dwf"),
      graft.functions.Text.topBigramFrac(col("caption")).as("tbf"),
      graft.operators.Stats.significance(
        graft.functions.Text.qualityScore(col("caption"), Corpus.Stopwords)).as("sg"))
      .collect()
    assert(viaSql.map(_.toSeq).toSeq == viaCol.map(_.toSeq).toSeq)
  }

  test("streaming session windows agree with batch sessionization counts") {
    val p = Corpus.Params(rows = 1500, entities = 8)
    val batch = Corpus.events(spark, p)
      .select(col("entity_id"), col("event_ms"), col("seq"), col("event_time"),
        lit(1.0).as("value"))
    // batch sessionize -> sessions per entity
    // gap chosen off the corpus' 60s time grid so the strict-vs-open
    // boundary semantics of batch (> gap) and session_window can't disagree
    val gapMs = 1790L * 1000L
    val sessions = graft.operators.Windows
      .sessionize(batch, "entity_id", "event_ms", gapMs, tie = Seq("seq"))
      .groupBy("entity_id").agg(countDistinct(col("session_idx")).as("n_sessions"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    // streaming session_window over the same bounded input via a file source
    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toString
    batch.coalesce(1).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(batch.schema).parquet(dir)
    StreamOps.runToMemory(
      StreamOps.sessionCounts(stream, "event_time", "entity_id",
        gap = "1790 seconds", watermark = "0 seconds"), "sess_out",
      org.apache.spark.sql.streaming.OutputMode.Complete)
    val streamed = spark.table("sess_out")
      .groupBy("entity_id").agg(count(lit(1)).as("n_sessions"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed == sessions,
      s"stream=$streamed\nbatch=$sessions")
  }

  test("streaming near-dup pairs equal the batch simhash pairs on a bounded corpus") {
    import org.apache.spark.sql.functions.{timestamp_millis => tsm}
    // captions with planted near-variants: every 5th caption re-arrives later
    // with one word changed (small edit -> simhash hamming usually <= 3)
    val p = Corpus.Params(rows = 600, entities = 6)
    val base = Corpus.events(spark, p).select(col("seq").as("doc_id"),
      col("caption"), col("event_ms"))
    val variants = base.where(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 100000L).as("doc_id"),
        concat(col("caption"), lit(" x")).as("caption"),
        (col("event_ms") + 3600000L).as("event_ms"))
    val docs = base.unionByName(variants)
      .withColumn("ts", tsm(col("event_ms")))

    // batch oracle: simhash signatures -> chunk-blocked hamming pairs
    val sigs = docs.select(col("doc_id"),
      graft.operators.Dedup.simhashFast(col("caption")).as("sim"))
    val batch = graft.operators.Dedup.hammingPairs(sigs, "doc_id", "sim",
        maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(batch.nonEmpty, "fixture planted no near-dup pairs — test is vacuous")

    val dir = java.nio.file.Files.createTempDirectory("graft-nd-stream").toString
    docs.coalesce(1).write.mode("overwrite").parquet(dir)
    StreamOps.runToMemory(
      StreamOps.nearDupPairs(
        spark.readStream.schema(docs.schema).parquet(dir),
        "doc_id", "caption", "ts", watermark = "365 days").toDF(),
      "nd_out")
    // NO distinct: the operator's per-pair-once contract (lowest shared
    // chunk emits) must hold on the raw output, as in batch hammingPairs
    val raw = spark.table("nd_out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong)).toSeq
    assert(raw.size == raw.distinct.size,
      s"duplicate emissions: ${raw.groupBy(identity).filter(_._2.size > 1).keys.take(3)}")
    val streamed = raw.toSet
    assert(streamed == batch,
      s"stream-only=${(streamed -- batch).take(3)} batch-only=${(batch -- streamed).take(3)}")
  }

  test("streaming snapshot ingestion: per-batch commits, content equals batch union") {
    val p = Corpus.Params(rows = 600, entities = 8)
    val ev = Corpus.events(spark, p).drop("bytes")
    val srcDir = java.nio.file.Files.createTempDirectory("graft-ingest-src").toString
    val root = java.nio.file.Files.createTempDirectory("graft-ingest-root").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ingest-ckpt").toString
    // two file arrivals with a full stop between (AvailableNow each time)
    ev.where(col("seq") < 300).coalesce(1).write.mode("append").parquet(srcDir)
    StreamOps.commitStream(
      spark.readStream.schema(ev.schema).parquet(srcDir),
      root, "entity_id", "event_ms", ckpt, buckets = 8)
    val id1 = graft.tables.SnapshotTable.currentId(root)
    assert(id1.contains(0L), s"first commit id=$id1")
    ev.where(col("seq") >= 300).coalesce(1).write.mode("append").parquet(srcDir)
    StreamOps.commitStream(
      spark.readStream.schema(ev.schema).parquet(srcDir),
      root, "entity_id", "event_ms", ckpt, buckets = 8)
    assert(graft.tables.SnapshotTable.currentId(root).contains(1L))
    val back = graft.tables.SnapshotTable.read(spark, root)
      .drop(graft.tables.SnapshotTable.BucketCol)
    assert(back.count() == 600)
    // lineage: second snapshot's buckets account for all 600 rows
    val lin = graft.tables.SnapshotTable.lineage(spark, root)
    assert(lin.where(col("snapshot_id") === 1L).agg(sum("rows")).head.getLong(0) == 600L)
  }

  test("commitStream upsert mode: a re-arriving key replaces, not duplicates") {
    val p = Corpus.Params(rows = 400, entities = 6)
    val ev = Corpus.events(spark, p).drop("bytes")
    val srcDir = java.nio.file.Files.createTempDirectory("graft-cdc-src").toString
    val root = java.nio.file.Files.createTempDirectory("graft-cdc-root").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cdc-ckpt").toString
    ev.coalesce(1).write.mode("append").parquet(srcDir)
    StreamOps.commitStream(
      spark.readStream.schema(ev.schema).parquet(srcDir),
      root, "entity_id", "event_ms", ckpt, buckets = 8, upsert = true)
    // CDC correction arrives: the first 50 keys re-delivered with a new
    // caption — append mode would duplicate them
    val corrected = ev.where(col("seq") < 50)
      .withColumn("caption", lit("CORRECTED"))
    corrected.coalesce(1).write.mode("append").parquet(srcDir)
    StreamOps.commitStream(
      spark.readStream.schema(ev.schema).parquet(srcDir),
      root, "entity_id", "event_ms", ckpt, buckets = 8, upsert = true)
    val back = graft.tables.SnapshotTable.read(spark, root)
    // upsert is delete-then-insert by (entity, event_ms): the corpus has
    // deliberate duplicate-ts rows, so compute the expectation instead of
    // assuming the original count
    val survivors = ev.join(
      corrected.select("entity_id", "event_ms").distinct(),
      Seq("entity_id", "event_ms"), "left_anti")
    val expected = survivors.count() + corrected.count()
    assert(back.count() == expected,
      s"CDC upsert: got ${back.count()}, expected $expected")
    assert(back.where(col("caption") === "CORRECTED").count() ==
      corrected.count())
  }

  test("commitStream crash-replay window: re-delivered batchId is not double-applied") {
    // foreachBatch is at-least-once: a crash AFTER SnapshotTable.commitDelta
    // swapped CURRENT but BEFORE the streaming checkpoint recorded the batch
    // makes the restarted query re-deliver the SAME batchId. Simulate that
    // exact window: pre-commit the first batch's content under the batchId a
    // fresh checkpoint will assign (0), then run the stream — the re-delivery
    // must be skipped, not appended a second time.
    val p = Corpus.Params(rows = 400, entities = 6)
    val ev = Corpus.events(spark, p).drop("bytes")
    val srcDir = java.nio.file.Files.createTempDirectory("graft-replay-src").toString
    val root = java.nio.file.Files.createTempDirectory("graft-replay-root").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-replay-ckpt").toString
    ev.coalesce(1).write.mode("append").parquet(srcDir)
    // "crashed run": the commit landed, the checkpoint did not
    graft.tables.SnapshotTable.commitDelta(
      spark.read.parquet(srcDir), root, "entity_id", "event_ms",
      buckets = 4, batchId = 0L)
    assert(graft.tables.SnapshotTable.read(spark, root).count() == 400)
    // "restarted run": fresh checkpoint re-delivers the files as batch 0
    StreamOps.commitStream(
      spark.readStream.schema(ev.schema).parquet(srcDir),
      root, "entity_id", "event_ms", ckpt, buckets = 4)
    assert(graft.tables.SnapshotTable.read(spark, root).count() == 400,
      "re-delivered batch was appended twice")
    assert(graft.tables.SnapshotTable.currentId(root).contains(0L))
  }

  test("streaming exact dedup keeps one row per text within the watermark") {
    // bounded corpus with PLANTED exact dups: every 10th caption re-arrives
    // later (well inside the watermark) and must be dropped
    val p = Corpus.Params(rows = 1200, entities = 6)
    val base = Corpus.events(spark, p)
      .select(col("caption"), col("event_time"), col("seq"))
    val replays = base.where(col("seq") % 10 === 0)
      .withColumn("event_time",
        col("event_time") + expr("INTERVAL 1 HOUR"))
      .withColumn("seq", col("seq") + 100000L)
    val batch = base.union(replays)
    val nDistinct = batch.select(countDistinct(col("caption"))).head().getLong(0)
    assert(nDistinct < batch.count(), "fixture has no duplicate captions — test is vacuous")

    val dir = java.nio.file.Files.createTempDirectory("graft-dedup-stream").toString
    batch.coalesce(1).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(batch.schema).parquet(dir)
    StreamOps.runToMemory(
      StreamOps.dedupExact(stream, "event_time", "caption", watermark = "365 days"),
      "dedup_out")
    val out = spark.table("dedup_out")
    assert(out.count() == nDistinct,
      s"streaming dedup kept ${out.count()} rows, want $nDistinct")
    assert(out.select(countDistinct(col("caption"))).head().getLong(0) == nDistinct)
  }

  test("repetition signals match hand-computed values on crafted docs") {
    import spark.implicits._
    val docs = Seq(
      ("a b a b",          0.5,   2.0 / 3),  // bigrams: "a b","b a","a b"
      ("x y z",            0.0,   0.5),      // all distinct; ties -> max 1 of 2
      ("w w w w",          0.75,  1.0),      // one bigram repeated
      ("solo",             0.0,   0.0),      // no bigrams
      ("",                 0.0,   0.0),
      ("  spaced   out  ", 0.0,   1.0)       // tokenizer must drop empties
    ).toDF("text", "dup", "top")
    val got = docs.select(col("dup"), col("top"),
      graft.functions.Text.dupWordFrac(col("text")).as("g_dup"),
      graft.functions.Text.topBigramFrac(col("text")).as("g_top")).collect()
    got.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(2)) < 1e-12, r.toString)
      assert(math.abs(r.getDouble(1) - r.getDouble(3)) < 1e-12, r.toString)
    }
  }

  test("windowedCounts works on the corpus event schema; mean is opt-in") {
    // the corpus event schema has no "value" column — counts alone must
    // analyze; passing a value column adds mean_v
    val ev = Corpus.events(spark, Corpus.Params(rows = 400, entities = 4))
    val counts = StreamOps.windowedCounts(ev, "event_time", "entity_id")
    assert(counts.schema.fieldNames.toSeq == Seq("window", "entity_id", "n"))
    val withMean = StreamOps.windowedCounts(ev, "event_time", "entity_id",
      valueCol = Some("w"))
    assert(withMean.schema.fieldNames.toSeq ==
      Seq("window", "entity_id", "n", "mean_v"))
    // run the counts variant end-to-end over a bounded stream
    val dir = java.nio.file.Files.createTempDirectory("graft-wc").toString
    ev.select("entity_id", "event_time").coalesce(1)
      .write.mode("overwrite").parquet(dir)
    val stream = spark.readStream
      .schema(ev.select("entity_id", "event_time").schema).parquet(dir)
    StreamOps.runToMemory(
      StreamOps.windowedCounts(stream, "event_time", "entity_id", "1 hour",
        watermark = "0 seconds"), "wc_out",
      org.apache.spark.sql.streaming.OutputMode.Complete)
    val got = spark.table("wc_out").agg(sum(col("n"))).head().getLong(0)
    assert(got == 400L)
  }

  test("nearDupPairs rejects a radius the 4-chunk blocking cannot honor") {
    val df = spark.range(1).selectExpr("'a' AS id", "'t' AS text",
      "timestamp_millis(0) AS ts")
    val e = intercept[IllegalArgumentException] {
      StreamOps.nearDupPairs(df, "id", "text", "ts", "1 hour", maxHamming = 4)
    }
    assert(e.getMessage.contains("hamming"))
  }
}

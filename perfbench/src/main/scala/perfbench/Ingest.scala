package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.corpus.Corpus
import graft.features.FeaturePipeline
import graft.tables.SnapshotTable

/** ingest_pit: micro-batch feature ingest into a `SnapshotTable` with
  * point-in-time lookups between batches, on local[4] with AQE coalescing
  * on. Set-up commits the backfill features of the first 90% of a seeded
  * corpus; each timed batch then takes the next slice of raw events through
  * featureState → featuresIncremental → commitDelta → compact(8), the steps
  * and the compaction threshold of `StreamOps.commitStream`.
  */
object Ingest {

  val Rows = 15000L
  val BaseFrac = 0.9
  val SliceRows = 300L
  val Buckets = 16
  val LookupsPerBatch = 3
  /** Batches a run times at least: three, or two traced and two untraced. */
  def minBatches(traced: Boolean): Int = if (traced) 4 else 3
  val ProbesPerKey = 16
  /** Trailing lookup window behind the table's watermark. */
  val WindowMs: Long = 24L * 60 * 60 * 1000
  /** GoldenFeatureSpec's tolerance for the one floating-point running mean. */
  val MeanTol = 1.5e-6

  def params(seed: Long): Corpus.Params = Corpus.Params(seed = seed, rows = Rows,
    entities = math.max(64, (Rows / 2000).toInt), partitions = 4)

  private def dirBytes(dirs: Seq[String]): (Int, Long) = {
    val files = dirs.distinct.flatMap { d =>
      val p = Paths.get(d)
      if (!Files.isDirectory(p)) Nil
      else Files.list(p).iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
    }
    (files.size, files.map(Files.size).sum)
  }

  private def sliceDirs(root: String): Seq[String] =
    SnapshotTable.currentSnapshot(root).map(_.buckets.map(_.dir)).getOrElse(Nil)

  /** The inputs, made once: the seeded corpus and its features from the
    * plain-window pipeline (which GoldenFeatureSpec holds equal to the
    * skew-safe one and to the incremental path), both the base the set-up
    * commits and the reference every check compares with.
    */
  private def inputs(ctx: Ctx, spark: SparkSession, p: Corpus.Params,
      corpus: String, reference: String): Unit = {
    ctx.tracer.span("corpus", "events+write") {
      Corpus.events(spark, p).write.mode("overwrite").parquet(corpus)
    }
    ctx.tracer.span("features", "features+write") {
      FeaturePipeline.features(spark.read.parquet(corpus), Corpus.dimFeatures(spark, p.seed),
        FeaturePipeline.entityDim(spark, p.entities)).write.mode("overwrite").parquet(reference)
    }
  }

  /** The set-up measured for `setup_s`: commit the base features to a new
    * table. Returns (wall s, CPU s).
    */
  private def setUp(ctx: Ctx, spark: SparkSession, split: Long, reference: String,
      root: String): (Double, Double) = {
    val (w, c, _) = ctx.measured(ctx.tracer.span("tables", "commit base") {
      SnapshotTable.commit(spark.read.parquet(reference).where(col("seq") < split),
        root, "entity_id", "event_ms", Buckets)
    })
    (w, c)
  }

  /** Rows of `df` that disagree with `want` on (entity_id, seq): every column
    * must match exactly except the running mean, which may differ by
    * [[MeanTol]]. Returns (mismatched rows, rows in df, rows in want).
    */
  def mismatches(df: DataFrame, want: DataFrame): (Long, Long, Long) = {
    val cols = want.columns.filterNot(Set("entity_id", "seq"))
    val j = df.as("a").join(want.as("b"), Seq("entity_id", "seq"), "full_outer")
    val bad = cols.map { c =>
      if (c == "running_quality_mean")
        !(col(s"a.$c").isNotNull && col(s"b.$c").isNotNull &&
          abs(col(s"a.$c") - col(s"b.$c")) <= MeanTol) &&
          !(col(s"a.$c").isNull && col(s"b.$c").isNull)
      else !(col(s"a.$c") <=> col(s"b.$c"))
    }.reduce(_ || _)
    val r = j.agg(sum(when(bad, 1L).otherwise(0L)), count(col("a.image_id")),
      count(col("b.image_id"))).head()
    (if (r.isNullAt(0)) 0L else r.getLong(0), r.getLong(1), r.getLong(2))
  }

  def run(ctx: Ctx): Outcome = {
    val p = params(ctx.conf.seed)
    val split = (p.rows * BaseFrac).toLong
    val corpus = ctx.path("data/ingest_corpus")
    val reference = ctx.path("data/ingest_reference")
    val spark = ctx.session(4, coalesce = true)
    val dim = Corpus.dimFeatures(spark, p.seed)
    val ed = FeaturePipeline.entityDim(spark, p.entities)
    val rootOf = (i: Int) => ctx.path(s"data/table$i")
    val setups = ctx.tracing(spark, on = true) {
      inputs(ctx, spark, p, corpus, reference)
      (1 to 3).map(i => setUp(ctx, spark, split, reference, rootOf(i)))
    }
    val root = rootOf(3)
    val refDf = spark.read.parquet(reference).cache()
    refDf.count()
    val rng = new scala.util.Random(ctx.conf.seed)
    val traced = ctx.conf.trace

    val batchS, committedS, lookupS, plainBatchS, batchCpuS, lookupCpuS =
      scala.collection.mutable.ArrayBuffer.empty[Double]
    val layer = scala.collection.mutable.LinkedHashMap.empty[String, scala.collection.mutable.ArrayBuffer[Double]]
    def note(k: String, v: Double): Unit =
      layer.getOrElseUpdate(k, scala.collection.mutable.ArrayBuffer.empty) += v
    // (keys, from, until, committed end seq, probes, result hash) per lookup
    val lookups = scala.collection.mutable.ArrayBuffer.empty[
      (Seq[String], Long, Long, Long, Seq[(String, Long)], (Long, Long))]
    def probeDf(probes: Seq[(String, Long)]) =
      spark.createDataFrame(probes).toDF("entity_id", "probe_ms")

    var end = split
    var batch = 0L
    def state() = FeaturePipeline.featureState(
      SnapshotTable.read(spark, root).drop(SnapshotTable.BucketCol))
    /** One micro-batch; returns wall seconds to committed and to compacted,
      * and its CPU seconds.
      */
    def oneBatch(on: Boolean): (Double, Double, Double) = {
      val hi = math.min(end + SliceRows, p.rows)
      val slice = spark.read.parquet(corpus).where(col("seq") >= end && col("seq") < hi)
      // a traced run times the two feature steps alone, into the noop sink,
      // before every batch, so traced and untraced batches start equally
      // warm; only the traced batches' probes are kept
      if (traced) {
        val stateS = ctx.timed(Ctx.noopSink(state()))._1
        val incS = ctx.timed(
          Ctx.noopSink(FeaturePipeline.featuresIncremental(state(), slice, dim, ed)))._1
        if (on) { note("features.state_s", stateS); note("features.incremental_s", incS) }
      }
      ctx.label(spark, s"ingest batch $batch")
      val before = sliceDirs(root).toSet
      val c0 = ctx.cpuS
      val t0 = System.nanoTime()
      val st = ctx.tracer.span("features", "featureState")(state())
      val inc = ctx.tracer.span("features", "featuresIncremental") {
        FeaturePipeline.featuresIncremental(st, slice, dim, ed)
      }
      val tc = System.nanoTime()
      ctx.tracer.span("tables", "commitDelta") {
        SnapshotTable.commitDelta(inc, root, "entity_id", "event_ms", Buckets, batchId = batch)
      }
      val t1 = System.nanoTime()
      val written = sliceDirs(root).filterNot(before)
      val (files, bytes) = dirBytes(written)
      val afterCommit = sliceDirs(root).toSet
      ctx.tracer.span("tables", "compact") { SnapshotTable.compact(spark, root, maxSlices = 8) }
      val t2 = System.nanoTime()
      val cpu = ctx.cpuS - c0
      val (_, rewritten) = dirBytes(sliceDirs(root).filterNot(afterCommit))
      note("tables.commit_delta_s", (t1 - tc) / 1e9)
      note("tables.files_written_per_commit", files)
      note("tables.bytes_written_per_row", bytes.toDouble / (hi - end))
      note("tables.compact_s", (t2 - t1) / 1e9)
      note("tables.compact_bytes_rewritten", rewritten.toDouble)
      end = hi
      batch += 1
      ((t1 - t0) / 1e9, (t2 - t0) / 1e9, cpu)
    }

    def oneLookup(on: Boolean): Unit = {
      val wm = SnapshotTable.watermark(root).get
      val (from, until) = (wm - WindowMs, wm)
      val cold = Seq.fill(2)("e%05d".format(1 + rng.nextInt(p.entities - 1))).distinct
      val keys = "e00000" +: cold
      val probes = keys.flatMap(k =>
        Seq.fill(ProbesPerKey)(k -> (from + (rng.nextDouble() * WindowMs).toLong)))
      ctx.label(spark, "pit lookup")
      val c0 = ctx.cpuS
      val t0 = System.nanoTime()
      val got = ctx.tracer.span("tables", "readEntities") {
        SnapshotTable.readEntities(spark, root, keys, from = Some(from), until = Some(until))(
          org.apache.spark.sql.Encoders.STRING)
          .drop(SnapshotTable.BucketCol)
      }
      val h = ctx.tracer.span("features", "asOfFeatures") {
        Ctx.hashSink(FeaturePipeline.asOfFeatures(probeDf(probes), got))
      }
      val dt = (System.nanoTime() - t0) / 1e9
      lookupCpuS += ctx.cpuS - c0
      lookupS += dt
      if (traced) { // after every lookup of a traced run, kept from the traced ones
        val readS = ctx.timed(Ctx.noopSink(got))._1
        val opened = got.inputFiles.map(f => f.substring(0, f.lastIndexOf('/'))).distinct.length
        if (on) {
          note("tables.read_entities_s", readS)
          note("features.asof_s", math.max(0.0, dt - readS))
          note("tables.slices_opened_per_lookup", opened)
        }
      }
      lookups += ((keys, from, until, end, probes, h))
    }

    ctx.listener.foreach(_.clear())
    val deadline = System.nanoTime() + ctx.conf.seconds * 1000000000L
    // a traced run alternates untraced and traced batches, for the overhead;
    // the first failure ends the timed loop
    var tracedWallS = 0.0
    while (end < p.rows && ctx.problems.isEmpty &&
      (batch < minBatches(traced) || System.nanoTime() < deadline)) {
      val i = batch
      val on = traced && i % 2 == 1
      val w0 = System.nanoTime()
      ctx.tracing(spark, on) {
        ctx.attempt(s"ingest batch $i") {
          val (committed, t, cpu) = oneBatch(on)
          if (!traced || on) { batchS += t; committedS += committed; batchCpuS += cpu }
          else if (i > 0) plainBatchS += t // batch 0 runs cold: no overhead sample
        }
        (1 to LookupsPerBatch).foreach(_ => ctx.attempt("pit lookup")(oneLookup(on)))
      }
      if (on) tracedWallS += (System.nanoTime() - w0) / 1e9
    }
    val stages = ctx.listener.map(_.stages()).getOrElse(Nil)

    // correctness: every lookup against the reference, then the whole table
    // (all lookups in one job: each one's probes and reference rows carry
    // its index in the entity key, which keeps them apart in the as-of join
    // and is stripped again before the rows are hashed)
    if (lookups.nonEmpty) {
      def tag(i: Int) = concat(lit(s"$i:"), col("entity_id"))
      val want = lookups.zipWithIndex.map { case ((keys, from, until, upTo, _, _), i) =>
        refDf.where(col("seq") < upTo && col("entity_id").isin(keys: _*) &&
          col("event_ms").between(from, until)).withColumn("entity_id", tag(i))
      }.reduce(_ union _)
      val probes = lookups.zipWithIndex.flatMap { case (l, i) =>
        l._5.map { case (k, t) => (s"$i:$k", t) } }.toSeq
      val joined = FeaturePipeline.asOfFeatures(probeDf(probes), want)
      val rowHash = joined.columns.map(c =>
        if (c == "entity_id") xxhash64(substring_index(col(c), ":", -1)) else xxhash64(col(c)))
        .reduce(_ bitwiseXOR _)
      val exp = joined.select(substring_index(col("entity_id"), ":", 1).cast("int").as("i"),
          rowHash.as("h"))
        .groupBy("i").agg(count(lit(1)), expr("bit_xor(h)")).collect()
        .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      lookups.zipWithIndex.foreach { case ((keys, from, until, _, _, h), i) =>
        val e = exp.getOrElse(i, (0L, 0L))
        ctx.expect(e == h, s"lookup ${keys.mkString(",")} [$from,$until] hash $h != reference $e")
      }
    }
    val table = SnapshotTable.read(spark, root).drop(SnapshotTable.BucketCol)
    val (bad, have, want) = mismatches(table, refDf.where(col("seq") < end))
    ctx.check(bad == 0 && have == want && have == end,
      s"final table: $bad mismatched rows, $have rows vs $want in the reference (end $end)")

    val snap = SnapshotTable.currentSnapshot(root).get
    val (_, tableBytes) = dirBytes(snap.buckets.map(_.dir))
    val rows = snap.buckets.map(_.rows).sum
    val lookupTail = Stats.tail(lookupS.toSeq)
    val report = Seq(
      f"ingest_pit rows=${p.rows} base=$split slice=$SliceRows batches=${batchS.size} lookups=${lookupS.size}",
      f"  ingest_batch_p50_s    ${Stats.median(committedS.toSeq)}%.4f s (slice to committed; with compaction ${Stats.median(batchS.toSeq)}%.4f s)",
      f"  pit_lookup_p50_s      ${Stats.median(lookupS.toSeq)}%.4f s",
      lookupTail.map { case (pc, v) => f"  pit_lookup_tail_s     $v%.4f s (p$pc of ${lookupS.size})" }
        .getOrElse(s"  pit_lookup_tail_s     n/a (${lookupS.size} lookups leave fewer than 10 beyond the median)"),
      f"  table_bytes_per_row   ${tableBytes.toDouble / rows}%.2f B",
      f"  batch_cpu_p50_s       ${Stats.median(batchCpuS.toSeq)}%.4f s (JVM CPU)",
      f"  lookup_cpu_p50_s      ${Stats.median(lookupCpuS.toSeq)}%.4f s (JVM CPU)",
      f"  setup_s               ${Stats.median(setups.map(_._2))}%.4f s (JVM CPU; wall ${Stats.median(setups.map(_._1))}%.4f s)")
    val detail = scala.collection.mutable.LinkedHashMap[String, Any](
      "report" -> report, "rows" -> p.rows, "base_rows" -> split, "slice_rows" -> SliceRows,
      "setup_wall_s" -> setups.map(_._1), "setup_cpu_s" -> setups.map(_._2),
      "batch_s" -> batchS.toSeq, "committed_s" -> committedS.toSeq,
      "batch_cpu_s" -> batchCpuS.toSeq, "lookup_cpu_s" -> lookupCpuS.toSeq,
      "lookup_s" -> lookupS.toSeq,
      "pit_lookup_tail" -> lookupTail.map { case (pc, v) => Map("percentile" -> pc, "s" -> v) },
      "table_bytes_per_row" -> tableBytes.toDouble / rows, "slices_live" -> snap.buckets.size)
    if (traced) detail ++= layer.map { case (k, v) => k -> Stats.median(v.toSeq) } ++
      Map("tables.slices_live" -> snap.buckets.size)
    val metrics =
      if (traced) Layers.engine(ctx, stages, tracedWallS, 4, batchS.toSeq, plainBatchS.toSeq, detail)
      else Map("setup_s" -> (Stats.median(setups.map(_._2)), "s"),
        "op_cpu_s" -> (Stats.median(batchCpuS.toSeq), "s"),
        "aux_cpu_s" -> (Stats.median(lookupCpuS.toSeq), "s"))
    refDf.unpersist()
    Outcome(metrics, detail.toMap)
  }
}

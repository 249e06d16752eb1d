package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FileSourceScanExec

import graft.corpus.Corpus
import graft.features.FeaturePipeline

/** corpus_backfill: the flagship batch job. `featuresSkewSafe` over a
  * seeded corpus parquet table, hashed by `graft.Bench`'s sink, timed at
  * local[4] and then local[1] on the same 128-partition plan with AQE
  * coalescing off, so only the executor thread count differs.
  */
object Backfill {

  val Rows = 200000L
  val CorpusFiles = 16

  def params(seed: Long): Corpus.Params = Corpus.Params(seed = seed, rows = Rows,
    entities = math.max(64, (Rows / 2000).toInt), partitions = CorpusFiles)

  /** Time bounds are a pure function of the generator, as in `graft.Bench`. */
  def bounds(p: Corpus.Params): (Long, Long) =
    (Corpus.eventMsOf(p.seed, 0L, p.baseMs, p.stepMs),
      Corpus.eventMsOf(p.seed, p.rows - 1, p.baseMs, p.stepMs))

  def features(spark: SparkSession, path: String, p: Corpus.Params) =
    FeaturePipeline.featuresSkewSafe(spark.read.parquet(path),
      Corpus.dimFeatures(spark, p.seed), FeaturePipeline.entityDim(spark, p.entities),
      bounds = Some(bounds(p)))

  /** One pass: plan, run, hash. Returns (wall s, CPU s, (rows, digest)). */
  def pass(ctx: Ctx, spark: SparkSession, path: String, p: Corpus.Params,
      tag: String): (Double, Double, (Long, Long)) = {
    ctx.label(spark, s"backfill $tag")
    val r = ctx.measured(ctx.tracer.span("features", s"featuresSkewSafe $tag") {
      try Ctx.hashSink(features(spark, path, p))
      finally FeaturePipeline.releaseCaches()
    })
    System.err.println(f"[perfbench] backfill $tag ${r._1}%.3f s rows=${r._3._1} digest=${r._3._2}")
    r
  }

  /** Writes the corpus table, the set-up step measured for `setup_s`;
    * returns its CPU seconds.
    */
  def writeCorpus(ctx: Ctx, spark: SparkSession, path: String, p: Corpus.Params): Double =
    ctx.measured(ctx.tracer.span("corpus", "events+write") {
      Corpus.events(spark, p).write.mode("overwrite").parquet(path)
    })._2

  /** The first run of an input records its digest in the work directory;
    * every later run must match it.
    */
  def agreesWithEarlierRuns(ctx: Ctx, key: String, digest: (Long, Long)): Boolean = {
    val f = Paths.get(ctx.path(s"digests/$key"))
    val mine = s"${digest._1} ${digest._2}"
    if (Files.exists(f)) new String(Files.readAllBytes(f), StandardCharsets.UTF_8).trim == mine
    else { Files.write(f, mine.getBytes(StandardCharsets.UTF_8)); true }
  }

  /** The step of the skew-safe plan a stage runs, from its operators: the
    * scan with the scalar kernel; phase-1 windows with the per-bucket summary
    * aggregate; the carries' prefix windows; the merge join with the sink.
    */
  def stageStep(s: StageRecord): String = {
    val agg = s.ops.exists(_.endsWith("Aggregate"))
    if (s.ops.exists(_.startsWith("Scan parquet"))) "scan_kernel"
    else if (s.ops.contains("ShuffledHashJoin") || (agg && !s.ops.contains("Window"))) "merge_sink"
    else if (s.ops.contains("Window")) if (agg) "phase1_windows" else "summary_carries"
    else "other"
  }

  def run(ctx: Ctx): Outcome = {
    val p = params(ctx.conf.seed)
    val path = ctx.path("data/backfill_corpus")
    val secs = ctx.conf.seconds
    var spark = ctx.session(4, coalesce = false)
    val setups = ctx.tracing(spark, on = true)((1 to 3).map(_ => writeCorpus(ctx, spark, path, p)))

    val digests = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    pass(ctx, spark, path, p, "warm local[4]")
    val detail = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    if (ctx.conf.trace) {
      val cols = features(spark, path, p).queryExecution.sparkPlan.collect {
        case s: FileSourceScanExec => s.requiredSchema.fieldNames.toSeq
      }.flatten.distinct
      ctx.label(spark, "probe scan")
      val scanS = Stats.median((1 to 3).map(_ => ctx.timed(
        Ctx.noopSink(spark.read.parquet(path).select(cols.map(org.apache.spark.sql.functions.col): _*))
      )._1))
      detail("features.scan_s") = scanS
      detail("features.scan_columns") = cols
    }

    // a traced run alternates untraced and traced passes, for the overhead
    val plain4 = scala.collection.mutable.ArrayBuffer.empty[Double]
    /** (wall s, CPU s) of each timed pass at `cores` threads. */
    def level(cores: Int, windowS: Double, minPasses: Int): Seq[(Double, Double)] = {
      val end = System.nanoTime() + (windowS * 1e9).toLong
      val ts = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
      var i = 0
      while (ctx.problems.isEmpty && (ts.size < minPasses || System.nanoTime() < end)) {
        val on = ctx.conf.trace && cores == 4 && i % 2 == 1
        ctx.tracing(spark, on)(ctx.attempt(s"backfill local[$cores]") {
          val (t, c, d) = pass(ctx, spark, path, p, s"local[$cores]")
          digests += d
          if (ctx.conf.trace && cores == 4 && !on) plain4 += t else ts += ((t, c))
        })
        i += 1
      }
      ts.toSeq
    }

    ctx.listener.foreach(_.clear())
    val (t4, c4) = level(4, secs * 0.4, 2).unzip
    val stages4 = ctx.listener.map(_.stages()).getOrElse(Nil)
    spark = ctx.session(1, coalesce = false)
    val (t1, c1) = level(1, secs * 0.6, 2).unzip

    val want = digests.headOption
    digests.foreach(d => ctx.expect(Some(d) == want && d._1 == p.rows,
      s"backfill digest $d differs from ${want.getOrElse("-")} (rows ${p.rows})"))
    want.foreach(d => ctx.check(agreesWithEarlierRuns(ctx, s"backfill-${p.seed}-${p.rows}", d),
      s"backfill digest $d differs from an earlier run's for seed ${p.seed}"))

    val op = Stats.median(t4)
    val aux = Stats.median(t1)
    val report = Seq(
      f"corpus_backfill rows=${p.rows} files=$CorpusFiles entities=${p.entities} passes local[4]=${t4.size} local[1]=${t1.size}",
      f"  backfill_rows_per_s   ${p.rows / op}%.1f rows/s (local[4] median ${op}%.4f s)",
      f"  backfill_scaling_eff  ${aux / op / 4}%.4f (local[1] median ${aux}%.4f s)",
      f"  pass_cpu_s            local[4] ${Stats.median(c4)}%.4f s, local[1] ${Stats.median(c1)}%.4f s (JVM CPU)",
      f"  setup_s               ${Stats.median(setups)}%.4f s (JVM CPU)")
    detail ++= Map("report" -> report, "rows" -> p.rows, "files" -> CorpusFiles,
      "local4_s" -> t4, "local1_s" -> t1, "local4_cpu_s" -> c4, "local1_cpu_s" -> c1,
      "setup_cpu_s" -> setups,
      "backfill_rows_per_s" -> p.rows / op, "backfill_scaling_eff" -> aux / op / 4,
      "digest" -> want.map(_._2))
    val metrics =
      if (ctx.conf.trace) Layers.engine(ctx, stages4, t4.sum, 4, t4, plain4.toSeq, detail)
      else Map("setup_s" -> (Stats.median(setups), "s"),
        "op_cpu_s" -> (Stats.median(c4), "s"), "aux_cpu_s" -> (Stats.median(c1), "s"))
    if (ctx.conf.trace)
      detail ++= stages4.groupBy(stageStep).map { case (k, ss) =>
        s"features.stage.${k}_s" -> ss.map(_.runMs).sum / 1e3 / math.max(t4.size, 1)
      }
    Outcome(metrics, detail.toMap)
  }
}

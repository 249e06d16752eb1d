package graft.features

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

import graft.corpus.Corpus
import graft.functions.{HouseRound, Text}
import graft.operators.{AsOf, Windows}

/** Flagship pipeline: per-entity×timestamp feature vectors over the
  * image+caption corpus (BASELINE.json north_star).
  *
  * Generalizes the reference's fold-local feature derivation
  * (`train_functions.R:138-176`: stats from the training partition only,
  * applied forward) to event time: every feature at time t is a function of
  * events with event_time <= t only — enforced structurally by
  * unbounded-PRECEDING window frames and the as-of join, and proven by the
  * leakage property suite.
  *
  * Plan shape (scale notes):
  *  - scalar caption/phash features: pure projections, zero shuffle,
  *    whole-stage codegen;
  *  - dimension feature table (the text-mining rank-table analog,
  *    `text_mining_feature/Erlotinib.csv:1`): collected once on the driver
  *    (it is small by definition) and shipped as literal maps inside the
  *    plan — broadcast semantics with zero join shuffle;
  *  - entity metadata: broadcast hash join (no shuffle of the fact side);
  *  - every temporal feature comes from ONE algebra, [[localWindows]] +
  *    [[repairBoundary]] from a carry (the summary of earlier rows);
  *    [[features]], its carry-free case, hashes by entity and sorts by
  *    (entity, time, seq) → exactly one shuffle + one sort end-to-end.
  */
object FeaturePipeline {

  /** Operator-internal persists (e.g. the dedup inverted index in
    * [[graft.operators.Dedup]]) register in [[graft.operators.Caches]];
    * callers own the lifecycle — release once the output is materialized
    * (Bench/Verify do, after each query/rep).
    */
  def releaseCaches(): Unit = graft.operators.Caches.releaseAll()

  /** Input columns no feature row carries (event_time duplicates event_ms). */
  private val Payload = Seq("bytes", "caption", "fmt", "event_time")

  private def entityWindow = Windows.entityWindow("entity_id", "event_ms", Seq("seq"))

  /** Closure-captured dim-table entry (allocation-free probe in the UDF). */
  final case class DimEntry(rank: Int, score: Double)

  /** Rail for the driver-side dim collect in [[scalarFeatures]]: ~1M
    * (topic, token, rank, score) rows ≈ low hundreds of MB on the driver —
    * far above any real dimension feature table (the reference's rank
    * tables are ~1k rows/topic) and far below driver OOM. Overridable per
    * process with the `graft.maxDimRows` system property, for deliberate
    * outliers and for the spec that exercises the rail.
    */
  def maxDimRows: Int = sys.props.get("graft.maxDimRows")
    .map(_.toInt).getOrElse(1000000)

  /** Tiny per-entity metadata table: entity → topic assignment (broadcast). */
  def entityDim(spark: SparkSession, entities: Int, topics: Int = 5): DataFrame = {
    import spark.implicits._
    (0 until entities)
      .map(e => ("e%05d".format(e), "topic%d".format(e % topics)))
      .toDF("entity_id", "topic")
  }

  /** Shared scalar block: entity-dim broadcast join + single-pass token
    * features. Used by both [[features]] and [[featuresSkewSafe]].
    */
  private def scalarFeatures(events: DataFrame, dim: DataFrame,
      entDim: DataFrame): DataFrame = {

    // --- the small dimension feature table rides inside the UDF closure ----
    // (driver-side collect of a SMALL dim only; never of fact data).
    // Hard size rail, checked BEFORE the collect materializes on the driver
    // (limit bound+1 caps what ever crosses the wire): an oversized "dim"
    // is fact data mis-routed here, and must fail fast with a clear message
    // instead of OOMing the driver — same contract as Stats.kendall's
    // per-group rail.
    val bound = maxDimRows
    val dimRows = dim.select("topic", "token", "rank", "score")
      .limit(bound + 1).collect()
    if (dimRows.length > bound)
      throw new IllegalStateException(
        s"FeaturePipeline: dim table exceeds maxDimRows=$bound rows. " +
          "The dimension feature table is broadcast into a driver-side UDF " +
          "closure by design (SURVEY §2.12); a table this size is fact-" +
          "scale, not a dimension — pre-aggregate it, or join it as a " +
          "regular (broadcast) DataFrame instead.")
    val byTopic = new java.util.HashMap[String, java.util.HashMap[String, DimEntry]]()
    dimRows.foreach { r =>
      byTopic.computeIfAbsent(r.getString(0), _ => new java.util.HashMap[String, DimEntry]())
        .put(r.getString(1), DimEntry(r.getInt(2), r.getDouble(3)))
    }

    val stop = Corpus.Stopwords

    // --- entity metadata: broadcast hash join (no fact shuffle) ------------
    val withTopic = events.join(broadcast(entDim), Seq("entity_id"), "left")

    // --- scalar caption + dim-token features (projection only) -------------
    // ONE traversal of the token array computes every token-derived feature.
    // Two prior formulations were benchmarked and rejected:
    //  (a) per-feature Column expressions: each feature re-tokenized the
    //      caption and checked stopwords with 30 isin string compares;
    //  (b) a single aggregate() HOF with typedLit(Map) lookups: Catalyst map
    //      LITERALS are ArrayBasedMapData — map_contains_key/element_at do a
    //      LINEAR SCAN (O(|dim|) string compares per probe), ~7 ms/row.
    // A typed UDF with closure-captured Scala HashMaps does O(1) probes per
    // token; this is the documented exception to the expressions-first
    // policy (SURVEY §2.12), justified by measurement. Tokenization matches
    // Text.tokens (trim + split \s+ + drop empties) — golden-spec'd.
    val stopSet = stop.toSet
    val tfUdf = udf((topic: String, caption: String) => {
      // fastTokens = exact \s+ tokenizer without per-call Pattern
      // compilation (golden-spec'd equal to Text.tokens)
      val toks = Text.fastTokens(caption)
      var n = 0; var sw = 0; var dm = 0; var dmr = Int.MaxValue; var dss = 0.0
      val tm = if (topic == null) null else byTopic.get(topic)
      var i = 0
      while (i < toks.length) {
        val t = toks(i)
        n += 1
        if (stopSet(t)) sw += 1
        if (tm != null) {
          val e = tm.get(t)
          if (e != null) { dm += 1; if (e.rank < dmr) dmr = e.rank; dss += e.score }
        }
        i += 1
      }
      // punctuation-codepoint count, folded into this same pass (round 6):
      // the KernelTwins.punctRatio expression ran a full regexp_replace
      // building a stripped COPY of every caption just to count
      // [^a-zA-Z0-9\s] chars — a second corpus-sized string pass. This
      // counts codepoints exactly as the regex does (codepoints over U+007F
      // never match the class).
      var pc = 0
      if (caption != null) {
        var ci = 0
        while (ci < caption.length) {
          val cp = caption.codePointAt(ci)
          if (!(Text.isAsciiAlnum(cp) || Text.isWs(cp))) pc += 1
          ci += Character.charCount(cp)
        }
      }
      (n, sw, dm, dmr, dss, pc)
    })
    // (CollapseProject never duplicates non-cheap exprs like UDF calls, so
    // the single "__tf" alias is evaluated once per row.)
    val tf = tfUdf(col("topic"), col("caption"))
      .cast("struct<n:int,sw:int,dm:int,dmr:int,dss:double,pc:int>")
    // the quality formula, checked against GoldenFeatureSpec's scalar
    // `quality` (its golden)
    val nD = col("__tf")("n").cast("double")
    val swr = when(col("__tf")("n") > 0, col("__tf")("sw") / nD).otherwise(lit(0.0))
    val lenScore = least(nD / lit(8.0), lit(1.0))
    // same value as KernelTwins.punctRatio(caption): pc is the
    // kernel-counted twin of
    // length(regexp_replace(caption, "[a-zA-Z0-9\\s]", "")), and the
    // Int -> double division is unchanged (KernelTwinSpec)
    val punct = when(length(col("caption")) > 0,
      col("__tf")("pc").cast("double") / length(col("caption")))
      .otherwise(lit(0.0))
    val swScore = lit(1.0) - abs(swr - lit(0.35)) / lit(0.65)
    val scalar = withTopic
      .withColumn("__tf", tf)
      .withColumn("token_count", col("__tf")("n").cast("long"))
      .withColumn("caption_len", length(col("caption")).cast("long"))
      .withColumn("stopword_ratio", round(swr, 6))
      .withColumn("quality", round(greatest(lit(0.0), least(lit(1.0),
        lenScore * lit(0.4) + (lit(1.0) - punct) * lit(0.3) + swScore * lit(0.3))), 6))
      .withColumn("dim_matched", col("__tf")("dm").cast("long"))
      .withColumn("dim_min_rank",
        when(col("__tf")("dm") > 0, col("__tf")("dmr")))
      // dss is an order-sensitive double sum (token order here, join order
      // in a SQL oracle)
      .withColumn("dim_score_sum", HouseRound(col("__tf")("dss"), 6))
      // a sparsely-populated signal to demonstrate rolling backfill
      .withColumn("sparse_quality", when(col("token_count") >= 6, col("quality")))
      .drop("__tf")
    scalar
  }

  /** The "local" temporal-window block shared by [[features]] (per
    * entity), [[featuresSkewSafe]] (per (entity, time-bucket) partitions)
    * and [[featuresIncremental]] (per entity over the new slice): row
    * number, gap to previous event, previous phash, session-start flag,
    * local session index, in-session position, running quality sum, last
    * non-null sparse value. ONE definition of the session/gap algebra, so
    * a future change cannot be applied to one path and silently diverge
    * the others — exactly the equivalence GoldenFeatureSpec protects.
    */
  private def localWindows(df: DataFrame, w: WindowSpec, gapMs: Long): DataFrame = {
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__lrn", row_number().over(w))
      .withColumn("__lgap", col("event_ms") - lag(col("event_ms"), 1).over(w))
      .withColumn("__lphash_prev", lag(col("phash"), 1).over(w))
      .withColumn("__lnew",
        when(col("__lgap").isNull || col("__lgap") > gapMs, 1L).otherwise(0L))
      .withColumn("__lsess", sum(col("__lnew")).over(wRun))
      .withColumn("__lpos",
        col("__lrn") - last(when(col("__lnew") === 1L, col("__lrn")), ignoreNulls = true).over(wRun))
      .withColumn("__lqsum", sum(col("quality")).over(wRun))
      .withColumn("__lfilled", last(col("sparse_quality"), ignoreNulls = true).over(wRun))
  }

  /** Repairs [[localWindows]]' columns across the boundary to the earlier
    * rows a carry summarizes, then drops the local columns. The carry is
    * the last carried event's time and phash, the carried session count,
    * `bnew` (1 if the boundary gap opens a new session, else 0), the length
    * of the session still open at the boundary, the last non-null sparse
    * value, and the carried quality sum and row count. ONE definition of
    * the repair algebra for [[features]] (the empty carry: nothing came
    * before), [[featuresSkewSafe]]'s bucket merge (the carry is all earlier
    * buckets) and [[featuresIncremental]] (the carry is the state table),
    * for the same reason [[localWindows]] is one.
    */
  private def repairBoundary(df: DataFrame, lastMs: Column, lastPhash: Column,
      sessCnt: Column, bnew: Column, openLen: Column, lastSparse: Column,
      qsum: Column, n: Column): DataFrame =
    df.withColumn("dt_prev_ms",
        when(col("__lrn") > 1, col("__lgap")).otherwise(col("event_ms") - lastMs))
      .withColumn("__prev_phash",
        when(col("__lrn") > 1, col("__lphash_prev")).otherwise(lastPhash))
      .withColumn("phash_prev_hamming",
        graft.functions.HammingDistance.hamming(col("phash"), col("__prev_phash")))
      // the carry terms in one subtree, so a literal carry folds to one constant
      .withColumn("session_idx", col("__lsess") + (sessCnt + bnew - 2L))
      .withColumn("session_pos",
        (col("__lpos") + when(col("__lsess") === 1L && bnew === 0L, openLen)
          .otherwise(lit(0L))).cast("int"))
      .withColumn("quality_filled", coalesce(col("__lfilled"), lastSparse))
      .withColumn("running_quality_mean",
        HouseRound((qsum + col("__lqsum")) / (n + col("__lrn")), 6))
      .drop("__lrn", "__lgap", "__lphash_prev", "__lnew", "__lsess", "__lpos",
        "__lqsum", "__lfilled", "__prev_phash")

  /** Compute the feature vector table from an event-shaped corpus: the
    * local windows over each entity's timeline, from the empty carry.
    *
    * @param events  columns: image_id, caption, phash, entity_id, event_ms, seq
    * @param dim     dimension feature table (topic, token, rank, n, n_pos, score)
    * @param entDim  entity metadata (entity_id, topic)
    * @param gapMs   sessionization gap threshold
    */
  def features(events: DataFrame, dim: DataFrame, entDim: DataFrame,
      gapMs: Long = Corpus.SessionGapMs): DataFrame = {
    val local = localWindows(scalarFeatures(events, dim, entDim).drop(Payload: _*),
      entityWindow, gapMs)
    repairBoundary(local, lastMs = lit(null).cast("long"),
      lastPhash = lit(null).cast("long"), sessCnt = lit(0L), bnew = lit(1L),
      openLen = lit(0L), lastSparse = lit(null).cast("double"), qsum = lit(0.0),
      n = lit(0L))
  }

  /** Skew-safe variant of [[features]]: identical output (equivalence
    * asserted in GoldenFeatureSpec), but every per-entity window runs over
    * (entity, time-bucket) partitions so a Zipf-hot entity's timeline spreads
    * across `timeBuckets` tasks — the parallel prefix-scan formulation of the
    * running features:
    *
    *  phase 1: within each (entity, bucket), local lag/session/running
    *           features + one small per-bucket summary row;
    *  phase 2: per-entity prefix scan over the TINY summary table (carries:
    *           row counts, quality sums, true-session starts, last phash/ms,
    *           open-session length, last sparse value);
    *  final:   broadcast-join the carries back and repair the bucket
    *           boundaries in a projection.
    *
    * This is what the per-entity ordered features need at 10^12 rows —
    * without it one hot entity serializes a whole stage (measured: scaling
    * efficiency 0.40 with the plain window vs the hot entity holding ~12%
    * of all rows).
    */
  def featuresSkewSafe(events: DataFrame, dim: DataFrame, entDim: DataFrame,
      gapMs: Long = Corpus.SessionGapMs, timeBuckets: Int = 64,
      bounds: Option[(Long, Long)] = None): DataFrame = {
    // bounds from the raw input, never the scalar features (UDF block twice)
    val bucketOf = Windows.timeBuckets(events.select(col("event_ms")), bounds, timeBuckets)
    // drop the payload columns BEFORE phase 1: no later phase reads them
    val withBkt = scalarFeatures(events, dim, entDim).drop(Payload: _*)
      .withColumn("__bkt", bucketOf(col("event_ms")))

    // --- phase 1: local windows over (entity, bucket) -----------------------
    val w1 = Window.partitionBy(col("entity_id"), col("__bkt"))
      .orderBy(col("event_ms"), col("seq"))
    // phase-1 output feeds BOTH the summary and the final merge; each
    // consumer recomputes it (measured faster than a persist round trip)
    val local = localWindows(withBkt, w1, gapMs)

    // --- per-bucket summary (|entities| x buckets rows — tiny) --------------
    val summary = local.groupBy(col("entity_id"), col("__bkt"))
      .agg(
        count(lit(1)).as("cnt"),
        min(col("event_ms")).as("first_ms"),
        max(col("event_ms")).as("last_ms"),
        max(struct(col("event_ms"), col("seq"), col("phash"))).as("__lastRow"),
        max(col("__lsess")).as("sess_cnt"),
        max(when(col("__lnew") === 1L && col("__lrn") > 1, col("__lrn"))).as("last_int_start"),
        sum(col("quality")).as("qsum"),
        max(when(col("sparse_quality").isNotNull,
          struct(col("event_ms"), col("seq"), col("sparse_quality")))).as("__lastSparse"))
      .select(col("entity_id"), col("__bkt"), col("cnt"), col("first_ms"),
        col("last_ms"), col("__lastRow")("phash").as("last_phash"),
        col("sess_cnt"), col("last_int_start"), col("qsum"),
        col("__lastSparse")("sparse_quality").as("last_sparse"))

    // --- phase 2: per-entity prefix scan over the summary --------------------
    val ws = Window.partitionBy(col("entity_id")).orderBy(col("__bkt"))
    val wsPrev = ws.rowsBetween(Window.unboundedPreceding, -1)
    val wsRun = ws.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carries = summary
      .withColumn("prev_last_ms", lag(col("last_ms"), 1).over(ws))
      .withColumn("prev_last_phash", lag(col("last_phash"), 1).over(ws))
      .withColumn("bnew",
        when(col("prev_last_ms").isNull ||
          col("first_ms") - col("prev_last_ms") > gapMs, 1L).otherwise(0L))
      .withColumn("carry_cnt", coalesce(sum(col("cnt")).over(wsPrev), lit(0L)))
      .withColumn("carry_qsum", coalesce(sum(col("qsum")).over(wsPrev), lit(0.0)))
      // true session starts contributed by each bucket (local row-1 start is
      // real only when the boundary opened a new session)
      .withColumn("carry_sess",
        coalesce(sum(col("sess_cnt") - (lit(1L) - col("bnew"))).over(wsPrev), lit(0L)))
      .withColumn("carry_sparse", last(col("last_sparse"), ignoreNulls = true).over(wsPrev))
      // open-session length at end of each bucket: cumulative rows minus the
      // cumulative row index where the most recent TRUE session start sits
      .withColumn("__true_tail",
        when(col("last_int_start").isNotNull, col("cnt") - col("last_int_start") + 1L)
          .otherwise(when(col("bnew") === 1L, col("cnt"))))
      .withColumn("__anchor_cum",
        last(when(col("__true_tail").isNotNull,
          col("carry_cnt") + col("cnt") - col("__true_tail")), ignoreNulls = true).over(wsRun))
      .withColumn("open_at_end", col("carry_cnt") + col("cnt") - col("__anchor_cum"))
      .withColumn("prev_open", coalesce(lag(col("open_at_end"), 1).over(ws), lit(0L)))
      .select(col("entity_id"), col("__bkt"), col("prev_last_ms"),
        col("prev_last_phash"), col("bnew"), col("carry_cnt"), col("carry_qsum"),
        col("carry_sess"), col("carry_sparse"), col("prev_open"))

    // --- final: join the carries back and repair boundaries ------------------
    // SHUFFLE_HASH, not broadcast: phase-1 is already hash-partitioned by
    // (entity_id, __bkt) from its window exchange, so the join shuffles ONLY
    // the tiny carries side and builds per-partition hash maps — no sort of
    // the fact side, no driver collect. At 10^12 rows the carries table is
    // |entities|·|buckets| rows (can reach 10^8), far beyond broadcast range.
    val merged = local.join(carries.hint("SHUFFLE_HASH"), Seq("entity_id", "__bkt"))
    repairBoundary(merged, lastMs = col("prev_last_ms"),
        lastPhash = col("prev_last_phash"), sessCnt = col("carry_sess"),
        bnew = col("bnew"), openLen = col("prev_open"),
        lastSparse = col("carry_sparse"), qsum = col("carry_qsum"),
        n = col("carry_cnt"))
      .drop("__bkt", "prev_last_ms", "prev_last_phash", "bnew", "carry_cnt",
        "carry_qsum", "carry_sess", "carry_sparse", "prev_open")
  }

  /** Compact per-entity resume state extracted from a feature table — the
    * carry needed to continue every temporal feature from the table's end:
    * row/quality prefix sums, last event (ms, seq, phash), total session
    * count, open-session length, latest sparse value. |entities| rows; this
    * is what a 100 TB pipeline persists per snapshot so appends never touch
    * the historical feature table again.
    */
  def featureState(feats: DataFrame): DataFrame =
    feats.groupBy(col("entity_id")).agg(
      count(lit(1)).as("st_n"),
      sum(col("quality")).as("st_qsum"),
      max(struct(col("event_ms"), col("seq"), col("phash"))).as("__last"),
      max(struct(col("event_ms"), col("seq"), col("session_idx"),
        col("session_pos"))).as("__lastSess"),
      max(when(col("quality_filled").isNotNull,
        struct(col("event_ms"), col("seq"), col("quality_filled")))).as("__lastFill"))
      .select(col("entity_id"), col("st_n"), col("st_qsum"),
        col("__last")("event_ms").as("st_last_ms"),
        col("__last")("phash").as("st_last_phash"),
        (col("__lastSess")("session_idx") + 1L).as("st_sess_cnt"),
        (col("__lastSess")("session_pos") + 1L).as("st_open_len"),
        col("__lastFill")("quality_filled").as("st_last_sparse"))

  /** Incremental feature maintenance: compute feature vectors for an
    * APPEND-ONLY slice of new events, continuing exactly where `state`
    * (from [[featureState]]) left off — output rows equal what a full
    * recompute over old ∪ new would produce for the new rows (equivalence
    * asserted in GoldenFeatureSpec; DuckDB-oracle'd via the full-recompute
    * SQL filtered to the slice).
    *
    * Scale shape: the historical feature table is never read — the carry is
    * the |entities|-row state table, broadcast into one projection after the
    * slice's own windows ([[repairBoundary]], shared with
    * [[featuresSkewSafe]]'s bucket merge). Precondition: every new event is
    * strictly later than its entity's `st_last_ms` (append-only ingest, the
    * snapshot watermark contract).
    */
  def featuresIncremental(state: DataFrame, newEvents: DataFrame,
      dim: DataFrame, entDim: DataFrame,
      gapMs: Long = Corpus.SessionGapMs): DataFrame = {
    val local = localWindows(scalarFeatures(newEvents, dim, entDim).drop(Payload: _*),
      entityWindow, gapMs)
    val joined = local.join(broadcast(state), Seq("entity_id"), "left")
      // bnew is a per-entity property of the BOUNDARY (gap between the
      // slice's first row and the carried last event), constant across rows
      .withColumn("__first_ms",
        min(col("event_ms")).over(Window.partitionBy(col("entity_id"))))
      .withColumn("__bnew",
        when(col("st_last_ms").isNull ||
          col("__first_ms") - col("st_last_ms") > gapMs, 1L).otherwise(0L))
    repairBoundary(joined, lastMs = col("st_last_ms"),
        lastPhash = col("st_last_phash"),
        sessCnt = coalesce(col("st_sess_cnt"), lit(0L)), bnew = col("__bnew"),
        openLen = col("st_open_len"), lastSparse = col("st_last_sparse"),
        qsum = coalesce(col("st_qsum"), lit(0.0)),
        n = coalesce(col("st_n"), lit(0L)))
      .drop("__bnew", "__first_ms", "st_n", "st_qsum", "st_last_ms",
        "st_last_phash", "st_sess_cnt", "st_open_len", "st_last_sparse")
  }

  /** Attach the point-in-time feature vector to arbitrary (entity, t) probes
    * — the engine's flagship query: "the feature vector in effect at t".
    */
  def asOfFeatures(probes: DataFrame, features: DataFrame): DataFrame =
    AsOf.join(probes, features
        .select("entity_id", "event_ms", "seq", "image_id", "token_count", "quality",
          "phash_prev_hamming", "session_idx", "session_pos", "quality_filled",
          "running_quality_mean", "dim_matched", "dim_score_sum"),
      entity = "entity_id", probeTime = "probe_ms", eventTime = "event_ms",
      tie = Some("seq"))

  /** End-to-end flagship at a given scale (synthesize → features → as-of).
    * Runs the SKEW-SAFE feature variant — the scale path is the product;
    * [[features]], the same algebra with no carry across buckets, is its
    * small-input twin (equivalence asserted in GoldenFeatureSpec, both
    * DuckDB-oracle'd).
    */
  def flagship(spark: SparkSession, p: Corpus.Params): DataFrame = {
    val ev = Corpus.events(spark, p)
    val dim = Corpus.dimFeatures(spark, p.seed)
    val ed = entityDim(spark, p.entities)
    asOfFeatures(Corpus.probes(spark, p), featuresSkewSafe(ev, dim, ed))
  }
}

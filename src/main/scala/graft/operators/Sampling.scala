package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{UserDefinedFunction, Window}
import org.apache.spark.sql.functions._

import graft.corpus.Rng

/** Deterministic, partitioning-independent sampling (reference M2/F12:
  * `az_ml_models.R:290-303` seeds every resample explicitly; the engine goes
  * further and derives each row's multiplicity from a pure hash of
  * (seed, row key), so the SAME sample is drawn at any parallelism, any
  * partitioning, any executor count — the property the lineage manifests
  * need for reproducible reruns).
  *
  * The resample is the POISSON bootstrap (the standard at-scale formulation):
  * each row enters the sample m times with m ~ Poisson(rate), independently
  * per row. Unlike index-based draws ("pick row i of N"), this needs no
  * global dense index (no sort, no shuffle — a pure projection) and no total
  * row count, so it survives 10^12 rows unchanged; the sample size
  * concentrates tightly around rate·N (CV ~ 1/sqrt(rate·N)).
  */
object Sampling {

  /** Per-row sample multiplicity m ~ Poisson(rate), derived ONLY from
    * (seed, key): u = uniform01(hash(seed, key)), m = inverse-CDF. Knuth
    * inversion is exact and O(m) — rate is small (<= ~20) in any bootstrap
    * use, so the loop is a handful of iterations.
    */
  def poissonMultiplicity(rate: Double, seed: Long): UserDefinedFunction = {
    require(rate > 0 && rate <= 30, s"rate $rate outside sane bootstrap range")
    udf((key: Long) => poissonDraw(rate, seed, key))
  }

  /** The Poisson(rate) draw of row `key`: u = uniform01(hash(seed, key)),
    * then the inverse CDF, the smallest m with CDF(m) >= u (capped at 200).
    */
  private def poissonDraw(rate: Double, seed: Long, key: Long): Int = {
    val u = Rng.double01(Rng.hash(seed, key, stream = 7L))
    var m = 0
    var p = math.exp(-rate)
    var cdf = p
    while (cdf < u && m < 200) {
      m += 1
      p = p * rate / m
      cdf += p
    }
    m
  }

  /** Poisson-bootstrap resample: every input row annotated with its
    * multiplicity `m` (rows with m == 0 are dropped). Aggregation over the
    * sample is `sum(m * expr)` / `sum(m)` — the resampled rows are never
    * physically replicated, so a bootstrap over 10^12 rows costs one map
    * pass. `keyCol` must be unique per row (entity/event id).
    */
  def poissonBootstrap(df: DataFrame, keyCol: String, rate: Double,
      seed: Long): DataFrame =
    df.withColumn("m",
        poissonMultiplicity(rate, seed)(col(keyCol).cast("long")))
      .where(col("m") > 0)

  /** Class upsampling (reference M3, `train_functions.R:111`
    * `sampling="up"`): every original row is KEPT (m >= 1, matching caret's
    * "up" which leaves the majority intact) and each class additionally
    * draws m - 1 ~ Poisson(rate_c - 1) extra copies, where rate_c =
    * majority_n / class_n — so expected class sizes equalize to the
    * majority's and the majority itself (rate 1) is passed through
    * unchanged. Same deterministic per-row multiplicity machinery as
    * [[poissonBootstrap]] (partitioning-independent). One tiny class-count
    * aggregate + one map pass; no shuffle of the fact side. Null class
    * values are matched null-safely (a null class is a class like any
    * other, not silently dropped).
    */
  def upsampleClasses(df: DataFrame, keyCol: String, classCol: String,
      seed: Long): DataFrame = {
    val counts = df.groupBy(col(classCol)).count()
      .collect().map(r => r.get(0) -> r.getLong(1)).toMap
    val maxN = counts.values.max.toDouble
    val rates = counts.map { case (c, n) => c -> maxN / n }
    require(rates.values.max < 200,
      s"class imbalance ${rates.values.max} beyond Poisson-inversion range")
    val rateCol = rates.foldLeft(lit(Double.NaN)) { case (acc, (c, r)) =>
      when(col(classCol) <=> lit(c), lit(r)).otherwise(acc)
    }
    // per-class rate via a tiny literal CASE chain; the EXTRA-copy count
    // is poissonBootstrap's draw from hash(seed, key); Poisson(0) is
    // identically 0, so the majority class never branches into the loop
    val m = udf { (key: Long, rate: Double) =>
      val extra = rate - 1.0
      if (extra <= 0.0) 1 else 1 + poissonDraw(extra, seed, key)
    }
    df.withColumn("m", m(col(keyCol).cast("long"), rateCol))
  }

  /** Stratified train/test split with EXACT per-class counts — the engine
    * analog of caret's `createDataPartition(y, p = .8)` (the reference's
    * split in every model sweep, `train_functions.R:115,130`,
    * `az_ml_models.R:65`): within each class, exactly ceil(p·n_class) rows
    * are marked train. The within-class order is xxhash64(seed, key) with
    * the key as tiebreak, so the split is a pure function of (seed, key) —
    * identical at any parallelism, any partitioning (the reproducibility
    * contract shared by [[poissonBootstrap]]).
    *
    * Scale shape + rail: exactness requires ranking each class's rows, and
    * a rank window puts one class in one partition. Class-label cardinality
    * is small but class SIZE is data-scale, so — like `Stats.kendall` —
    * the operator fails fast when any class exceeds `maxClassRows` instead
    * of silently building a fact-scale single-partition sort; above the
    * rail use [[stratifiedSplitHash]], whose fraction concentrates to p
    * exactly where exactness stops mattering (binomial CV ~ 1/sqrt(p·n)).
    */
  def stratifiedSplitExact(df: DataFrame, classCol: String, keyCol: String,
      p: Double, seed: Long = 42L, as: String = "is_train",
      maxClassRows: Long = 50000000L): DataFrame = {
    require(p > 0.0 && p < 1.0, s"stratifiedSplitExact: p=$p outside (0,1)")
    // max over zero groups is null (empty input) — an empty split is legal
    val maxRow = df.groupBy(col(classCol)).count().agg(max(col("count"))).head
    val byClass = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0)
    if (byClass > maxClassRows) throw new IllegalStateException(
      s"Sampling.stratifiedSplitExact: a class has $byClass rows " +
        s"(maxClassRows=$maxClassRows). Exact per-class counts rank each " +
        "class inside one partition; a class this size is fact-scale — use " +
        "stratifiedSplitHash (pure map, fraction concentrates to p) or " +
        "raise maxClassRows deliberately.")
    val cls = Window.partitionBy(col(classCol))
    val w = cls.orderBy(col("__h"), col(keyCol))
    df.withColumn("__h", xxhash64(lit(seed), col(keyCol)))
      .withColumn("__n", count(lit(1)).over(cls))
      .withColumn(as,
        row_number().over(w) <= ceil(col("__n").cast("double") * p))
      .drop("__h", "__n")
  }

  /** Stratified-in-expectation split at unbounded scale: is_train =
    * (xxhash64(seed, key) mod 10^6) < p·10^6 — a pure projection, no
    * shuffle, no count, no rank, so it survives 10^12 rows unchanged.
    * Per-class train fraction is Binomial(n_c, p)/n_c; at the scales where
    * [[stratifiedSplitExact]]'s rail trips, the deviation from p is
    * O(1/sqrt(n_c)) — negligible exactly when exactness is unaffordable.
    */
  def stratifiedSplitHash(df: DataFrame, keyCol: String, p: Double,
      seed: Long = 42L, as: String = "is_train"): DataFrame = {
    require(p > 0.0 && p < 1.0, s"stratifiedSplitHash: p=$p outside (0,1)")
    df.withColumn(as,
      pmod(xxhash64(lit(seed), col(keyCol)), lit(1000000L))
        < lit(math.round(p * 1000000.0)))
  }

  /** The hash of the token-budget samplers' canonical intra-stratum
    * sampling order, (hash, key).
    */
  private def budgetHash(keyCol: String, seed: Long): Column =
    xxhash64(lit(seed), col(keyCol))

  /** [[budgetHash]] and the skew-safe variant's range bucket on the hash's
    * high 32 bits — a MONOTONE non-decreasing function of the hash, so
    * sorting (bucket, hash, key) is the SAME total order as (hash, key)
    * for EVERY bucket count: `nBuckets` is a pure parallelism knob that
    * cannot change which documents are sampled.
    */
  private def budgetOrder(keyCol: String, seed: Long, nBuckets: Int)
      : (Column, Column) = {
    require(nBuckets > 0 && nBuckets <= (1 << 30),
      s"budgetOrder: nBuckets=$nBuckets out of (0, 2^30]")
    val h = budgetHash(keyCol, seed)
    // high 32 bits shifted into [0, 2^32), then scaled to [0, nBuckets):
    // exact long arithmetic (hi < 2^32, nBuckets <= 2^30 => no overflow)
    val hi = shiftright(h, 32) + lit(2147483648L)
    val b = shiftright(hi * lit(nBuckets.toLong), 32)
    (h, b)
  }

  /** Token-budget stratified corpus sampling — the mixture-shaping step of
    * a training-data pipeline (cap each stratum — language, source, domain
    * — at a token budget; the LLaMA/DoReMi-style "data mixing" operation).
    * Documents are visited in the deterministic pseudorandom order
    * (hash, key) within their stratum; a document is KEPT iff the
    * cumulative token count of all documents BEFORE it in that order is
    * strictly below `budget` (evaluated per row — pass a stratum-keyed
    * CASE for per-stratum budgets). The crossing document is included, so
    * every non-empty stratum with budget > 0 keeps at least one document
    * and the kept token total is the smallest prefix ≥ budget.
    *
    * Output: input columns + `n_tokens` (the evaluated tokens column),
    * `cum_before` (exclusive prefix tokens in sampling order), `kept`.
    *
    * Scale shape + rail: the exact prefix sum windows each stratum in ONE
    * partition, so — like [[stratifiedSplitExact]] — this form fails fast
    * when a stratum exceeds `maxStratumRows`; at fact scale use
    * [[tokenBudgetSampleSkewSafe]], which is bit-equal by construction.
    */
  def tokenBudgetSample(df: DataFrame, strata: Seq[String], keyCol: String,
      tokens: Column, budget: Column, seed: Long = 42L,
      maxStratumRows: Long = 50000000L): DataFrame = {
    require(strata.nonEmpty, "tokenBudgetSample: empty strata")
    val maxRow = df.groupBy(strata.map(col): _*).count()
      .agg(max(col("count"))).head
    val biggest = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0)
    if (biggest > maxStratumRows) throw new IllegalStateException(
      s"Sampling.tokenBudgetSample: a stratum has $biggest rows " +
        s"(maxStratumRows=$maxStratumRows). The exact prefix sum windows " +
        "each stratum in one partition; at this size use " +
        "tokenBudgetSampleSkewSafe (bit-equal two-phase prefix sum) or " +
        "raise maxStratumRows deliberately.")
    df.withColumn("__h", budgetHash(keyCol, seed))
      .withColumn("n_tokens", tokens.cast("long"))
      .withColumn("cum_before", exclusivePrefix(strata.map(col), keyCol))
      .withColumn("kept", col("cum_before") < budget)
      .select((df.columns.toSeq ++ Seq("n_tokens", "cum_before", "kept"))
        .map(col): _*)
  }

  /** Fact-scale twin of [[tokenBudgetSample]] — BIT-IDENTICAL output
    * (spec-asserted), no rail needed. Two-phase distributed prefix sum,
    * the [[graft.features.FeaturePipeline]] tiny-carry discipline:
    *
    *  1. per-(stratum, bucket) token sums — ONE map-side-combined
    *     aggregate whose exchange is (strata-cardinality × nBuckets) rows;
    *  2. exclusive bucket offsets via a window over that TINY aggregate
    *     (never the fact table), broadcast-joined back;
    *  3. the exact prefix sum runs WITHIN each (stratum, bucket) — each
    *     stratum's sort is split across `nBuckets` independent partitions,
    *     so no single reducer ever holds a whole stratum.
    *
    * `nBuckets` trades per-task size against the tiny-aggregate width;
    * size it to the cluster (task count ≈ strata × nBuckets).
    */
  def tokenBudgetSampleSkewSafe(df: DataFrame, strata: Seq[String],
      keyCol: String, tokens: Column, budget: Column, seed: Long = 42L,
      nBuckets: Int = 64): DataFrame = {
    require(strata.nonEmpty, "tokenBudgetSampleSkewSafe: empty strata")
    bucketedPrefixSum(df, strata, keyCol, tokens, seed, nBuckets)
      .withColumn("kept", col("cum_before") < budget)
      .select((df.columns.toSeq ++ Seq("n_tokens", "cum_before", "kept"))
        .map(col): _*)
  }

  /** The two-phase distributed prefix sum of [[tokenBudgetSampleSkewSafe]]
    * (per stratum) and [[packSequences]] (`strata` = Nil, one global
    * stratum): `df` plus `__h`, `__b`, `n_tokens` and `cum_before`, the
    * exclusive prefix token count in (strata; hash, key) order.
    */
  private def bucketedPrefixSum(df: DataFrame, strata: Seq[String], keyCol: String,
      tokens: Column, seed: Long, nBuckets: Int): DataFrame = {
    val (h, b) = budgetOrder(keyCol, seed, nBuckets)
    val ann = df.withColumn("__h", h).withColumn("__b", b)
      .withColumn("n_tokens", tokens.cast("long"))
    // tiny aggregate: strata-cardinality x nBuckets rows
    val bucketSums = ann
      .groupBy((strata.map(col) :+ col("__b")): _*)
      .agg(sum(col("n_tokens")).as("__bs"))
    val offW = Window.partitionBy(strata.map(col): _*).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bucketSums
      .withColumn("__off", coalesce(sum(col("__bs")).over(offW), lit(0L)))
      .drop("__bs")
    // null-safe offsets join: a null stratum is a stratum (the plain form's
    // window partitions it; a usingColumns equi-join would silently DROP it)
    val offsetsR = offsets.select(
      (strata.zipWithIndex.map { case (s, i) => col(s).as(s"__s$i") } ++
        Seq(col("__b").as("__ob"), col("__off"))): _*)
    val joinCond = (strata.zipWithIndex
      .map { case (s, i) => col(s) <=> col(s"__s$i") } :+
      (col("__b") === col("__ob"))).reduce(_ && _)
    ann
      .join(broadcast(offsetsR), joinCond)
      .withColumn("cum_before",
        col("__off") + exclusivePrefix(strata.map(col) :+ col("__b"), keyCol))
  }

  /** The exclusive prefix sum of `n_tokens` in (`__h`, key) order within
    * `parts`: the whole answer of [[tokenBudgetSample]] (parts = strata)
    * and the in-bucket half of [[bucketedPrefixSum]] (strata and bucket).
    */
  private def exclusivePrefix(parts: Seq[Column], keyCol: String): Column =
    coalesce(sum(col("n_tokens")).over(Window.partitionBy(parts: _*)
      .orderBy(col("__h"), col(keyCol))
      .rowsBetween(Window.unboundedPreceding, -1)), lit(0L))

  /** Sequence packing — the GPT-style "concatenate and chunk" pretraining
    * data layout: documents are laid end-to-end in the deterministic
    * pseudorandom order (hash, key) and the resulting token stream is cut
    * into fixed-length training sequences of `seqLen` tokens. Each document
    * gets its GLOBAL token offset and the id range of the sequences it
    * lands in:
    *
    *   - `cum_before`    exclusive global prefix token count,
    *   - `seq_first`     cum_before div seqLen,
    *   - `seq_last`      (cum_before + max(n_tokens,1) - 1) div seqLen
    *                     (== seq_first for empty documents),
    *   - `offset_in_seq` cum_before mod seqLen.
    *
    * A writer groups by sequence id to emit the packed batches; documents
    * spanning a boundary (seq_last > seq_first) are the ones a loss mask
    * or attention reset must split.
    *
    * Scale shape: the SAME two-phase prefix sum as
    * [[tokenBudgetSampleSkewSafe]] but with ONE global stratum — per-bucket
    * token sums are a map-side-combined `nBuckets`-row aggregate, exclusive
    * bucket offsets are windowed over that tiny table and broadcast back,
    * and the exact prefix runs only WITHIN each bucket, so the corpus-wide
    * running sum never serializes into one task. Bucketing is monotone in
    * the hash ([[budgetOrder]]), so `nBuckets` cannot change the layout.
    */
  def packSequences(df: DataFrame, keyCol: String, tokens: Column,
      seqLen: Long, seed: Long = 42L, nBuckets: Int = 64): DataFrame = {
    require(seqLen > 0, s"packSequences: seqLen=$seqLen must be positive")
    bucketedPrefixSum(df, Nil, keyCol, tokens, seed, nBuckets)
      .withColumn("seq_first", expr(s"cum_before div ${seqLen}L"))
      .withColumn("seq_last", expr(
        s"(cum_before + greatest(n_tokens, 1L) - 1L) div ${seqLen}L"))
      .withColumn("offset_in_seq", col("cum_before") % seqLen)
      .select((df.columns.toSeq ++ Seq("n_tokens", "cum_before",
        "seq_first", "seq_last", "offset_in_seq")).map(col): _*)
  }

  /** Temperature-based mixture resampling (the multilingual-pretraining
    * reweighting of mBERT/XLM-R: sample stratum i with probability
    * q_i ∝ n_i^alpha, alpha in (0,1] flattening the natural distribution
    * toward uniform so low-resource strata are upsampled relative to their
    * share). Given a total row target, each stratum's Bernoulli keep-rate is
    *
    *   rate_i = min(1, targetRows · q_i / n_i),   q_i = n_i^alpha / Σ n_j^alpha
    *
    * quantized to a 1e-6 grid (HALF_UP — the [[stratifiedSplitHash]] ppm
    * discipline) and applied as the pure hash threshold
    * pmod(xxhash64(seed, key), 10^6) < rate_ppm, so the drawn sample is
    * identical at any parallelism. alpha = 1 gives a uniform rate (plain
    * proportional subsample); alpha → 0 equalizes expected PER-STRATUM
    * counts.
    *
    * Scale shape: stratum sizes are ONE map-side-combined tiny aggregate
    * collected under the `maxStrata` rail (strata are languages/sources —
    * bounded vocabulary, not data); rates are computed driver-side, joined
    * back by broadcast; the corpus itself never shuffles — keep/rate is a
    * pure projection. Output: input columns + `rate_ppm` + `kept`.
    */
  def temperatureSample(df: DataFrame, strata: Seq[String], keyCol: String,
      alpha: Double, targetRows: Long, seed: Long = 42L,
      maxStrata: Int = 100000): DataFrame = {
    require(strata.nonEmpty, "temperatureSample: empty strata")
    require(alpha > 0.0 && alpha <= 1.0,
      s"temperatureSample: alpha=$alpha outside (0, 1]")
    require(targetRows >= 0, s"temperatureSample: targetRows=$targetRows < 0")
    val counts = df.groupBy(strata.map(col): _*).count()
      .limit(maxStrata + 1).collect()
    if (counts.length > maxStrata) throw new IllegalStateException(
      s"Sampling.temperatureSample: more than $maxStrata strata " +
        "(maxStrata rail). Temperature reweighting is defined over a " +
        "bounded stratum vocabulary (languages, sources); a key this " +
        "fine-grained is not a mixture axis.")
    val n = counts.map(r => r.getLong(r.length - 1).toDouble)
    val wSum = n.map(math.pow(_, alpha)).sum
    val spark = df.sparkSession
    val rateRows = counts.zip(n).map { case (r, ni) =>
      val rate = math.min(1.0, targetRows.toDouble *
        (math.pow(ni, alpha) / wSum) / ni)
      val ppm = java.math.BigDecimal.valueOf(rate * 1000000.0)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
      org.apache.spark.sql.Row.fromSeq(
        (0 until r.length - 1).map(r.get) :+ ppm)
    }
    val rateSchema = org.apache.spark.sql.types.StructType(
      df.select(strata.map(col): _*).schema.fields.zipWithIndex.map {
        case (f, i) => f.copy(name = s"__s$i")
      } :+ org.apache.spark.sql.types.StructField("rate_ppm",
        org.apache.spark.sql.types.LongType, nullable = false))
    val rates = spark.createDataFrame(
      java.util.Arrays.asList(rateRows: _*), rateSchema)
    // null-safe equality: a null stratum is a stratum (groupBy groups it),
    // so its rows must find their rate row too
    val cond = strata.zipWithIndex
      .map { case (s, i) => col(s) <=> col(s"__s$i") }.reduce(_ && _)
    df.join(broadcast(rates), cond)
      .withColumn("kept",
        pmod(xxhash64(lit(seed), col(keyCol)), lit(1000000L))
          < col("rate_ppm"))
      .select((df.columns.toSeq ++ Seq("rate_ppm", "kept")).map(col): _*)
  }
}

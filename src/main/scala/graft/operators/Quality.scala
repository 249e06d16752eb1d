package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{HouseRound, Text}

/** Model-based document quality filtering — the classifier step of the
  * modern curation stack (GPT-3's LR filter over WebText features, CCNet's
  * fastText LM gate, DCLM/FineWeb-Edu's quality classifiers): score every
  * document with a linear model over hashed bag-of-words features and keep
  * what clears a threshold. The reference's analog is its univariate
  * feature scoring + threshold gates (`Fig-2C_D_plot_univariate.R`,
  * `train_functions.R:8-26` filters); here the "features" are hashed term
  * buckets and the model is trained ON the corpus itself from a weak label.
  *
  * Training is Naive-Bayes log-count-ratio (the NBSVM/fastText-style
  * linear form, Wang & Manning 2012): per hash bucket h,
  * w_h = ln( ((pos_h + α)/(totPos + α·D)) / ((neg_h + α)/(totNeg + α·D)) ),
  * bias b = ln(nPos/nNeg), features binarized per document (a term counts
  * once per doc — the binarized variant NBSVM reports as stronger for
  * sentiment-style tasks). Weights and bias are QUANTIZED once to a
  * 1e-6-grid long (HALF_UP, the same fixed-point discipline as
  * [[Terms.unigramLogProb]]), so the per-document score is an exact
  * integer sum — bit-identical at any parallelism — and the DuckDB oracle
  * can replay training + inference from integer counts alone.
  *
  * Scale shape: training is ONE corpus-sized pass aggregating
  * (bucket → pos/neg counts) with map-side combine — the exchange is
  * D-bounded (dim × partitions), 8-byte keys — plus one tiny label-count
  * aggregate; the model (D longs ≤ 32 MB at the rail) broadcasts, and
  * inference is a pure per-document projection: tokenize, dedupe, hash,
  * floorMod, array-index, sum longs. Nothing document-keyed ever
  * shuffles. `dim` over `maxBroadcastDim` fails fast — D is a model
  * hyperparameter (fastText defaults to 2M buckets; the 4M rail covers
  * it), not data-driven, so there is no over-rail fallback to mask a
  * misconfiguration.
  */
object Quality {

  /** Train on `df` with weak label `label` (nulls count as negative) and
    * score every document. Output: (id, n_terms, score, pred) where score
    * is the log-odds rounded to 6 dp by [[graft.functions.HouseRound]] and
    * pred = score > 0.
    */
  def nbClassifierScore(df: DataFrame, id: String, text: String,
      label: Column, dim: Int, alpha: Double = 1.0,
      maxBroadcastDim: Int = 4 << 20): DataFrame = {
    require(dim > 0 && dim <= maxBroadcastDim,
      s"nbClassifierScore: dim=$dim outside (0, $maxBroadcastDim] — the " +
        "model must broadcast; raise maxBroadcastDim deliberately if your " +
        "executors have the memory")
    val y = coalesce(label.cast("boolean"), lit(false))
    // tiny label-count aggregate (2 longs)
    val nRow = df.agg(
      sum(when(y, 1L).otherwise(0L)).as("np"),
      sum(when(y, 0L).otherwise(1L)).as("nn")).head()
    // sum over zero rows is NULL — fold the empty corpus into the
    // single-class diagnostic below instead of an opaque NPE
    val (nPos, nNeg) =
      (if (nRow.isNullAt(0)) 0L else nRow.getLong(0),
        if (nRow.isNullAt(1)) 0L else nRow.getLong(1))
    require(nPos > 0 && nNeg > 0,
      s"nbClassifierScore: weak label produced a single class " +
        s"(pos=$nPos, neg=$nNeg) — the log-count-ratio model is undefined; " +
        "pick a label that splits the corpus")
    // ONE corpus-sized pass: per-doc DISTINCT terms (binarized features)
    // -> bucket counts per class, map-side combined, D-bounded exchange.
    // The per-doc bucket list comes from the typed kernel (tokenize,
    // dedupe, hash, floorMod in one loop — the loop the scoring UDF below
    // runs too) instead of the interpreted
    // explode(array_distinct(tokens)) + xxhash64-expression chain, which
    // evaluated four HOF trees per row AND exploded term STRINGS into the
    // aggregation (round-6: 2.5x the whole query's cost on the
    // single-input-task documents table). Multiset equality with the
    // expression form is asserted in QualitySpec.
    val counts = df
      .select(y.as("__y"), explode(distinctBucketsFast(dim)(col(text))).as("__h"))
      .groupBy(col("__h"))
      .agg(sum(when(col("__y"), 1L).otherwise(0L)).as("pos"),
        sum(when(col("__y"), 0L).otherwise(1L)).as("neg"))
      .collect()
    var totPos = 0L
    var totNeg = 0L
    counts.foreach { r => totPos += r.getLong(1); totNeg += r.getLong(2) }
    val weights = new Array[Long](dim)
    counts.foreach { r =>
      val h = r.getLong(0).toInt
      weights(h) = quantize(math.log(
        ((r.getLong(1) + alpha) / (totPos + alpha * dim)) /
          ((r.getLong(2) + alpha) / (totNeg + alpha * dim))))
    }
    val bias = quantize(math.log(nPos.toDouble / nNeg.toDouble))
    val bc = Caches.broadcast(df.sparkSession.sparkContext, weights)
    val dimLocal = dim.toLong
    val score = udf { (t: String) =>
      val buckets = distinctBuckets(t, dimLocal)
      var s = bias
      var i = 0
      while (i < buckets.length) { s += bc.value(buckets(i).toInt); i += 1 }
      val z = HouseRound.double(s.toDouble / 1e6, 6)
      (buckets.length.toLong, z, z > 0.0)
    }
    df.select(col(id), score(col(text)).as("__c"))
      .select(col(id), col("__c._1").as("n_terms"),
        col("__c._2").as("score"), col("__c._3").as("pred"))
  }

  /** One hash bucket per DISTINCT in-document term, as one typed pass:
    * the kernel twin of `explode(array_distinct(Text.tokens(text)))` +
    * `pmod(xxhash64(term), dim)` — same tokenizer and term hash
    * ([[Text.skipWs]]/[[Text.tokenEnd]], [[Text.tokenHash]]), same
    * floorMod. Emits one element PER DISTINCT TERM (not per distinct
    * bucket): two terms sharing a bucket must count twice, exactly as the
    * expression form does. Null text yields an empty array (explode of a
    * null-token doc emits no rows either way).
    */
  private[graft] def distinctBucketsFast(dim: Int)
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    val dimLocal = dim.toLong
    udf { (t: String) => distinctBuckets(t, dimLocal) }
  }

  /** The distinct-term hash loop of training ([[distinctBucketsFast]]) and
    * scoring: buckets in first-occurrence order of their terms. It walks
    * the token bounds rather than [[Text.fastTokens]], so no token array is
    * built per row.
    */
  private def distinctBuckets(t: String, dim: Long): Array[Long] = {
    val out = new scala.collection.mutable.ArrayBuilder.ofLong
    if (t != null) {
      val seen = new java.util.HashSet[String]()
      var i = Text.skipWs(t, 0)
      while (i < t.length) {
        val j = Text.tokenEnd(t, i)
        val term = t.substring(i, j)
        if (seen.add(term)) out += Math.floorMod(Text.tokenHash(term), dim)
        i = Text.skipWs(t, j)
      }
    }
    out.result()
  }

  /** The corpus' distinct (term, bucket) map — what a cross-engine oracle
    * needs to replay bucketing (it cannot compute xxhash64). Vocab-sized;
    * written via [[graft.Dumps]] by the verification queries only.
    */
  def bucketMap(df: DataFrame, text: String, dim: Int): DataFrame =
    df.select(explode(array_distinct(Text.tokens(col(text)))).as("term"))
      .distinct()
      .select(col("term"), pmod(xxhash64(col("term")), lit(dim.toLong)).as("bucket"))

  /** 1e-6-grid fixed-point quantization, HALF_UP — mirrors the SQL
    * `CAST(round(x * 1e6, 0) AS BIGINT)` the oracle runs.
    */
  private def quantize(x: Double): Long =
    java.math.BigDecimal.valueOf(x * 1e6)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
}

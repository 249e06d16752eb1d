package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{HouseRound, Text}

/** Corpus vocabulary / term-weighting operators — the token-side analog of
  * the reference's univariate feature ranking (score every (entity,
  * feature) cell, keep the strongest per entity; cf. the per-gene effect
  * ranking in `Fig-2C_D_plot_univariate.R`), applied to documents × terms.
  *
  * Scale shape (both operators, default path): the only corpus-sized
  * shuffle is the VOCABULARY build — token hashes with map-side combine, so
  * the exchange is (distinct-terms × partitions)-sized, never
  * token-occurrence-sized, and carries 8-byte keys. The vocabulary table
  * (term-hash → df / count) is then collected under the
  * `maxBroadcastVocab` rail (two primitive arrays, 16 B/term — the default
  * 4M-term rail is 64 MB, and real-world web-corpus vocabularies after
  * whitespace tokenization are ~10^6–10^7), sorted, broadcast, and each
  * document is scored in ONE pure-projection pass: tokenize, count, binary
  * search, fold — zero joins, zero document-keyed shuffles. The per-term
  * scoring arithmetic replays the expression formulation bit-for-bit
  * (java.math.BigDecimal HALF_UP rounding — what Round codegen executes —
  * and UTF8String binary ordering for ties), asserted against the
  * expression twins in TermsSpec. A vocabulary overflowing the rail falls
  * back to the round-4 join formulation ([[tfidfTopKShuffle]] /
  * [[unigramLogProbShuffle]]): one persisted corpus-sized (doc, term)
  * count, vocab-sized second aggregate, all joins keyed by
  * `xxhash64(term)` — the same 8-byte-key rule as
  * [[Dedup.dedupLines]]/[[Dedup.decontaminate]]. A 64-bit collision merges
  * two terms' statistics (probability ~n²/2⁶⁵ — ~3e-8 at a 10^9-term
  * vocabulary), the accepted trade of the house discipline.
  */
object Terms {

  /** Output row of the [[tfidfTopK]] per-document kernel. */
  final case class TfidfTerm(term: String, tf: Long, df: Long,
      tfidf: Double, rk: Int)

  /** Vocabulary aggregate over per-document DISTINCT terms (document
    * frequency) or raw occurrences (collection frequency), keyed by the
    * 8-byte term hash, map-side combined.
    */
  private def vocabAgg(df: DataFrame, text: String,
      distinctPerDoc: Boolean): DataFrame = {
    val toks = Text.tokens(col(text))
    val arr = if (distinctPerDoc) array_distinct(toks) else toks
    df.select(explode(arr).as("__t"))
      .groupBy(xxhash64(col("__t")).as("__th"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Top-k TF-IDF terms per document: tf = in-document term count,
    * idf = ln((N+1)/(df+1)) + 1 (the smoothed sklearn formulation — never
    * divides by zero, never goes negative), score rounded to 6 dp BEFORE
    * ranking so the top-k cut is reproducible across engines; ties break
    * by term ascending (binary/UTF8 order). Output:
    * (id, term, tf, df, tfidf, rk).
    */
  def tfidfTopK(df: DataFrame, id: String, text: String, k: Int,
      maxBroadcastVocab: Int = 4 << 20): DataFrame = {
    val dfreq = vocabAgg(df, text, distinctPerDoc = true)
    val probe = dfreq.limit(maxBroadcastVocab + 1).collect()
    if (probe.length > maxBroadcastVocab) return tfidfTopKShuffle(df, id, text, k)
    val pairs = probe.map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val hashes = pairs.map(_._1)
    val dfs = pairs.map(_._2)
    // N counts ALL corpus rows (token-free docs included), as in the
    // expression twin's count(lit(1)) aggregate
    val n = df.count()
    val bc = Caches.broadcast(df.sparkSession.sparkContext, (hashes, dfs))
    val kLocal = k
    val score = udf { (t: String) =>
      val toks = Text.fastTokens(t)
      if (toks.isEmpty) Seq.empty[TfidfTerm]
      else {
        val (hs, ds) = bc.value
        val m = new java.util.HashMap[String, Long]()
        toks.foreach(w => m.merge(w, 1L, (a, b) => a + b))
        val out = new Array[TfidfTerm](m.size)
        val it = m.entrySet().iterator()
        var i = 0
        while (it.hasNext) {
          val e = it.next()
          val idx = java.util.Arrays.binarySearch(hs, Text.tokenHash(e.getKey))
          if (idx < 0) throw new IllegalStateException(
            s"tfidfTopK kernel: term '${e.getKey}' missing from the " +
              "broadcast vocabulary — tokenizer twin divergence")
          val tf = e.getValue
          out(i) = TfidfTerm(e.getKey, tf, ds(idx),
            HouseRound.halfUp(
              tf.toDouble * (math.log((n + 1).toDouble / (ds(idx) + 1).toDouble) + 1.0),
              6), 0)
          i += 1
        }
        java.util.Arrays.sort(out, new java.util.Comparator[TfidfTerm] {
          def compare(a: TfidfTerm, b: TfidfTerm): Int = {
            val c = java.lang.Double.compare(b.tfidf, a.tfidf)
            if (c != 0) c
            else UTF8String.fromString(a.term).compareTo(UTF8String.fromString(b.term))
          }
        })
        val kept = math.min(kLocal, out.length)
        (0 until kept).map(j => out(j).copy(rk = j + 1))
      }
    }
    df.select(col(id), explode(score(col(text))).as("__e"))
      .select(col(id), col("__e.term").as("term"), col("__e.tf").as("tf"),
        col("__e.df").as("df"), col("__e.tfidf").as("tfidf"),
        col("__e.rk").as("rk"))
  }

  /** Join-formulation fallback for [[tfidfTopK]] (vocabulary over the
    * broadcast rail): ONE persisted corpus-sized (doc, term) count (see
    * [[termCounts]]), vocab-sized df aggregate keyed by the term hash, N
    * via a broadcast single-row cross join (no driver action), per-document
    * top-k as a row_number window (planned as WindowGroupLimit).
    */
  private[graft] def tfidfTopKShuffle(df: DataFrame, id: String, text: String,
      k: Int): DataFrame = {
    val tf = termCounts(df, id, text)
    val dfreq = tf.groupBy("__th").agg(count(lit(1)).as("df"))
    val n = df.agg(count(lit(1)).as("__n"))
    val w = Window.partitionBy(col(id))
      .orderBy(col("tfidf").desc, col("term").asc)
    tf.join(dfreq, Seq("__th"))
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * (log((col("__n") + 1) / (col("df") + 1)) + 1), 6))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col(id), col("term"), col("tf"), col("df"),
        col("tfidf"), col("rk"))
  }

  /** Per-document unigram negative log-likelihood — the CCNet-style
    * language-model quality proxy with no external LM: score(doc) = mean
    * over the doc's tokens of -ln(count(token)/total_tokens) under the
    * corpus' OWN unigram distribution (Wenzek et al. 2020 bucket docs by
    * LM perplexity; the unigram NLL is the model-free analog). Atypical
    * documents — wrong language, garbled, rare-token spam — score high;
    * boilerplate scores low. Output: (id, nll, n_tokens).
    *
    * The per-doc fold sums in FIXED POINT: each term's ln(cnt/tot) is
    * quantized once — deterministically, per term — to a 1e-9-grid long,
    * and the document sum is Σ tf·q over exact integers, which is
    * associative. A plain double sum of irrational logs is
    * partial-aggregation-ORDER-sensitive; round 4 measured exactly that
    * (a different partition count flipped a 6-dp rounding boundary on one
    * of 500 rows). The final division back to double is a pure function of
    * (exact sum, n_tokens), so the output is bit-identical at any
    * parallelism; [[graft.functions.HouseRound]] then guards the
    * engine-boundary ulp on the quantization itself.
    */
  def unigramLogProb(df: DataFrame, id: String, text: String,
      maxBroadcastVocab: Int = 4 << 20): DataFrame = {
    val vocab = vocabAgg(df, text, distinctPerDoc = false)
    val probe = vocab.limit(maxBroadcastVocab + 1).collect()
    if (probe.length > maxBroadcastVocab) return unigramLogProbShuffle(df, id, text)
    val pairs = probe.map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val hashes = pairs.map(_._1)
    var tot = 0L
    pairs.foreach(p => tot = Math.addExact(tot, p._2))
    // per-term quantized log-prob, replaying the expression
    // round(log(cnt/tot) * 1e9, 0).cast(long) exactly
    val totD = tot.toDouble
    val qs = pairs.map(p =>
      HouseRound.halfUp(math.log(p._2.toDouble / totD) * 1e9, 0).toLong)
    val bc = Caches.broadcast(df.sparkSession.sparkContext, (hashes, qs))
    val nllOf = udf { (t: String) =>
      val toks = Text.fastTokens(t)
      if (toks.isEmpty) Option.empty[(Double, Long)]
      else {
        val (hs, q) = bc.value
        // sort hashes + run-length encode: per-term tf without boxing
        val th = new Array[Long](toks.length)
        var i = 0
        while (i < toks.length) { th(i) = Text.tokenHash(toks(i)); i += 1 }
        java.util.Arrays.sort(th)
        // Σ tf·q exactly: long accumulation with overflow promotion to
        // BigInteger (|q| ≲ 6e10, so a ≳10^8-token document could
        // overflow a long)
        var accL = 0L
        var accB: java.math.BigInteger = null
        var r = 0
        while (r < th.length) {
          var e = r + 1
          while (e < th.length && th(e) == th(r)) e += 1
          val idx = java.util.Arrays.binarySearch(hs, th(r))
          if (idx < 0) throw new IllegalStateException(
            "unigramLogProb kernel: token hash missing from the broadcast " +
              "vocabulary — tokenizer twin divergence")
          // tf·q must ALSO multiply exactly: tf ≤ 2^31 and |q| ≤ 2^36, so
          // the bare product can reach 2^67 — promote just like the sum
          val tf = (e - r).toLong
          val qv = q(idx)
          var termB: java.math.BigInteger = null
          var term = 0L
          try term = Math.multiplyExact(tf, qv)
          catch {
            case _: ArithmeticException => termB = java.math.BigInteger
              .valueOf(tf).multiply(java.math.BigInteger.valueOf(qv))
          }
          if (termB ne null)
            accB = (if (accB ne null) accB
              else java.math.BigInteger.valueOf(accL)).add(termB)
          else if (accB ne null)
            accB = accB.add(java.math.BigInteger.valueOf(term))
          else {
            try accL = Math.addExact(accL, term)
            catch {
              case _: ArithmeticException =>
                accB = java.math.BigInteger.valueOf(accL)
                  .add(java.math.BigInteger.valueOf(term))
            }
          }
          r = e
        }
        val s = if (accB ne null) accB.doubleValue() else accL.toDouble
        val nTok = toks.length.toLong
        Some((HouseRound.double(-s / 1e9 / nTok.toDouble, 6), nTok))
      }
    }
    df.select(col(id), nllOf(col(text)).as("__c"))
      .where(col("__c").isNotNull)
      .select(col(id), col("__c._1").as("nll"), col("__c._2").as("n_tokens"))
  }

  /** Join-formulation fallback for [[unigramLogProb]] (vocabulary over the
    * broadcast rail): ONE persisted corpus-sized (doc, term) count feeds
    * both the vocab-sized aggregate and the per-doc fold; the grand total
    * rides in as a broadcast single-row cross join. The fold sums
    * tf·quantized-log over decimal(38,0) — exact and associative, same
    * fixed-point contract as the kernel.
    */
  private[graft] def unigramLogProbShuffle(df: DataFrame, id: String,
      text: String): DataFrame = {
    val tf = termCounts(df, id, text)
    val vocab = tf.groupBy("__th").agg(sum("tf").as("cnt"))
    val tot = vocab.agg(sum("cnt").as("__tot"))
    // per-term quantized log-prob: round() is HALF_UP like DuckDB's, so the
    // oracle reproduces q exactly from the same (cnt, tot) integers
    val q = round(log(col("cnt") / col("__tot")) * 1e9, 0).cast("long")
    tf.join(vocab, Seq("__th"))
      .crossJoin(broadcast(tot))
      .withColumn("__q", q)
      .groupBy(col(id))
      .agg(
        HouseRound(-sum((col("tf").cast("decimal(19,0)") * col("__q").cast("decimal(19,0)"))
            .cast("decimal(38,0)")).cast("double") / 1e9 /
          sum(col("tf")).cast("double"), 6).as("nll"),
        sum(col("tf")).as("n_tokens"))
  }

  /** The shared corpus-sized intermediate of the join fallbacks: one
    * (doc, term, term-hash) count row per distinct in-document term,
    * map-side combined, persisted because every consumer prunes it
    * differently (defeating exchange reuse). `__th` = xxhash64(term) is
    * computed here once so downstream joins/aggregations never key by the
    * string.
    */
  private def termCounts(df: DataFrame, id: String, text: String): DataFrame =
    Caches.cache(
      df.select(col(id), explode(Text.tokens(col(text))).as("term"))
        .groupBy(col(id), col("term")).agg(count(lit(1)).as("tf"))
        .withColumn("__th", xxhash64(col("term"))))
}

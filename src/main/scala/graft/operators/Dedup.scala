package graft.operators

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.Text

/** Training-data deduplication operators over a document/caption corpus.
  *
  * Scale notes (the whole point of these): nothing here is O(n^2) over the
  * corpus. Every near-dup variant reduces to (a) a per-row signature
  * projection (single tight-loop pass, no shuffle), (b) a bucket-key explode
  * bounded by a small constant (bands / shingle df-threshold), (c) an
  * equi-join on bucket keys so Spark's hash-partitioned join does candidate
  * generation, and (d) exact verification only on candidate pairs.
  *
  * Signature computation policy: the HOF (`aggregate`/`zip_with`) Column
  * formulations are the REFERENCE semantics and live spec-side
  * (`KernelTwins`); the operators run the `*Fast` typed variants — the HOFs
  * evaluate k interpreted expression trees per gram (measured 2–5 ms/doc at
  * sf0.1, the round-1 scale-killer), while the typed loops produce the
  * EXACT same bits (asserted in DedupSimilaritySpec) at ~µs/doc.
  */
object Dedup {

  /** Exact dedup: canonical representative (min id) per identical text.
    * One hash-aggregate; at 100 TB group by xxhash64(text) first so the
    * shuffle carries 8-byte keys instead of full documents.
    */
  def exact(df: DataFrame, id: String, text: String): DataFrame =
    df.select(col(id), col(text), xxhash64(col(text)).as("__k"))
      .groupBy("__k")
      .agg(min(col(id)).as("keep_id"), count(lit(1)).as("n_copies"),
        min(col(text)).as(text))
      .drop("__k")

  /** Fingerprint dedup: exact dedup after whitespace normalization via the
    * rolling-hash document fingerprint (order-sensitive).
    */
  def byFingerprint(df: DataFrame, id: String, text: String): DataFrame =
    df.select(col(id), Text.fingerprint(col(text)).as("fingerprint"))
      .groupBy("fingerprint")
      .agg(min(col(id)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Typed MinHash signature over word `shingleN`-grams of `text`:
    * bit-identical to the spec-side HOF reference
    * `KernelTwins.minhashSignature(KernelTwins.tokenGrams(text, shingleN), k)`
    * (duplicate grams cannot change a min; null/short text yields the
    * Long.MaxValue init vector, same as the HOF over an empty gram array).
    * One JIT'd loop per row: UTF-8 gram bytes are assembled in a reused
    * buffer and hashed with the same Catalyst XXH64 the `xxhash64(lit(i), g)`
    * expression uses (seed chain: hashInt(i, [[Text.HashSeed]]) then the gram
    * bytes).
    */
  def minhashSignatureFast(shingleN: Int, k: Int): UserDefinedFunction = {
    val seeds: Array[Long] = Array.tabulate(k)(i => XXH64.hashInt(i, Text.HashSeed))
    udf { (text: String) =>
      val sig = Array.fill(k)(Long.MaxValue)
      val toks = Text.fastTokens(text)
      if (toks.length >= shingleN) {
        val tokBytes = utf8(toks)
        val buf = gramBuffer(tokBytes, shingleN)
        var i = 0
        while (i <= toks.length - shingleN) {
          val blen = assembleGram(tokBytes, i, shingleN, buf)
          var s = 0
          while (s < k) {
            val h = XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET, blen, seeds(s))
            if (h < sig(s)) sig(s) = h
            s += 1
          }
          i += 1
        }
      }
      sig
    }
  }

  /** UTF-8 bytes of each token: the gram parts of [[assembleGram]]. */
  private def utf8(toks: Array[String]): Array[Array[Byte]] = {
    val out = new Array[Array[Byte]](toks.length)
    var t = 0
    while (t < toks.length) { out(t) = toks(t).getBytes(StandardCharsets.UTF_8); t += 1 }
    out
  }

  /** A buffer that holds any `n`-gram of `tokBytes` with its separators. */
  private def gramBuffer(tokBytes: Array[Array[Byte]], n: Int): Array[Byte] = {
    var maxLen = 0
    var t = 0
    while (t < tokBytes.length) { maxLen = math.max(maxLen, tokBytes(t).length); t += 1 }
    new Array[Byte](n * (maxLen + 1))
  }

  /** Writes the UTF-8 bytes of the space-joined gram `tokBytes[i, i + n)` —
    * what `xxhash64(array_join(slice(tokens, i + 1, n), " "))` hashes — into
    * `buf`, and returns its length. The one gram assembly of
    * [[minhashSignatureFast]] and [[gramHashesFast]].
    */
  private def assembleGram(tokBytes: Array[Array[Byte]], i: Int, n: Int,
      buf: Array[Byte]): Int = {
    var blen = 0
    var j = 0
    while (j < n) {
      if (j > 0) { buf(blen) = ' '; blen += 1 }
      val tb = tokBytes(i + j)
      System.arraycopy(tb, 0, buf, blen, tb.length)
      blen += tb.length
      j += 1
    }
    blen
  }

  /** One-pass merge intersection size of two SORTED long arrays (the shape
    * [[gramHashesFast]] emits) — the exact-verification kernel shared by
    * [[minhashLsh]] and [[ngramJaccard]].
    */
  private val interSize: UserDefinedFunction = udf { (a: Array[Long], b: Array[Long]) =>
    var i = 0; var j = 0; var c = 0L
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { c += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    c
  }

  /** MinHash+LSH near-dup pairs: signature → bands → bucket join → exact
    * shingle-Jaccard verification, filtered by `minJaccard`.
    * Returns (id_a, id_b, jaccard) with id_a < id_b.
    *
    * Scale shape (what keeps this sane at 10^12 docs):
    *  - the banding join carries ONLY (band, bucket, id) — 24 bytes/row —
    *    never texts or shingle arrays;
    *  - mega-buckets (non-discriminative signatures, e.g. near-empty docs or
    *    tiny vocabularies) are dropped via `maxBucket` BEFORE the self-join,
    *    bounding the candidate count at buckets·maxBucket² instead of n²;
    *  - exact verification joins the candidate PAIRS back to the docs and
    *    merge-intersects sorted gram-hash sets ([[gramHashesFast]]) — two
    *    hash joins on ids, no interpreted HOF per candidate.
    */
  def minhashLsh(df: DataFrame, id: String, text: String,
      shingleN: Int = 3, k: Int = 16, rowsPerBand: Int = 4,
      minJaccard: Double = 0.7, maxBucket: Int = 64): DataFrame = {
    val bands = k / rowsPerBand
    val sigUdf = minhashSignatureFast(shingleN, k)
    val sigd = df.select(col(id).as("__id"), sigUdf(col(text)).as("__sig"))
    // materialized: the banded rows feed both the hot-bucket count and the
    // capped join — without it the signature UDF runs once per consumer
    val banded = Caches.cache(sigd.select(col("__id"),
      posexplode(array((0 until bands).map { b =>
        xxhash64((col("__sig")(b * rowsPerBand) +:
          (1 until rowsPerBand).map(r => col("__sig")(b * rowsPerBand + r))): _*)
      }: _*)).as(Seq("__band", "__bucket"))))
    // mega-bucket guard: the hot-bucket list is tiny by definition -> compute
    // it with a map-side-combined groupBy and strip via broadcast anti-join
    // (no full window sort over the banded rows)
    val hot = banded.groupBy(col("__band"), col("__bucket"))
      .agg(count(lit(1)).as("__n")).where(col("__n") > maxBucket)
      .select("__band", "__bucket")
    val capped = banded.join(broadcast(hot), Seq("__band", "__bucket"), "left_anti")
    // candidate pairs WITHOUT a self-join (signatures evaluated once):
    // bucket members are collected (bounded by maxBucket) and exploded
    val pairs = capped.groupBy(col("__band"), col("__bucket"))
      .agg(collect_list(col("__id")).as("__ids"))
      .where(size(col("__ids")) > 1)
      .select(explode(col("__ids")).as("id_a"), col("__ids"))
      .select(col("id_a"), explode(col("__ids")).as("id_b"))
      .where(col("id_a") < col("id_b"))
      .distinct()
    // exact verification only touches candidate docs: semi-join the corpus
    // down to candidates before computing gram arrays (no distinct — a
    // left-semi probe side needs no dedup, and the distinct was a whole
    // extra exchange + aggregate in the plan)
    val candIds = pairs.select(col("id_a").as("__cid"))
      .union(pairs.select(col("id_b").as("__cid")))
    val texts = df.join(candIds, col(id) === col("__cid"), "left_semi")
      .select(col(id), gramHashesFast(shingleN)(col(text)).as("__sh"))
    pairs
      .join(texts.toDF("id_a", "__sha"), Seq("id_a"))
      .join(texts.toDF("id_b", "__shb"), Seq("id_b"))
      .withColumn("__inter", interSize(col("__sha"), col("__shb")))
      .select(col("id_a"), col("id_b"),
        round(col("__inter").cast("double") /
          (size(col("__sha")) + size(col("__shb")) - col("__inter")), 6).as("jaccard"))
      .where(col("jaccard") >= minJaccard)
  }

  /** Typed SimHash: bit-identical to the HOF reference
    * (spec-side `KernelTwins.simhash`; token hash = [[Text.tokenHash]];
    * duplicates vote repeatedly, exactly like the HOF).
    * Null/empty text yields 0L, matching the HOF's `otherwise(0)` fold.
    */
  def simhashFast: UserDefinedFunction = udf { (text: String) =>
    val toks = Text.fastTokens(text)
    if (toks.isEmpty) 0L
    else {
      val votes = new Array[Int](64)
      var t = 0
      while (t < toks.length) {
        val h = Text.tokenHash(toks(t))
        var bit = 0
        while (bit < 64) {
          if (((h >>> bit) & 1L) == 1L) votes(bit) += 1 else votes(bit) -= 1
          bit += 1
        }
        t += 1
      }
      var sig = 0L
      var bit = 0
      while (bit < 64) {
        if (votes(bit) > 0) sig |= (1L << bit)
        bit += 1
      }
      sig
    }
  }

  /** All pairs with Hamming distance <= `maxHamming` over a 64-bit
    * signature column, via 16-bit-chunk bucket blocking: two signatures
    * within hamming 3 must agree on at least one of their four 16-bit
    * chunks (pigeonhole), so the equi-join on (chunk, key) has complete
    * recall for hamming <= 3 — no all-pairs scan anywhere. Works for any
    * 64-bit LSB-ish signature: SimHash ([[simhashFast]]) or a perceptual
    * image hash (phash near-dup detection — the image-modality dedup).
    *
    * @param maxBucket chunk buckets above this size are dropped before the
    *   self-join (scale guard against non-discriminative sign patterns);
    *   recall is complete for hamming<=3 only among docs in kept buckets —
    *   at web scale a hot 16-bit chunk means those docs are near-identical
    *   anyway and should go through exact dedup first.
    */
  def hammingPairs(df: DataFrame, id: String, sig: String,
      maxHamming: Int = 3, maxBucket: Int = 256): DataFrame = {
    val sigd = df.select(col(id).as("__id"), col(sig).as("__sig"))
    val chunked0 = sigd.select(col("__id"), col("__sig"),
      posexplode(array((0 until 4).map(c =>
        shiftright(col("__sig"), c * 16).bitwiseAND(lit(0xffffL))): _*))
        .as(Seq("__chunk", "__key")))
    // hot-chunk guard via map-side-combined groupBy + broadcast anti-join —
    // NOT a window count, which would full-sort the 4x-exploded rows
    val hot = chunked0.groupBy(col("__chunk"), col("__key"))
      .agg(count(lit(1)).as("__n")).where(col("__n") > maxBucket)
      .select("__chunk", "__key")
    val chunked = chunked0.join(broadcast(hot), Seq("__chunk", "__key"), "left_anti")
    val a = chunked.select(col("__chunk"), col("__key"), col("__id").as("id_a"),
      col("__sig").as("__siga"))
    val b = chunked.select(col("__chunk"), col("__key"), col("__id").as("id_b"),
      col("__sig").as("__sigb"))
    a.join(b, Seq("__chunk", "__key"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("__siga").bitwiseXOR(col("__sigb"))).cast("long").as("hamming"))
      .where(col("hamming") <= maxHamming)
      .groupBy("id_a", "id_b").agg(min("hamming").as("hamming"))
  }

  /** Distinct word-`n`-gram hashes of `text` as one tight loop per row:
    * bit-identical to the spec-side `transform(KernelTwins.tokenGrams(text,
    * n), g => xxhash64(g))` as a SET (asserted in DedupSimilaritySpec) —
    * same Catalyst XXH64 (seed 42) over the UTF-8 bytes of the space-joined
    * gram. Returned sorted ascending (set semantics; every consumer
    * aggregates). Null/short text yields an empty array.
    */
  def gramHashesFast(n: Int): UserDefinedFunction = udf { (text: String) =>
    val toks = Text.fastTokens(text)
    if (toks.length < n) Array.empty[Long]
    else {
      val tokBytes = utf8(toks)
      val buf = gramBuffer(tokBytes, n)
      val out = new Array[Long](toks.length - n + 1)
      var i = 0
      while (i < out.length) {
        val blen = assembleGram(tokBytes, i, n, buf)
        out(i) = XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET, blen, Text.HashSeed)
        i += 1
      }
      sortedDistinct(out)
    }
  }

  /** Connected components over an undirected near-dup pair list
    * (id_a, id_b): returns (id, comp) where comp = the component's minimum
    * id — the survivor each near-dup cluster keeps. Min-label propagation
    * WITH pointer jumping to fixpoint: each round every node takes the min
    * of its own and its neighbors' labels (one equi-join + map-side-combined
    * min), then shortcuts comp <- comp(comp) (one more equi-join on the
    * label table). Plain neighbor-min alone spreads the minimum one hop per
    * round — O(diameter); the jumping step halves remaining label-chain
    * depth every round, so convergence is O(log diameter) GUARANTEED (a
    * 2^20-hop chain fits the default rail), not just typical-case. If the
    * rail is ever hit the call FAILS with a clear error — a silent partial
    * labeling would split components and keep spurious "survivors".
    *
    * Scale shape: per round two shuffles of (node, label) pairs — 16 bytes —
    * plus the convergence count. Each round's label table is materialized
    * through [[Caches.cache]], whose frame reads a `LogicalRDD` leaf: the
    * round's plan references the previous label table three times, so
    * without that leaf the plan tree grows 3^rounds and the driver dies
    * stringifying it long before the data is a problem. The leaf cuts the
    * logical plan only; the persisted RDD keeps its lineage (one shuffle
    * chain per round), so a lost block is recomputed rather than failing
    * the job. Every round's labels stay registered until the caller's
    * `Caches.releaseAll` — a few (node, label) tables, one per round.
    */
  def components(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 20): DataFrame = {
    val edges = Caches.cache(
      pairs.select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
        .union(pairs.select(col(bCol).cast("long").as("a"), col(aCol).cast("long").as("b")))
        .distinct())
    var labels = Caches.cache(edges.select(col("a").as("id")).distinct()
      .withColumn("comp", col("id")))
    var i = 0
    var converged = false
    while (!converged && i < maxIter) {
      val neigh = edges.join(labels.select(col("id").as("b"), col("comp")), Seq("b"))
        .groupBy(col("a").as("id")).agg(min(col("comp")).as("ncomp"))
      val stepped = labels.select(col("id"), col("comp").as("__old"))
        .join(neigh, Seq("id"), "left")
        .select(col("id"), col("__old"),
          least(col("__old"), coalesce(col("ncomp"), col("__old"))).as("__c1"))
      // pointer jumping: comp <- comp(comp). Labels are always node ids
      // (mins over initial id labels), so the lookup hits; comp(x) <= x is
      // invariant, so least() only ever improves
      val next = Caches.cache(stepped
        .join(labels.select(col("id").as("__c1"), col("comp").as("__jump")),
          Seq("__c1"), "left")
        .select(col("id"), col("__old"),
          least(col("__c1"), coalesce(col("__jump"), col("__c1"))).as("comp")))
      converged = next.filter(col("comp") =!= col("__old")).isEmpty
      labels = next
      i += 1
    }
    if (!converged) {
      throw new IllegalStateException(
        s"Dedup.components did not converge within maxIter=$maxIter rounds " +
          "— with pointer jumping that needs a label chain deeper than " +
          s"2^$maxIter, which indicates a bug or corrupt edge input; " +
          "refusing to return a partial (split-component) labeling.")
    }
    labels.select(col("id"), col("comp"))
  }

  /** Per-document DISTINCT trimmed-line hashes in one typed pass — the
    * kernel twin of `array_distinct(transform(filter(split(text, sep),
    * len(trim) > 0), xxhash64(trim)))` (which evaluates four interpreted
    * expression trees per line; the same HOF-vs-kernel trade as
    * [[gramHashesFast]]). Bit-equality with the expression formulation
    * (which the [[dedupLinesShuffle]] fallback still uses) is by
    * construction ([[trimmedLine]], [[lineHash]]) and asserted in
    * PipelineR4Spec.
    */
  private def lineHashesFast(sep: String): UserDefinedFunction = udf { (t: String) =>
    if (t == null) Array.empty[Long]
    else {
      val out = new scala.collection.mutable.ArrayBuilder.ofLong
      var from = 0
      var end = -1
      while (end < t.length) {
        end = lineEnd(t, sep, from)
        val u = trimmedLine(t, from, end)
        if (u.numBytes > 0) out += lineHash(u)
        from = end + sep.length
      }
      sortedDistinct(out.result())
    }
  }

  // The one line scan of `lineHashesFast` and the `dedupLines` rebuild:
  // Spark's own `UTF8String.trim` and Catalyst XXH64, so blank lines and
  // hashes match the expressions. Static helpers: a cursor object is not
  // scalar-replaced by the JIT here and costs an allocation per row.

  /** End of the `sep`-separated line of `t` starting at `from`. */
  private def lineEnd(t: String, sep: String, from: Int): Int = {
    val nxt = t.indexOf(sep, from)
    if (nxt < 0) t.length else nxt
  }

  /** `trim(line)` of the line `t[from, end)`; zero bytes when blank. */
  private def trimmedLine(t: String, from: Int, end: Int): UTF8String =
    UTF8String.fromString(t.substring(from, end)).trim()

  /** `xxhash64(trim(line))` of a [[trimmedLine]]. */
  private def lineHash(u: UTF8String): Long =
    XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, Text.HashSeed)

  /** Sorts `a` in place and returns its distinct values, ascending. */
  private def sortedDistinct(a: Array[Long]): Array[Long] = {
    java.util.Arrays.sort(a)
    var w = 0
    var r = 1
    while (r < a.length) {
      if (a(r) != a(w)) { w += 1; a(w) = a(r) }
      r += 1
    }
    if (a.length <= w + 1) a else java.util.Arrays.copyOf(a, w + 1)
  }

  /** Cross-document line-level dedup — the CCNet/RefinedWeb shape (a line
    * that recurs across many documents is boilerplate: navigation, license
    * headers, cookie banners — and is removed from ALL documents, not just
    * duplicated ones). Any `sep`-delimited line appearing in more than
    * `maxDocs` DISTINCT documents is dropped; surviving lines are
    * reassembled in original order. Emits one row per input document:
    * (id, clean_text, n_kept, n_removed) — a document losing every line
    * stays present with clean_text = ''. Blank/whitespace-only lines are
    * dropped as noise (they would otherwise all collide on one hash).
    *
    * Scale shape — ONE corpus-sized shuffle of 8-byte keys, zero text
    * shuffles on the default path:
    *  1. each document's DISTINCT line-hash set is built document-locally
    *     (split → trim-filter → hash → array_distinct, all array ops on the
    *     unexploded text), so the global line document-frequency shuffles
    *     only (hash, partial count) with map-side combine — line text never
    *     enters an exchange;
    *  2. the over-threshold hash set — tiny by Zipf (boilerplate is few
    *     distinct lines, many occurrences; CCNet reports ~few hundred
    *     thousand distinct boilerplate lines per snapshot) — is collected
    *     under the `maxBroadcastLines` rail, sorted, and broadcast, making
    *     removal + reassembly a PURE per-document projection: one
    *     binary-search pass per line inside a typed kernel that uses the
    *     same `UTF8String.trim` + Catalyst `XXH64(seed=42)` as the
    *     expression `xxhash64(trim(line))`, so blank-classification and
    *     hashing are bit-equal to the expression path by construction
    *     (asserted against it in PipelineR4Spec);
    *  3. if the over-threshold set overflows the rail (pathological, e.g.
    *     maxDocs=0), fall back to the round-4 shuffle shape: broadcast-anti
    *     join on the hash posting list + per-document array_sort
    *     reassembly — still no quadratic step, but the kept line text
    *     crosses one exchange.
    */
  def dedupLines(df: DataFrame, id: String, text: String,
      sep: String = "\n", maxDocs: Long = 1,
      maxBroadcastLines: Int = 4 << 20): DataFrame = {
    // per-document distinct hash set, document-locally: a line repeated
    // WITHIN one document counts once toward the cross-document frequency
    val common = df
      .select(explode(lineHashesFast(sep)(col(text))).as("__lh"))
      .groupBy("__lh").agg(count(lit(1)).as("__df"))
      .where(col("__df") > maxDocs)
      .select("__lh")
    val probe = common.limit(maxBroadcastLines + 1).collect().map(_.getLong(0))
    if (probe.length <= maxBroadcastLines) {
      java.util.Arrays.sort(probe)
      val bc = Caches.broadcast(df.sparkSession.sparkContext, probe)
      val sepLocal = sep
      val rebuild = udf { (t: String) =>
        if (t == null) ("", 0L, 0L)
        else {
          val drop = bc.value
          val keep = new java.lang.StringBuilder
          var nKept = 0L
          var nLines = 0L
          var from = 0
          var end = -1
          while (end < t.length) {
            end = lineEnd(t, sepLocal, from)
            val u = trimmedLine(t, from, end)
            if (u.numBytes > 0) {
              nLines += 1
              if (java.util.Arrays.binarySearch(drop, lineHash(u)) < 0) {
                if (nKept > 0) keep.append(sepLocal)
                keep.append(t, from, end)
                nKept += 1
              }
            }
            from = end + sepLocal.length
          }
          (keep.toString, nKept, nLines)
        }
      }
      df.select(col(id), rebuild(col(text)).as("__c"))
        .select(col(id),
          col("__c._1").as("clean_text"),
          col("__c._2").as("n_kept"),
          (col("__c._3") - col("__c._2")).as("n_removed"))
    } else dedupLinesShuffle(df, id, text, sep, maxDocs)
  }

  /** Fallback reassembly for [[dedupLines]] when the over-threshold line
    * set overflows the broadcast rail: anti-join the posting list on the
    * 8-byte hash, reassemble per document via in-group array_sort. Same
    * output, one extra exchange carrying the kept line text.
    */
  private def dedupLinesShuffle(df: DataFrame, id: String, text: String,
      sep: String, maxDocs: Long): DataFrame = {
    val sepQ = java.util.regex.Pattern.quote(sep)
    val lines = df
      .select(col(id),
        posexplode(split(col(text), sepQ)).as(Seq("__pos", "__line")))
      .where(length(trim(col("__line"))) > 0)
      .withColumn("__lh", xxhash64(trim(col("__line"))))
    val common = lines.select(col(id), col("__lh")).distinct()
      .groupBy("__lh").agg(count(lit(1)).as("__df"))
      .where(col("__df") > maxDocs)
      .select("__lh")
    val rebuilt = lines.join(common, Seq("__lh"), "left_anti")
      .groupBy(col(id))
      .agg(
        concat_ws(sep, transform(
          array_sort(collect_list(struct(col("__pos"), col("__line")))),
          s => s.getField("__line"))).as("__kept_text"),
        count(lit(1)).as("__n_kept"))
    // coalesce: size() of a null text is null, and a null-text document
    // must still come back as ('', 0, 0), not null counts
    df.select(col(id),
        coalesce(size(filter(split(col(text), sepQ),
          l => length(trim(l)) > 0)), lit(0)).cast("long").as("__n_lines"))
      .join(rebuilt, Seq(id), "left")
      .select(col(id),
        coalesce(col("__kept_text"), lit("")).as("clean_text"),
        coalesce(col("__n_kept"), lit(0L)).as("n_kept"),
        (col("__n_lines") - coalesce(col("__n_kept"), lit(0L))).as("n_removed"))
  }

  /** Benchmark decontamination — the GPT-3 appendix-C / Llama-2 shape:
    * flag every training document that shares at least `minHits` distinct
    * word `n`-grams with a benchmark/eval corpus, so eval questions that
    * leaked into the crawl can be dropped before training. Returns
    * (id, n_hit_grams) for contaminated documents only; the caller
    * anti-joins `train` against it to discard them.
    *
    * Scale shape: gram extraction is a pure projection via the typed
    * [[gramHashesFast]] kernel (per-doc distinct, bit-equal to xxhash64
    * over the spec-side `KernelTwins.tokenGrams` — the policy every dedup
    * operator here follows); grams travel as 8-byte hash keys, never
    * strings. The benchmark gram set — eval suites are ~10^6–10^8 grams, tiny next to a
    * 10^12-doc corpus — is broadcast by default, making the contamination
    * check a broadcast semi-join plus one map-side-combined per-doc count:
    * the training corpus never shuffles. Set `broadcastBench = false` for
    * an oversized benchmark side to fall back to a hash join on the gram
    * hash.
    */
  def decontaminate(train: DataFrame, bench: DataFrame, id: String,
      text: String, n: Int, minHits: Long = 1,
      broadcastBench: Boolean = true): DataFrame = {
    def gramHashes(d: DataFrame) =
      d.select(col(id), explode(gramHashesFast(n)(col(text))).as("__gh"))
    val bg0 = gramHashes(bench).select("__gh").distinct()
    val bg = if (broadcastBench) broadcast(bg0) else bg0
    gramHashes(train).join(bg, Seq("__gh"))
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_hit_grams"))
      .where(col("n_hit_grams") >= minHits)
  }

  /** EXACT n-gram (token) Jaccard near-dup join: every pair with
    * Jaccard >= `minJaccard` over distinct word n-grams, via prefix
    * filtering (SSJoin/PPJoin): under any consistent global gram order, two
    * docs with |A∩B| >= ceil(t·|A|) must share a gram inside each doc's
    * first |A| − ceil(t·|A|) + 1 grams — so only prefix postings enter the
    * candidate self-join, and exactness costs nothing. The order used is
    * (document frequency asc, hash asc): rarest grams first, which also
    * minimizes candidate fan-out.
    *
    * Scale shape:
    *  - the inverted index carries 8-byte gram hashes (typed single-pass
    *    UDF, [[gramHashesFast]]), never gram text;
    *  - candidate generation touches ONLY prefix postings (~(1−t)·|doc|
    *    rarest grams per doc); round-1's single-shared-rare-gram blocking
    *    admitted 1.12M candidates from 5k docs, the prefix join ~20x fewer
    *    AND drops the bounded-recall caveat;
    *  - `maxPrefixDf` is the skew guard: a gram hotter than this is dropped
    *    from PREFIXES only (candidates through it would be quadratic).
    *    Recall is affected only if a true pair's every prefix-shared gram
    *    is that hot — at web scale such docs are boilerplate handled by
    *    exact dedup first. Not hit in the test corpus (max df 25).
    *  - verification (exact ∩ count) joins candidate pairs back to full
    *    gram sets — two hash joins on ids.
    */
  def ngramJaccard(df: DataFrame, id: String, text: String,
      n: Int = 3, minJaccard: Double = 0.6, maxPrefixDf: Long = 1000): DataFrame = {
    // The inverted index feeds five downstream exchanges (doc sizes, gram
    // document frequencies, prefix ranking, both sides of the verification
    // join); without a materialization Spark recomputes the
    // scan+tokenize+explode lineage once per consumer (measured ~5x the
    // query's total cost at sf0.1). At warehouse scale this is the
    // materialized-index table; in-session it registers in [[Caches]] and
    // callers release it after the output is materialized.
    // per-doc sorted gram-hash sets, materialized once; the exploded posting
    // list is a cheap projection of it (explode of in-memory arrays)
    val sets = Caches.cache(
      df.select(col(id).as("__id"), gramHashesFast(n)(col(text)).as("__h"))
        .where(size(col("__h")) > 0)
        .withColumn("__sz", size(col("__h")).cast("long")))
    val grams = sets.select(col("__id"), col("__sz"), explode(col("__h")).as("__g"))
    // gram document frequency via a map-side-combined groupBy: the shuffle
    // carries (gram, partial count) pairs, not posting rows. Grams with
    // df = 1 can never produce a candidate pair (they'd only self-join, and
    // id_a < id_b drops that), so they are pruned HERE — which typically
    // removes the long singleton tail, lets AQE broadcast the df table
    // when it fits, and shrinks everything downstream. (The round-3
    // formulation was a count-over-partition window: one exchange fewer on
    // paper, but it shuffled EVERY posting row by gram with no partial
    // aggregation and then re-shuffled every posting row again for the
    // per-doc ranking window — both over the full posting list.)
    val dfTab = grams.groupBy("__g").agg(count(lit(1)).as("__df"))
      .where(col("__df") >= 2)
    // df>=2 postings only. The per-doc ranking window below therefore sorts
    // a small fraction of the posting list; each doc's df-1 grams are
    // recovered arithmetically: under the global (df asc, hash asc) order
    // ALL of a doc's df-1 grams sort before its every df>=2 gram, so the
    // full-order rank of a df>=2 posting is (#df-1 grams in doc) + its
    // rank among the doc's df>=2 postings = (__sz - __n2) + __rn.
    val g2 = grams.join(dfTab, Seq("__g"))
    val wDoc = org.apache.spark.sql.expressions.Window.partitionBy(col("__id"))
      .orderBy(col("__df"), col("__g"))
    val wDocAll = org.apache.spark.sql.expressions.Window.partitionBy(col("__id"))
    // per-doc prefix: the |A| − ceil(t·|A|) + 1 globally-rarest grams
    // (identical posting set to ranking ALL grams and then dropping df-1
    // rows — asserted against the two-window formulation in the spec)
    // the prefix index feeds BOTH sides of the candidate self-join; without
    // a materialization each side re-runs the df join + both window passes
    // (the planner does not reuse the exchange across the self-join
    // aliases). Materializing the index once is also the warehouse-scale
    // shape: the prefix posting list is the small (~(1-t)·corpus grams,
    // df>=2 only) derivative of the corpus, built once, probed twice. Its
    // window stage is AQE-coalesced, so both probes read a few partitions,
    // not one per shuffle partition.
    val prefix = Caches.cache(g2
      .withColumn("__n2", count(lit(1)).over(wDocAll))
      .withColumn("__rn", row_number().over(wDoc))
      // full-order position of the posting within its doc (1-based), kept
      // for the positional filter below
      .withColumn("__pos", col("__rn") + (col("__sz") - col("__n2")))
      .where(col("__pos") <= col("__sz") - ceil(lit(minJaccard) * col("__sz")) + 1 &&
        col("__df") <= maxPrefixDf)
      .select("__g", "__id", "__sz", "__pos"))
    // candidate pairs: prefix-posting equi-join + two exact pruning rules
    // applied BEFORE the distinct/verification shuffles:
    //  - length filter: J >= t forces t·|A| <= |B| <= |A|/t;
    //  - positional filter (PPJoin, Xiao et al. 2008): J >= t forces
    //    overlap O >= ceil(t/(1+t)·(|A|+|B|)) =: alpha, and a pair whose
    //    FIRST shared gram sits at positions (pa, pb) has
    //    O <= 1 + min(|A|-pa, |B|-pb); rows violating the bound are
    //    dropped. Exact: for a true pair the bound always holds at its
    //    first shared prefix gram, and candidates are unioned over rows.
    val alpha = ceil(lit(minJaccard / (1.0 + minJaccard)) *
      (col("__sza") + col("__szb")))
    val cand = prefix.select(col("__g"), col("__id").as("id_a"),
        col("__sz").as("__sza"), col("__pos").as("__pa"))
      .join(prefix.select(col("__g"), col("__id").as("id_b"),
        col("__sz").as("__szb"), col("__pos").as("__pb")),
        Seq("__g"))
      .where(col("id_a") < col("id_b") &&
        col("__szb") * lit(minJaccard) <= col("__sza") &&
        col("__sza") * lit(minJaccard) <= col("__szb") &&
        lit(1) + least(col("__sza") - col("__pa"), col("__szb") - col("__pb")) >= alpha)
      .select("id_a", "id_b").distinct()
    // exact verification: fetch both SORTED hash arrays (two hash joins on
    // ids) and merge-intersect in one pass — never re-explodes candidates
    // into posting rows (candidates × |doc| rows through a shuffle)
    cand
      .join(sets.select(col("__id").as("id_a"), col("__h").as("__ha"),
        col("__sz").as("__sza")), Seq("id_a"))
      .join(sets.select(col("__id").as("id_b"), col("__h").as("__hb"),
        col("__sz").as("__szb")), Seq("id_b"))
      .withColumn("__inter", interSize(col("__ha"), col("__hb")))
      .select(col("id_a"), col("id_b"),
        round(col("__inter").cast("double") /
          (col("__sza") + col("__szb") - col("__inter")), 6).as("jaccard"))
      .where(col("jaccard") >= minJaccard)
  }
}

package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.functions.Text.tokens
import graft.operators.Similarity

/** The interpreted expression (HOF) formulations the typed kernels in main
  * are checked against — the REFERENCE semantics of each `*Fast` twin
  * (KernelTwinSpec, DedupSimilaritySpec). Only specs call them, so they
  * live on the test side; their bodies are the reference and do not change.
  */
object KernelTwins {

  /** The C4 per-row columns as named fields over `t`: (n_lines, n_kept,
    * reject_reason, cleaned) — the reference for
    * [[graft.operators.Curation.c4FieldsFast]].
    */
  def c4Fields(t: Column, minLineWords: Int = 5,
      minKeptLines: Int = 3): (Column, Column, Column, Column) = {
    val lines = split(t, "\r?\n", -1)
    val keepLine = (l: Column) =>
      substring(rtrim(l), -1, 1).isin(".", "!", "?", "\"") &&
        size(Text.tokens(l)) >= minLineWords
    val kept = filter(lines, keepLine)
    val reason = when(t.isNull, "missing_text")
      .when(lower(t).contains("lorem ipsum"), "lorem_ipsum")
      .when(t.contains("{"), "brace")
      .when(size(kept) < minKeptLines, "too_few_lines")
    (coalesce(size(lines), lit(0)), coalesce(size(kept), lit(0)), reason,
      when(reason.isNull, array_join(kept, "\n")).otherwise(lit("")))
  }

  /** The expression formulation of the five Gopher signals — the reference
    * for [[graft.operators.Curation.gopherSignalsFast]].
    */
  def gopherSignalsExpr(t: Column, stopwords: Seq[String])
      : (Column, Column, Column, Column, Column) = {
    val toks = Text.tokens(t)
    val wc = coalesce(size(toks), lit(0))
    val mwl = when(wc > 0,
      aggregate(toks, lit(0L), (acc, x) => acc + length(x)).cast("double") / wc)
      .otherwise(lit(0.0))
    val alphaFrac = when(wc > 0,
      size(filter(toks, x => x.rlike("[A-Za-z]"))).cast("double") / wc)
      .otherwise(lit(0.0))
    val nStop = coalesce(
      size(array_intersect(array_distinct(transform(toks, lower _)),
        array(stopwords.map(lit(_)): _*))), lit(0))
    val dupFrac = Text.dupWordFrac(t)
    (wc, mwl, alphaFrac, nStop, dupFrac)
  }

  /** Distinct word n-grams of the whitespace-tokenized text. Short docs
    * (< n tokens) yield an empty array — the `when` guard is load-bearing:
    * `sequence(1, 0)` is DESCENDING in Spark ([1,0]) and `slice(arr, 0, n)`
    * throws under ANSI mode. The gram set behind
    * [[graft.operators.Dedup.minhashSignatureFast]] and
    * [[graft.operators.Dedup.gramHashesFast]].
    */
  def tokenGrams(text: Column, n: Int): Column = {
    val tk = Text.tokens(text)
    array_distinct(
      when(size(tk) >= n,
        transform(sequence(lit(1), size(tk) - (n - 1)),
          i => array_join(slice(tk, i, lit(n)), " ")))
        .otherwise(array().cast("array<string>")))
  }

  /** MinHash signature: for each of k hash families, min over grams of
    * xxhash64(seed_i, gram), min-combined via zip_with — the reference for
    * [[graft.operators.Dedup.minhashSignatureFast]].
    */
  def minhashSignature(grams: Column, k: Int): Column =
    aggregate(grams,
      array_repeat(lit(Long.MaxValue), lit(k)),
      (acc, g) => zip_with(acc,
        array((0 until k).map(i => xxhash64(lit(i), g)): _*),
        (a, b) => least(a, b)))

  /** SimHash (64-bit): sign-sum of per-token hash bits weighted by
    * presence — the reference for [[graft.operators.Dedup.simhashFast]].
    */
  def simhash(text: Column): Column = {
    val toks = Text.tokens(text)
    val hs = transform(toks, t => xxhash64(t))
    // for each bit, +1 if set else -1, summed over tokens; bit set iff sum>0
    (0 until 64).map { b =>
      val votes = aggregate(hs, lit(0),
        (acc, h) => acc + when(shiftright(h, b).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1))
      when(votes > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Mean token length — the reference for the token-stats kernel's
    * `mean_token_len` column.
    */
  def meanTokenLen(text: Column): Column = {
    val toks = tokens(text)
    when(size(toks) > 0,
      aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") / size(toks))
      .otherwise(lit(0.0))
  }

  /** BPE-ish subword-count proxy: words + extra units for long words and
    * digit/punctuation boundaries — a deterministic stand-in for a real
    * tokenizer's token count (the project takes no tokenizer library). The
    * reference for the token-stats kernel's bpe count.
    */
  def bpeTokenCount(text: Column): Column = {
    val words = Text.tokenCount(text)
    val chars = length(regexp_replace(text, "\\s+", ""))
    // every word costs >=1 unit; characters beyond 6 per word add ~1 unit/4
    // chars. floor() is explicit so integer-division semantics can't differ
    // between engines.
    val extra = greatest(lit(0.0), floor((chars - words * lit(6)) / lit(4.0)))
    (words + extra).cast("long")
  }

  /** Punctuation character ratio — the reference for the token-stats
    * kernel's punctuation count.
    */
  def punctRatio(text: Column): Column =
    when(length(text) > 0,
      length(regexp_replace(text, "[a-zA-Z0-9\\s]", "")).cast("double") / length(text))
      .otherwise(lit(0.0))

  /** Per-language marker counts over `Text.langMarkers`, in language order. */
  def langScores(text: Column): Seq[(String, Column)] = {
    val toks = tokens(lower(text))
    Text.langMarkers.toSeq.sortBy(_._1).map { case (lang, markers) =>
      lang -> size(filter(toks, t => t.isin(markers.map(lit(_).cast("string")): _*)))
    }
  }

  /** Predicted language: argmax marker count, 'und' if all zero.
    * Ties break alphabetically (deterministic). The reference for
    * [[graft.functions.Text.langIdFast]].
    */
  def langId(text: Column): Column = {
    val scores = langScores(text)
    val best = scores.tail.foldLeft(struct(scores.head._2.as("s"), lit(scores.head._1).as("l"))) {
      case (acc, (lang, sc)) =>
        when(sc > acc.getField("s"), struct(sc.as("s"), lit(lang).as("l"))).otherwise(acc)
    }
    when(best.getField("s") > 0, best.getField("l")).otherwise(lit("und"))
  }

  /** Dot product of two array columns in double precision, accumulated
    * left to right.
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** The reference for [[graft.operators.Similarity.cosineFast]]. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Random-hyperplane LSH bucket id: `planes` sign bits, one interpreted
    * fold per plane — the reference for
    * [[graft.operators.Similarity.lshBucketFast]].
    */
  def lshBucket(vec: Column, planes: Int, dims: Int, seed: Long): Column =
    (0 until planes).map { p =>
      val weights = Similarity.planeWeights(p, dims, seed)
      val proj = aggregate(
        zip_with(vec, typedLit(weights.toSeq), (x, wgt) => x.cast("double") * wgt),
        lit(0.0), (acc, v) => acc + v)
      when(proj > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** Every aligned run of 4 tokens as one '\n'-joined line — the reference
    * for [[graft.QueriesR4.linedTextFast]].
    */
  def linedText(text: Column): Column = {
    val tk = Text.tokens(text)
    concat_ws("\n",
      transform(sequence(lit(0), floor((size(tk) - 1) / 4).cast("int")),
        i => concat_ws(" ", slice(tk, i * 4 + 1, lit(4)))))
  }
}

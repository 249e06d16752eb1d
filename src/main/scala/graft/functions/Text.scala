package graft.functions

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.Platform

/** Text-analysis column functions for caption/document processing, and the
  * ONE definition of the whitespace tokenizer and the token hash every
  * typed kernel uses. The Column functions are codegen'd Catalyst
  * built-ins, per SURVEY.md §2.8/§2.12 policy ("expressions first"); the
  * `*Fast` UDFs are their spec-asserted typed twins for the hot paths where
  * the interpreted HOF/regex form measured too slow.
  *
  * Tokenizer rules (those of [[tokens]], which every kernel follows): a
  * token is a maximal run of non-[[isWs]] chars, where whitespace is
  * exactly Java regex `\s` without UNICODE_CHARACTER_CLASS — the six ASCII
  * chars space, \t, \n, U+000B, \f, \r. U+00A0, U+0085, U+2028, U+3000
  * and every other non-ASCII char are token chars, as they are for
  * `split(_, "\\s+")`.
  */
object Text {

  /** The whitespace class of `split(_, "\\s+")` (Java regex `\s`). Takes a
    * char or a codepoint; no codepoint above U+007F is whitespace.
    */
  def isWs(c: Int): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == 0x0B || c == '\f' || c == '\r'

  /** `[a-zA-Z0-9]` — the non-whitespace part of the class a punctuation
    * count leaves out (`[a-zA-Z0-9\s]`, as in `KernelTwins.punctRatio`). */
  def isAsciiAlnum(c: Int): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9')

  /** First index >= `i` holding a non-whitespace char (`s.length` if none):
    * the start of the next token.
    */
  def skipWs(s: String, i: Int): Int = {
    var j = i
    while (j < s.length && isWs(s.charAt(j))) j += 1
    j
  }

  /** End (exclusive) of the token starting at `i`. With [[skipWs]] this is
    * the allocation-free index scan for kernels that need token bounds
    * without materializing the tokens.
    */
  def tokenEnd(s: String, i: Int): Int = {
    var j = i + 1
    while (j < s.length && !isWs(s.charAt(j))) j += 1
    j
  }

  /** [[tokens]] as a tight char scan: byte-equal to the expression without
    * per-call Pattern compilation or regex backtracking. Null text has no
    * tokens (the expression's null array).
    */
  def fastTokens(text: String): Array[String] = {
    if (text == null) return Array.empty[String]
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = skipWs(text, 0)
    while (i < text.length) {
      val j = tokenEnd(text, i)
      out += text.substring(i, j)
      i = skipWs(text, j)
    }
    out.toArray
  }

  /** Seed of every XXH64 term/gram/line hash: the seed Catalyst's
    * `xxhash64(...)` expression uses, so kernel hashes equal expression
    * hashes bit for bit.
    */
  val HashSeed = 42L

  /** `xxhash64(token)` of the expression side: Catalyst XXH64 with
    * [[HashSeed]] over the token's UTF-8 bytes.
    */
  def tokenHash(s: String): Long = {
    val b = s.getBytes(StandardCharsets.UTF_8)
    XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, HashSeed)
  }

  /** Whitespace tokenization; empty tokens removed. */
  def tokens(text: Column): Column =
    filter(split(trim(text), "\\s+"), t => length(t) > lit(0))

  /** [[tokens]] as DuckDB oracle SQL over the SQL expression `e`: the same
    * trim, whitespace split and empty-token filter, written once for every
    * oracle. DuckDB's `\s` is RE2's, which leaves out U+000B, so the class
    * is `[\s\v]`: exactly [[isWs]].
    */
  def sqlTokens(e: String): String =
    s"list_filter(string_split_regex(trim($e), '[\\s\\v]+'), x -> x <> '')"

  /** Token count (whitespace tokenizer). */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** Typed single-pass twin of [[tokenCount]]: counts tokens with the
    * [[skipWs]]/[[tokenEnd]] scan without materializing them — µs/row vs
    * the interpreted split+filter HOF pair (spec-asserted equal, including
    * the null → null convention of size-over-null-array).
    */
  val tokenCountFast: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (text: String) =>
      if (text == null) null.asInstanceOf[java.lang.Integer]
      else {
        var n = 0
        var i = skipWs(text, 0)
        while (i < text.length) {
          n += 1
          i = skipWs(text, tokenEnd(text, i))
        }
        java.lang.Integer.valueOf(n)
      }
    }

  /** Single-pass counting kernel for the token-stats family: ONE tokenizer
    * scan yields (n tokens, non-whitespace codepoints, summed token char
    * lengths, stopword occurrences, punctuation codepoints) — the raw
    * integer inputs of [[tokenCount]], `KernelTwins.bpeTokenCount`, mean
    * token length, [[stopwordRatio]] and `KernelTwins.punctRatio`, which
    * previously ran five separate interpreted HOF/regex passes per row.
    * Every RATIO stays an expression over these counts, so the double
    * arithmetic is the expressions' own — the kernel only counts
    * (KernelTwinSpec asserts each derived column
    * equal to its expression twin). Char counts are codepoint counts
    * (UTF8String numChars semantics); every non-whitespace codepoint is a
    * token codepoint, so the second and third fields are one count. Null
    * text returns a null struct — the expression forms' null algebra then
    * applies unchanged.
    */
  def tokenStatsFast(stopwords: Seq[String])
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    val stopSet = stopwords.toSet
    udf { (text: String) =>
      if (text == null) null
      else {
        var n = 0      // tokens
        var chars = 0  // token codepoints
        var sw = 0     // stopword token occurrences
        var punct = 0  // non-[a-zA-Z0-9\s] codepoints
        var i = skipWs(text, 0)
        while (i < text.length) {
          val end = tokenEnd(text, i)
          n += 1
          if (stopSet.contains(text.substring(i, end))) sw += 1
          while (i < end) {
            val cp = text.codePointAt(i)
            chars += 1
            if (!isAsciiAlnum(cp)) punct += 1
            i += Character.charCount(cp)
          }
          i = skipWs(text, end)
        }
        (n, chars, chars.toLong, sw, punct)
      }: (Int, Int, Long, Int, Int)
    }
  }

  /** Ratio of stopword tokens to all tokens (quality signal). */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
    val toks = tokens(text)
    val sw = filter(toks, t => t.isin(stopwords.map(lit(_).cast("string")): _*))
    when(size(toks) > 0, size(sw).cast("double") / size(toks)).otherwise(lit(0.0))
  }

  /** Fraction of tokens that repeat an earlier token — the word-level
    * repetition signal of Gopher-style quality filtering (Rae et al. 2021
    * §A.1.1: repetitious documents are low-quality). Pure per-row array
    * algebra: zero shuffle at any corpus size.
    */
  def dupWordFrac(text: Column): Column = {
    val toks = tokens(text)
    when(size(toks) > 0,
      lit(1.0) - size(array_distinct(toks)).cast("double") / size(toks))
      .otherwise(lit(0.0))
  }

  /** The single most frequent bigram's share of all bigrams (Gopher's
    * top-2-gram fraction). Computed without a shuffle: bigrams are built
    * with `transform` over the token array, sorted, and the longest
    * equal-adjacent run found by one `aggregate` fold — per-document work
    * only, so the operator scales embarrassingly at 10^12 documents where
    * an explode + groupBy formulation would shuffle every bigram.
    */
  def topBigramFrac(text: Column): Column = {
    val toks = tokens(text)
    val bigrams = when(size(toks) >= 2,
      transform(sequence(lit(1), size(toks) - 1),
        i => concat(element_at(toks, i), lit(" "), element_at(toks, i + 1))))
      .otherwise(array().cast("array<string>"))
    val sorted = array_sort(bigrams)
    val best = aggregate(
      sorted,
      struct(lit(null).cast("string").as("prev"), lit(0L).as("run"),
        lit(0L).as("best")),
      (acc, x) => {
        val run = when(acc("prev") <=> x, acc("run") + 1).otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc("best"), run).as("best"))
      },
      acc => acc("best"))
    when(size(bigrams) > 0, best.cast("double") / size(bigrams))
      .otherwise(lit(0.0))
  }

  /** The language-profile table of [[langIdFast]]: a language's score is
    * the count of its characteristic function words among the lowercased
    * tokens. The spec-side column twin (`KernelTwins.langId`) reads this
    * same table.
    */
  private[graft] val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "is", "with", "for"),
    "es" -> Seq("el", "la", "de", "que", "los", "una"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ein"),
    "fr" -> Seq("le", "la", "les", "des", "est", "une"))

  // alphabetical lang order (the tie-break order of KernelTwins.langId's
  // fold) and a marker -> lang bitmask table ("la" belongs to es AND fr — a
  // marker may score several languages, exactly as four independent
  // filters do)
  private val langsSorted: Array[String] = langMarkers.keys.toArray.sorted
  private val markerMask: java.util.HashMap[String, Int] = {
    val m = new java.util.HashMap[String, Int]()
    langsSorted.zipWithIndex.foreach { case (lang, i) =>
      langMarkers(lang).foreach(w => m.put(w, Integer.valueOf(
        (if (m.containsKey(w)) m.get(w) else 0) | (1 << i))))
    }
    m
  }
  private val maxMarkerLen: Int = langMarkers.values.flatten.map(_.length).max

  /** Typed single-pass twin of the column form `KernelTwins.langId` — same
    * semantics (spec-asserted equal on generated and edge-case docs): one
    * scan of the string, no
    * token-array materialization, no interpreted array-HOF lambdas. The
    * column form is ~4 filter() higher-order functions per row, which stay
    * outside whole-stage codegen; this is the hot-path form for
    * corpus-scale language id (same `*Fast` pattern as
    * [[graft.operators.Dedup.minhashSignatureFast]]).
    */
  val langIdFast: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (text: String) =>
      if (text == null) "und"
      else {
        val counts = new Array[Int](langsSorted.length)
        val n = text.length
        val buf = new Array[Char](maxMarkerLen)
        var i = skipWs(text, 0)
        while (i < n) {
          val j = tokenEnd(text, i)
          val len = j - i
          if (len <= maxMarkerLen) {
            var k = 0
            while (k < len) { buf(k) = Character.toLowerCase(text.charAt(i + k)); k += 1 }
            // missing key -> 0 (no marker bits), explicitly: Scala unboxes
            // HashMap[String, Int].get's null to 0 anyway, but silently
            val mask = markerMask.getOrDefault(new String(buf, 0, len), 0)
            if (mask != 0) {
              var b = 0
              while (b < counts.length) {
                if ((mask & (1 << b)) != 0) counts(b) += 1
                b += 1
              }
            }
          }
          i = skipWs(text, j)
        }
        var best = -1
        var bestScore = 0
        var b = 0
        while (b < counts.length) {
          if (counts(b) > bestScore) { bestScore = counts(b); best = b }
          b += 1
        }
        if (best < 0) "und" else langsSorted(best)
      }
    }

  /** Deterministic 64-bit document fingerprint: rotate-xor rolling hash over
    * the token sequence (order-sensitive, whitespace-normalized) — exact-dup
    * detection key that is stable across partitionings. Uses shift/xor only,
    * so it is ANSI-mode safe (no overflow-checked arithmetic).
    */
  def fingerprint(text: Column): Column =
    aggregate(tokens(text), lit(1469598103934665603L),
      (acc, t) => shiftleft(acc, 5).bitwiseOR(shiftrightunsigned(acc, 59))
        .bitwiseXOR(xxhash64(t)))
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{HouseRound, Text}

/** Heuristic corpus-curation gates — the rule-based filtering layer of the
  * web-scale training-data stack that runs BEFORE the model-based classifier
  * ([[Quality.nbClassifierScore]]): C4's line-level cleaning (Raffel et al.
  * 2020, §2.2), Gopher's document-quality rules (Rae et al. 2021, §A.1.1),
  * and C4-style PII redaction. The reference's analog is its threshold /
  * blacklist feature gates (`train_functions.R:8-26`,
  * `Fig-2C_D_plot_univariate.R` filters) applied per-row.
  *
  * Scale shape: every operator here is a PURE PROJECTION — split / filter /
  * aggregate over per-row arrays and regexes, all codegen'd Catalyst
  * built-ins, zero shuffle at any corpus size (the same
  * embarrassingly-parallel contract as [[graft.functions.Text.dupWordFrac]]).
  * Nothing document-keyed ever exchanges; 10^12 documents cost exactly
  * 10^12 / cores row visits.
  *
  * Determinism: every emitted float is rounded by
  * [[graft.functions.HouseRound]] and every rule is an exact string /
  * integer predicate, so outputs are bit-identical at any parallelism and
  * replayable in ANSI SQL by a cross-engine oracle.
  */
object Curation {

  /** C4 line-level cleaning + page gates (Raffel et al. 2020 §2.2).
    * Contract: `text`'s lines are '\n'- or CRLF-separated (the split eats
    * the '\r' of a CRLF pair, so Windows-lineage web pages are cleaned,
    * not rejected wholesale). Line rules (both must
    * hold to keep a line): ends in a terminal punctuation mark
    * (`. ! ? "`) after right-trim, and has at least `minLineWords`
    * whitespace tokens. Page rules, first failing wins:
    * 'lorem_ipsum' (placeholder text anywhere, case-insensitive),
    * 'brace' (a `{` anywhere — code, not prose), 'too_few_lines'
    * (fewer than `minKeptLines` surviving lines). Output one row per
    * input document: (id, n_lines, n_kept, reject_reason NULL=pass,
    * keep, cleaned_text — kept lines re-joined, empty string when the
    * page is rejected so downstream never trains on a rejected page).
    */
  /** Per-row C4 result struct ([[c4FieldsFast]]). */
  final case class C4Row(n_lines: Int, n_kept: Int, reject_reason: String,
      cleaned_text: String)

  /** Typed single-pass C4 kernel — the `*Fast` twin of the expression
    * reference (spec-side `KernelTwins.c4Fields`)
    * (byte-equal incl. CRLF, trailing-empty-line and lone-'\r' edges,
    * asserted in KernelTwinSpec): one scan splits on \r?\n exactly as the
    * regex does (an optional '\r' immediately before each '\n' joins the
    * separator; a lone '\r' stays in its line, trailing empties kept per
    * split(..., -1)), applies the line rules (space-rtrimmed terminal
    * punctuation + >= minLineWords whitespace tokens) and the ordered page
    * rules, and joins kept lines — replacing a per-row chain of regex
    * split + filter-HOF (itself tokenizing every line) + lower + contains
    * + array_join interpreted trees. Null text returns a null struct; the
    * caller's null algebra applies unchanged.
    */
  private[graft] def c4FieldsFast(minLineWords: Int = 5,
      minKeptLines: Int = 3): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (t: String) =>
      if (t == null) null.asInstanceOf[C4Row]
      else {
        val lines = scala.collection.mutable.ArrayBuffer.empty[String]
        val len = t.length
        var from = 0
        var i = 0
        while (i < len) {
          if (t.charAt(i) == '\n') {
            val end = if (i > from && t.charAt(i - 1) == '\r') i - 1 else i
            lines += t.substring(from, end)
            from = i + 1
          }
          i += 1
        }
        lines += t.substring(from)
        def keepLine(l: String): Boolean = {
          var e = l.length
          while (e > 0 && l.charAt(e - 1) == ' ') e -= 1
          if (e == 0) return false
          val c = l.charAt(e - 1)
          if (!(c == '.' || c == '!' || c == '?' || c == '"')) return false
          // token count >= minLineWords, count-only scan
          var n = 0
          var j = Text.skipWs(l, 0)
          while (j < l.length && n < minLineWords) {
            n += 1
            j = Text.skipWs(l, Text.tokenEnd(l, j))
          }
          n >= minLineWords
        }
        val kept = lines.filter(keepLine)
        val lower = org.apache.spark.unsafe.types.UTF8String
          .fromString(t).toLowerCase.toString
        val reason =
          if (lower.contains("lorem ipsum")) "lorem_ipsum"
          else if (t.contains("{")) "brace"
          else if (kept.size < minKeptLines) "too_few_lines"
          else null
        C4Row(lines.size, kept.size, reason,
          if (reason == null) kept.mkString("\n") else "")
      }
    }

  def c4Clean(df: DataFrame, id: String, text: String,
      minLineWords: Int = 5, minKeptLines: Int = 3): DataFrame = {
    val t = col(text)
    val s = col("__c4s")
    val reason = when(t.isNull, "missing_text").otherwise(s("reject_reason"))
    df.withColumn("__c4s", c4FieldsFast(minLineWords, minKeptLines)(t))
      .select(col(id),
        coalesce(s("n_lines"), lit(0)).as("n_lines"),
        coalesce(s("n_kept"), lit(0)).as("n_kept"),
        reason.as("reject_reason"),
        reason.isNull.as("keep"),
        coalesce(s("cleaned_text"), lit("")).as("cleaned_text"))
  }

  /** Gopher document-quality gate (Rae et al. 2021 §A.1.1), first failing
    * rule wins — the [[graft.multimodal.Multimodal.qualityGate]] discipline
    * for text. Rules in order: word count outside [minWords, maxWords];
    * mean word length outside [3, 10]; fraction of tokens containing an
    * alphabetic character below `minAlphaFrac`; fewer than 2 DISTINCT
    * required function words present (Gopher's stop-word rule); duplicate
    * token fraction above `maxDupFrac` (the §A.1.1 repetition family,
    * collapsed to the word-level signal — bigram/line variants are in
    * `txt_repetition`). Emits the measured signals alongside the verdict
    * so rejections are auditable.
    */
  /** Raw per-row Gopher signals. The five fields mirror the expression
    * formulation (spec-side `KernelTwins.gopherSignalsExpr`) value
    * for value — same token set, same UTF8String char counts / lowercase,
    * same double division order — so [[gopherGate]] built on either is
    * bit-identical (asserted in CurationSpec).
    */
  final case class GopherSignals(wc: Int, mwl: Double, alpha_frac: Double,
      n_stop: Int, dup_frac: Double)

  /** Typed single-pass Gopher signal kernel: one tokenizer scan computes
    * word count, summed char lengths, alpha-token count, distinct-token
    * count and the distinct-stopword hits — replacing FIVE interpreted
    * array-HOF expressions per row (the round-1 MinHash lesson; the HOF
    * form stays as the spec oracle). Char counts and lowercasing go
    * through UTF8String — exactly what the length()/lower() expressions
    * execute — so the doubles are bit-equal by construction.
    */
  private[graft] def gopherSignalsFast(stopwords: Seq[String])
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    val stopSet = stopwords.toSet
    udf { (t: String) =>
      if (t == null) GopherSignals(0, 0.0, 0.0, 0, 0.0)
      else {
        val toks = Text.fastTokens(t)
        val n = toks.length
        if (n == 0) GopherSignals(0, 0.0, 0.0, 0, 0.0)
        else {
          var lenSum = 0L
          var alphaCnt = 0
          val distinct = new java.util.HashSet[String](n * 2)
          val stopsSeen = new java.util.HashSet[String](4)
          var i = 0
          while (i < n) {
            val tok = toks(i)
            val u = org.apache.spark.unsafe.types.UTF8String.fromString(tok)
            lenSum += u.numChars()
            var hasAlpha = false
            var j = 0
            while (!hasAlpha && j < tok.length) {
              val c = tok.charAt(j)
              if ((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')) hasAlpha = true
              j += 1
            }
            if (hasAlpha) alphaCnt += 1
            distinct.add(tok)
            val lowered = u.toLowerCase.toString
            if (stopSet(lowered)) stopsSeen.add(lowered)
            i += 1
          }
          GopherSignals(n,
            lenSum.toDouble / n,
            alphaCnt.toDouble / n,
            stopsSeen.size,
            1.0 - distinct.size.toDouble / n)
        }
      }
    }
  }

  /** The first-failing Gopher rule over signal columns — shared by
    * [[gopherGate]] and inline consumers (the funnel staging pass) so the
    * rule order exists exactly once.
    */
  private[graft] def gopherReason(t: Column, wc: Column, mwl: Column,
      alphaFrac: Column, nStop: Column, dupFrac: Column, minWords: Int,
      maxWords: Int, minAlphaFrac: Double, maxDupFrac: Double): Column =
    when(t.isNull, "missing_text")
      .when(wc < minWords, "too_few_words")
      .when(wc > maxWords, "too_many_words")
      .when(mwl < 3.0 || mwl > 10.0, "word_length")
      .when(alphaFrac < minAlphaFrac, "non_alpha_words")
      .when(nStop < 2, "stopwords")
      .when(dupFrac > maxDupFrac, "repetition")

  def gopherGate(df: DataFrame, id: String, text: String,
      stopwords: Seq[String], minWords: Int = 50, maxWords: Int = 100000,
      minAlphaFrac: Double = 0.8, maxDupFrac: Double = 0.5): DataFrame = {
    val t = col(text)
    val sig = col("__gsig")
    val (wc, mwl, af, ns, dp) = (sig("wc"), sig("mwl"), sig("alpha_frac"),
      sig("n_stop"), sig("dup_frac"))
    val reason = gopherReason(t, wc, mwl, af, ns, dp,
      minWords, maxWords, minAlphaFrac, maxDupFrac)
    df.withColumn("__gsig", gopherSignalsFast(stopwords)(t))
      .select(col(id),
        wc.as("word_count"),
        HouseRound(mwl, 4).as("mean_word_len"),
        HouseRound(af, 4).as("alpha_frac"),
        ns.as("n_stopwords"),
        HouseRound(dp, 4).as("dup_frac"),
        reason.as("reject_reason"),
        reason.isNull.as("keep"))
  }

  // PII patterns shared by redaction and counting. RE2/Java-regex common
  // subset ONLY (\b, \d, character classes, bounded repeats, non-capturing
  // groups) so a cross-engine oracle replays them verbatim.
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"
  val PhonePattern = "\\+?\\d{3}[- ]\\d{3}[- ]\\d{4}"

  /** C4-style PII scrub: replace emails, IPv4 addresses, and phone numbers
    * with typed placeholders and count each class. Counts are taken on the
    * ORIGINAL text, independently per pattern — they are audit totals for
    * "this class of PII appeared", NOT a census of the placeholders in
    * `redacted_text`: redaction runs email → ip → phone, so a phone- or
    * IP-shaped run INSIDE an email's local part or domain (e.g.
    * '555-123-4567@x.com', 'a@1.2.3.4.example.com') is counted under its
    * own class but disappears into the earlier <EMAIL> placeholder.
    * Phone vs IPv4 cannot overlap (the phone separator class excludes
    * '.'), and either placeholder substitution leaves no digits behind,
    * so the redacted text itself is PII-free either way — the property
    * the scrub exists for.
    */
  def piiRedact(df: DataFrame, id: String, text: String): DataFrame = {
    val t = col(text)
    val s = col("__pii")
    df.withColumn("__pii", piiKernel(t))
      .select(col(id),
        coalesce(s("n_email").cast("long"), lit(0L)).as("n_email"),
        coalesce(s("n_ip").cast("long"), lit(0L)).as("n_ip"),
        coalesce(s("n_phone").cast("long"), lit(0L)).as("n_phone"),
        s("redacted").as("redacted_text"))
  }

  /** Per-row PII struct. */
  final case class PiiCounts(n_email: Int, n_ip: Int, n_phone: Int,
      redacted: String)

  /** Typed single-pass PII kernel: the expression form ran SIX regex
    * passes per row (three regexp_count over the original + three nested
    * regexp_replace). This compiles the same three patterns once per task
    * and does three count scans + three replace scans with the very
    * java.util.regex engine Spark's RegExpCount/RegExpReplace execute —
    * same non-overlapping find() census on the ORIGINAL text, same
    * email → ip → phone replace order — so outputs are byte-identical
    * (CurationSpec + oracle gate; the win is pattern-compile amortization
    * and no per-expression UTF8String -> String re-conversions).
    */
  private val piiKernel: org.apache.spark.sql.expressions.UserDefinedFunction = {
    udf { (t: String) =>
      if (t == null) null.asInstanceOf[PiiCounts]
      else {
        val email = PiiRegex.email
        val ip = PiiRegex.ip
        val phone = PiiRegex.phone
        def count(p: java.util.regex.Pattern): Int = {
          val m = p.matcher(t)
          var c = 0
          while (m.find()) c += 1
          c
        }
        val redacted = phone.matcher(
          ip.matcher(
            email.matcher(t).replaceAll("<EMAIL>"))
            .replaceAll("<IP>"))
          .replaceAll("<PHONE>")
        PiiCounts(count(email), count(ip), count(phone), redacted)
      }
    }
  }

  /** Compiled-once pattern trio shared by every task (Pattern is
    * thread-safe; Matchers are per-call).
    */
  private object PiiRegex {
    val email: java.util.regex.Pattern = java.util.regex.Pattern.compile(EmailPattern)
    val ip: java.util.regex.Pattern = java.util.regex.Pattern.compile(Ipv4Pattern)
    val phone: java.util.regex.Pattern = java.util.regex.Pattern.compile(PhonePattern)
  }
}

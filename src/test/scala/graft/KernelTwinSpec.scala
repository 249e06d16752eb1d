package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Text
import graft.operators.{Curation, Quality}

/** Bit-equality of the round-6 typed kernels against their interpreted
  * expression (HOF) reference formulations — the house `*Fast` policy
  * (cf. DedupSimilaritySpec for minhash/simhash/gram kernels): the HOF
  * form is the semantics, the kernel must reproduce it exactly, byte for
  * byte / double for double, including null and empty edge cases.
  */
class KernelTwinSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Edge inputs + pseudo-corpus docs (deterministic). */
  private val docs: Seq[(Long, String)] = {
    val edge = Seq(
      null.asInstanceOf[String], "", " ", "   \t\n ", "\u000B\f\r",
      "a", "a b", "a b c", "a b c d", "a b c d e", "a b c d e f g h i",
      "  leading and trailing   ", "tab\tsep\nnewline mix\r\nhere now ok",
      "the a the a THE A tHe", "héllo wörld ÉÀ ßharp",
      "𝕏 wide char a b", "!!! ??? ... (x) {y}",
      "word " * 30, "supercalifragilisticexpialidocious tiny a the",
      "número uno dos tres the a,b c.d",
      // separators: U+000B is \s; U+00A0, U+0085, U+2028, U+3000 are token
      // chars; a surrogate pair is one codepoint; leading/trailing runs
      "vt\u000Bsep\u000Bthe", "nbsp\u00A0joins a b", "nel\u0085x ls\u2028y the",
      "ideo\u3000space a", "\uD835\uDD4F\uD835\uDD4F pair\uD835\uDD4F. a",
      "\u000B\t\f lead and trail \r\n\u000B", "\u3000\u00A0 \u2028")
    val gen = (0 until 200).map { i =>
      val words = (0 until (i % 13)).map(j =>
        s"w${(i * 31 + j * 7) % 23}" + (if ((i + j) % 5 == 0) "." else ""))
      words.mkString(if (i % 3 == 0) " " else if (i % 3 == 1) "  " else "\t")
    }
    (edge ++ gen).zipWithIndex.map { case (s, i) => (i.toLong, s) }
  }

  private lazy val df = docs.toDF("id", "text")

  test("tokenCountFast == size(Text.tokens) incl. null semantics") {
    val got = df.select(col("id"), Text.tokenCountFast(col("text")).as("fast"),
      Text.tokenCount(col("text")).as("ref")).collect()
    got.foreach { r =>
      assert(r.get(1) === r.get(2), s"id=${r.getLong(0)}")
    }
  }

  test("gopherSignalsFast == the HOF signal expressions, all five fields") {
    val stop = Seq("the", "a")
    val (wc, mwl, af, ns, dp) = KernelTwins.gopherSignalsExpr(col("text"), stop)
    val sig = Curation.gopherSignalsFast(stop)(col("text"))
    // the expression formulation's null-text conventions (coalesce-to-0 /
    // otherwise-0.0) applied HERE, exactly as gopherGate's select does
    val got = df.select(col("id"),
      sig("wc"), sig("mwl"), sig("alpha_frac"), sig("n_stop"), sig("dup_frac"),
      coalesce(wc, lit(0)), mwl, af, coalesce(ns, lit(0)), dp).collect()
    got.foreach { r =>
      assert(r.getInt(1) === r.getInt(6), s"wc id=${r.getLong(0)}")
      assert(java.lang.Double.compare(r.getDouble(2), r.getDouble(7)) == 0,
        s"mwl id=${r.getLong(0)}: ${r.getDouble(2)} vs ${r.getDouble(7)}")
      assert(java.lang.Double.compare(r.getDouble(3), r.getDouble(8)) == 0,
        s"alpha id=${r.getLong(0)}")
      assert(r.getInt(4) === r.getInt(9), s"n_stop id=${r.getLong(0)}")
      assert(java.lang.Double.compare(r.getDouble(5), r.getDouble(10)) == 0,
        s"dup id=${r.getLong(0)}")
    }
  }

  test("gopherGate over the kernel == the expression formulation, full row") {
    val stop = Seq("the", "a")
    val gate = Curation.gopherGate(df, "id", "text", stop,
      minWords = 5, maxDupFrac = 0.5).collect()
      .map(r => r.getLong(0) -> r).toMap
    // reference gate rebuilt from the expression signals with the same
    // reason chain + rounding
    val (wc, mwl, af, ns, dp) = KernelTwins.gopherSignalsExpr(col("text"), stop)
    val reason = Curation.gopherReason(col("text"), coalesce(wc, lit(0)), mwl,
      af, coalesce(ns, lit(0)), dp, 5, 100000, 0.8, 0.5)
    val ref = df.select(col("id"), coalesce(wc, lit(0)).as("word_count"),
      round(mwl + 1.7e-8, 4).as("mean_word_len"),
      round(af + 1.7e-8, 4).as("alpha_frac"),
      coalesce(ns, lit(0)).as("n_stopwords"),
      round(dp + 1.7e-8, 4).as("dup_frac"),
      reason.as("reject_reason"), reason.isNull.as("keep")).collect()
    ref.foreach { r =>
      val g = gate(r.getLong(0))
      (1 until r.length).foreach { i =>
        assert(g.get(i) === r.get(i), s"id=${r.getLong(0)} field $i")
      }
    }
  }

  test("c4Clean kernel == the expression (c4Fields) formulation, full row") {
    // C4-shaped docs: multi-line pages, CRLF, lone \r, trailing newlines,
    // empty lines, lorem/brace plants, short lines, punctuation variants
    val c4docs = (docs ++ Seq(
      (1000L, "good line one with five words.\nshort.\nanother good long line here ok!\nthird nice long line sits here?"),
      (1001L, "a b c d e.\r\nf g h i j!\r\nk l m n o?\r\n"),
      (1002L, "lone \r stays inline with words here.\nsecond long line of words here.\nthird long line of words here."),
      (1003L, "see Lorem IPSUM here.\nx.\ny."),
      (1004L, "if (x) { y }\nlong line with many words here.\nmore words on this line here."),
      (1005L, "trailing spaces line with words here.   \nanother padded long line right here!  \nthird one with enough words too?\n\n"),
      (1006L, "\"quoted terminal line with five words\"\nsecond long quoted line of words.\nthird long line with words here.")
    ).map { case (i, s) => (i, s) }).toDF("id", "text")
    val fast = Curation.c4Clean(c4docs, "id", "text").collect()
      .map(r => r.getLong(0) -> r).toMap
    val (nLines, nKept, reason, cleaned) = KernelTwins.c4Fields(col("text"))
    val ref = c4docs.select(col("id"), nLines.as("n_lines"),
      nKept.as("n_kept"), reason.as("reject_reason"),
      reason.isNull.as("keep"), cleaned.as("cleaned_text")).collect()
    ref.foreach { r =>
      val f = fast(r.getLong(0))
      (1 until r.length).foreach { i =>
        assert(f.get(i) === r.get(i), s"id=${r.getLong(0)} field $i: " +
          s"${f.get(i)} vs ${r.get(i)}")
      }
    }
  }

  test("linedTextFast == the sequence/slice/concat_ws expression, byte-equal") {
    val got = df.select(col("id"),
      QueriesR4.linedTextFast(col("text")).as("fast"),
      KernelTwins.linedText(col("text")).as("ref")).collect()
    got.foreach { r =>
      assert(r.getString(1) === r.getString(2),
        s"id=${r.getLong(0)}: '${r.getString(1)}' vs '${r.getString(2)}'")
    }
  }

  test("tokenStatsFast-derived columns == the five expression twins") {
    import graft.corpus.Corpus
    val st = col("__ts")
    val n = st("_1"); val chars = st("_2"); val lenSum = st("_3")
    val sw = st("_4"); val pc = st("_5")
    val fast = df.withColumn("__ts", Text.tokenStatsFast(Corpus.Stopwords)(col("text")))
      .select(col("id"),
        n.cast("long"),
        (n + greatest(lit(0.0), floor((chars - n * lit(6)) / lit(4.0)))).cast("long"),
        round(when(n > 0, lenSum.cast("double") / n).otherwise(lit(0.0)), 4),
        round(when(n > 0, sw.cast("double") / n).otherwise(lit(0.0)), 4),
        round(when(length(col("text")) > 0,
          pc.cast("double") / length(col("text"))).otherwise(lit(0.0)), 4)).collect()
    val ref = df.select(col("id"),
      Text.tokenCount(col("text")).cast("long"),
      KernelTwins.bpeTokenCount(col("text")),
      round(KernelTwins.meanTokenLen(col("text")), 4),
      round(Text.stopwordRatio(col("text"), Corpus.Stopwords), 4),
      round(KernelTwins.punctRatio(col("text")), 4)).collect()
    fast.zip(ref).foreach { case (f, r) =>
      (0 until r.length).foreach { i =>
        assert(f.get(i) === r.get(i), s"id=${r.getLong(0)} field $i")
      }
    }
  }

  test("piiRedact kernel == the six-regex expression formulation, byte-equal") {
    val pii = docs.map { case (i, s) =>
      (i, if (s == null) null
          else s + (if (i % 3 == 0) " bob@x.example.org and 10.0.0.1 call 555-123-4567 ok" else ""))
    }.toDF("id", "text")
    val fast = Curation.piiRedact(pii, "id", "text").collect()
      .map(r => r.getLong(0) -> r).toMap
    val t = col("text")
    val redacted = regexp_replace(
      regexp_replace(
        regexp_replace(t, Curation.EmailPattern, "<EMAIL>"),
        Curation.Ipv4Pattern, "<IP>"),
      Curation.PhonePattern, "<PHONE>")
    val ref = pii.select(col("id"),
      coalesce(regexp_count(t, lit(Curation.EmailPattern)), lit(0L)).as("n_email"),
      coalesce(regexp_count(t, lit(Curation.Ipv4Pattern)), lit(0L)).as("n_ip"),
      coalesce(regexp_count(t, lit(Curation.PhonePattern)), lit(0L)).as("n_phone"),
      redacted.as("redacted_text")).collect()
    ref.foreach { r =>
      val f = fast(r.getLong(0))
      (1 until r.length).foreach { i =>
        assert(f.get(i) === r.get(i), s"id=${r.getLong(0)} field $i")
      }
    }
  }

  test("distinctBucketsFast multiset == explode(array_distinct)+pmod(xxhash64)") {
    val dim = 4096
    val fast = df.select(
        explode(Quality.distinctBucketsFast(dim)(col("text"))).as("h"))
      .groupBy("h").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ref = df.select(
        explode(array_distinct(Text.tokens(col("text")))).as("t"))
      .groupBy(pmod(xxhash64(col("t")), lit(dim.toLong)).as("h"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast === ref)
  }
}

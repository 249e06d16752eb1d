package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Similarity, Terms}

/** Round-4 training-pipeline operators: line-level dedup, benchmark
  * decontamination, semantic dedup, TF-IDF — edge cases the DuckDB oracle
  * can't exercise (all-boilerplate docs, empty overlap, planted duplicate
  * vectors, tie-breaking).
  */
class PipelineR4Spec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // ---------- dedupLines ------------------------------------------------------

  test("dedupLines removes cross-doc lines, keeps order, keeps empty docs") {
    val d = Seq(
      (1L, "unique one\nSHARED BANNER\nunique two"),
      (2L, "SHARED BANNER\nother text"),
      (3L, "SHARED BANNER"), // loses everything
      (4L, "solo line\n\n  \nsecond solo") // blank lines dropped as noise
    ).toDF("doc_id", "text")
    val r = Dedup.dedupLines(d, "doc_id", "text").collect()
      .map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[String]("clean_text"), x.getAs[Long]("n_kept"),
          x.getAs[Long]("n_removed")))).toMap
    assert(r(1L) == (("unique one\nunique two", 2L, 1L)))
    assert(r(2L) == (("other text", 1L, 1L)))
    assert(r(3L) == (("", 0L, 1L))) // present with empty text, not dropped
    assert(r(4L) == (("solo line\nsecond solo", 2L, 0L)))
  }

  test("dedupLines counts within-doc repeats once toward the document frequency") {
    // "x y" twice inside doc 1 only -> df = 1 -> kept (maxDocs = 1)
    val d = Seq((1L, "x y\nx y"), (2L, "b")).toDF("doc_id", "text")
    val r = Dedup.dedupLines(d, "doc_id", "text").collect()
      .map(x => x.getAs[Long]("doc_id") -> x.getAs[String]("clean_text")).toMap
    assert(r(1L) == "x y\nx y")
  }

  test("dedupLines: null-text document comes back as ('', 0, 0), not null counts") {
    val d = Seq((1L, "a line"), (2L, null)).toDF("doc_id", "text")
    val r = Dedup.dedupLines(d, "doc_id", "text").collect()
      .map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[String]("clean_text"), x.getAs[Long]("n_kept"),
          x.getAs[Long]("n_removed")))).toMap
    assert(r(2L) == (("", 0L, 0L)))
    assert(r(1L) == (("a line", 1L, 0L)))
  }

  test("dedupLines maxDocs threshold: shared line survives when allowed in 2 docs") {
    val d = Seq((1L, "s\na"), (2L, "s\nb"), (3L, "c")).toDF("doc_id", "text")
    val r = Dedup.dedupLines(d, "doc_id", "text", maxDocs = 2).collect()
    assert(r.forall(_.getAs[Long]("n_removed") == 0L))
  }

  test("dedupLines broadcast kernel ≡ shuffle fallback on adversarial inputs") {
    // the fast path classifies blanks and hashes lines in a typed kernel
    // (UTF8String.trim + XXH64) that must be bit-equal to the expression
    // path (trim + xxhash64) the fallback uses; probe the boundary cases:
    // tab/NBSP/control-char "blanks" (Spark trim strips ASCII <= 0x20,
    // NOT U+00A0), interior/trailing spaces, multi-byte UTF-8, trailing
    // separators, within-doc repeats, docs losing everything, null text
    val d = Seq(
      (1L, "SHARED\n\tSHARED\nSHARED \n   \nuniqueé 世界"),
      (2L, "SHARED\n\u0007\nx\ny\n"),
      (3L, " SHARED \n\nonly3"),
      (4L, null.asInstanceOf[String]),
      (5L, "x\nx\nSHARED")
    ).toDF("doc_id", "text")
    for (maxDocs <- Seq(0L, 1L, 2L)) {
      val fast = Dedup.dedupLines(d, "doc_id", "text", maxDocs = maxDocs)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3))).sortBy(_._1)
      val slow = Dedup.dedupLines(d, "doc_id", "text", maxDocs = maxDocs,
          maxBroadcastLines = 0) // force the shuffle fallback
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3))).sortBy(_._1)
      assert(fast.sameElements(slow), s"paths diverge at maxDocs=$maxDocs")
    }
  }

  test("dedupLines rail overflow falls back (maxBroadcastLines=0) and still dedups") {
    val d = Seq((1L, "c\nu1"), (2L, "c\nu2")).toDF("doc_id", "text")
    val r = Dedup.dedupLines(d, "doc_id", "text", maxBroadcastLines = 0)
      .collect().map(x => x.getAs[Long]("doc_id") ->
        x.getAs[String]("clean_text")).toMap
    assert(r == Map(1L -> "u1", 2L -> "u2"))
  }

  // ---------- decontaminate ---------------------------------------------------

  test("decontaminate flags exactly the docs sharing an n-gram with the benchmark") {
    val train = Seq(
      (1L, "alpha beta gamma delta tail"), // shares the 4-gram
      (2L, "completely different words here"),
      (3L, "beta gamma delta alpha none") // same tokens, no shared 4-gram
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "prefix alpha beta gamma delta")).toDF("doc_id", "text")
    val r = Dedup.decontaminate(train, bench, "doc_id", "text", n = 4).collect()
    assert(r.length == 1)
    assert(r(0).getAs[Long]("doc_id") == 1L)
    assert(r(0).getAs[Long]("n_hit_grams") == 1L)
  }

  test("decontaminate: empty overlap yields empty result; shuffle fallback agrees") {
    val train = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    val bench = Seq((9L, "v w x y z")).toDF("doc_id", "text")
    assert(Dedup.decontaminate(train, bench, "doc_id", "text", n = 4).isEmpty)
    val t2 = Seq((1L, "a b c d e"), (2L, "c d e f g")).toDF("doc_id", "text")
    val b2 = Seq((9L, "x c d e f")).toDF("doc_id", "text")
    val bc = Dedup.decontaminate(t2, b2, "doc_id", "text", n = 3).collect()
    val sh = Dedup.decontaminate(t2, b2, "doc_id", "text", n = 3,
      broadcastBench = false).collect()
    assert(bc.map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ==
      sh.map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq)
    assert(bc.map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
  }

  // ---------- semanticDedup ---------------------------------------------------

  /** Deterministic embeddings: two planted exact-direction duplicates of
    * vector 0 (ids 10, 11), the rest near-orthogonal axis vectors.
    */
  private def vecs: Seq[(Long, Array[Float])] = {
    val dims = 8
    def axis(i: Int) = Array.tabulate(dims)(j => if (j == i % dims) 1.0f else 0.0f)
    (0L until 10L).map(i => i -> axis(i.toInt)) ++
      Seq(10L -> axis(0).map(_ * 2.0f), 11L -> axis(0))
  }

  test("semanticDedup drops planted duplicates toward the min id and keeps the rest") {
    val e = vecs.toDF("vec_id", "embedding")
    val r = Similarity.semanticDedup(e, "vec_id", "embedding",
      nlist = 4, minCos = 0.99)
    val rows = r.collect().map(x => x.getAs[Long]("vec_id") ->
      ((x.getAs[Boolean]("kept"), Option(x.getAs[java.lang.Long]("dup_of"))))).toMap
    assert(rows.size == 12) // one row per input id
    assert(rows(0L) == ((true, None))) // min id of its duplicate set survives
    assert(rows(10L) == ((false, Some(0L))))
    assert(rows(11L) == ((false, Some(0L))))
    // vectors 8/9 share cells with 0/1 (axis repeats mod 8) but cos < 0.99
    // only for distinct axes; 8 duplicates axis(0) too -> also dropped
    assert(rows(8L)._1 == false && rows(8L)._2 == Some(0L))
    assert(Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L).forall(rows(_)._1))
  }

  test("semanticDedup composes with keepAfterNearDup-style filtering") {
    val e = vecs.toDF("vec_id", "embedding")
    val r = Similarity.semanticDedup(e, "vec_id", "embedding",
      nlist = 4, minCos = 0.99)
    val kept = r.where(col("kept")).count()
    val dropped = r.where(!col("kept")).count()
    // duplicate sets: {0, 8, 10, 11} on axis 0 (8 wraps mod dims) and
    // {1, 9} on axis 1 -> four non-minimal members dropped
    assert(kept + dropped == 12 && dropped == 4)
  }

  test("semanticDedup fails fast with a clear error when a cell exceeds the rail") {
    val e = vecs.toDF("vec_id", "embedding")
    // nlist = 1 funnels all 12 vectors into one cell; rail at 8
    val ex = intercept[Exception] {
      Similarity.semanticDedup(e, "vec_id", "embedding",
        nlist = 1, minCos = 0.99, maxCellRows = 8).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(ex).exists(m => m.contains("maxCellRows") && m.contains("nlist")))
  }

  // ---------- tfidfTopK -------------------------------------------------------

  test("tfidfTopK ranks rare terms above ubiquitous ones and breaks ties by term") {
    // "common" in every doc (idf floor), uniques dominate
    val d = Seq(
      (1L, "common rare1 rare1 zeta"),
      (2L, "common rare2"),
      (3L, "common other")
    ).toDF("doc_id", "text")
    val r = Terms.tfidfTopK(d, "doc_id", "text", k = 2)
    val top1 = r.where(col("doc_id") === 1 && col("rk") === 1).head()
    assert(top1.getAs[String]("term") == "rare1") // tf=2 on a df=1 term
    assert(top1.getAs[Long]("tf") == 2L && top1.getAs[Long]("df") == 1L)
    // doc 1 rank 2: zeta (df=1) beats common (df=3, idf ~ 1)
    assert(r.where(col("doc_id") === 1 && col("rk") === 2)
      .head().getAs[String]("term") == "zeta")
    // k bound respected
    assert(r.groupBy("doc_id").count().collect().forall(_.getLong(1) <= 2))
  }

  test("unigramLogProb matches hand-computed NLL under the corpus distribution") {
    // corpus: a=2, b=2, c=1, T=5
    val d = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val r = Terms.unigramLogProb(d, "doc_id", "text").collect()
      .map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[Double]("nll"), x.getAs[Long]("n_tokens")))).toMap
    // doc1: -(2 ln(2/5) + ln(2/5))/3 = -ln(0.4); doc2: -(ln(0.4)+ln(0.2))/2
    assert(r(1L) == ((math.rint(-math.log(0.4) * 1e6) / 1e6, 3L)))
    assert(r(2L)._1 ==
      math.rint(-(math.log(0.4) + math.log(0.2)) / 2 * 1e6) / 1e6)
    assert(r(2L)._2 == 2L)
  }

  test("unigramLogProb: rare-token docs score strictly higher than common-token docs") {
    val d = Seq((1L, "x x x x x x x x"), (2L, "x x x x x x x rare"))
      .toDF("doc_id", "text")
    val r = Terms.unigramLogProb(d, "doc_id", "text").collect()
      .map(x => x.getAs[Long]("doc_id") -> x.getAs[Double]("nll")).toMap
    assert(r(2L) > r(1L))
  }

  test("tfidfTopK tie-break is term-ascending at equal score") {
    val d = Seq((1L, "bb aa"), (2L, "cc dd")).toDF("doc_id", "text")
    val r = Terms.tfidfTopK(d, "doc_id", "text", k = 2).collect()
      .map(x => (x.getAs[Long]("doc_id"), x.getAs[Int]("rk")) ->
        x.getAs[String]("term")).toMap
    // all terms df=1 tf=1 -> same tfidf; order must be lexicographic
    assert(r((1L, 1)) == "aa" && r((1L, 2)) == "bb")
    assert(r((2L, 1)) == "cc" && r((2L, 2)) == "dd")
  }
}

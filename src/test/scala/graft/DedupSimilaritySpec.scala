package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.corpus.Rng
import graft.operators.{Dedup, Similarity}

class DedupSimilaritySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Deterministic doc corpus with planted exact + near duplicates. */
  private def docs(n: Int, seed: Long): Seq[(Long, String)] = {
    val vocab = (0 until 50).map(i => s"w$i")
    val base = (0 until n).map { i =>
      val len = 8 + Rng.int(Rng.hash(seed, i), 8)
      val toks = (0 until len).map(k => vocab(Rng.int(Rng.hash(seed, i * 100 + k), vocab.size)))
      i.toLong -> toks.mkString(" ")
    }
    // plant: exact dup of doc 0; near-dup of doc 1 (one token changed)
    val near = base(1)._2.split(" ").toVector.updated(0, "zzz").mkString(" ")
    base ++ Seq((n.toLong, base(0)._2), ((n + 1).toLong, near))
  }

  test("exact dedup finds the planted exact duplicate") {
    // the dd_exact query over the planted docs as its documents table
    val dir = java.nio.file.Files.createTempDirectory("graft-dd-exact").toString
    docs(30, 7L).toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val res = SparkEntry.queries("dd_exact")(spark, dir)
    val dup = res.filter(col("n_copies") > 1).collect()
    assert(dup.length == 1 && dup(0).getAs[Long]("keep_id") == 0L)
    assert(res.count() == 31) // 32 docs, one merged
  }

  test("fingerprint dedup is whitespace-normalizing and matches exact dedup") {
    val d = Seq((1L, "a b  c"), (2L, "a b c"), (3L, "a b d")).toDF("doc_id", "text")
    val res = Dedup.byFingerprint(d, "doc_id", "text").collect()
    assert(res.length == 2)
    assert(res.find(_.getAs[Long]("n_copies") == 2).get.getAs[Long]("keep_id") == 1L)
  }

  /** Exact Jaccard on distinct token n-grams, driver-side oracle. */
  private def gramJaccard(a: String, b: String, n: Int): Double = {
    def gr(s: String) = s.trim.split("\\s+").filter(_.nonEmpty)
      .sliding(n).filter(_.length == n).map(_.mkString(" ")).toSet
    val (sa, sb) = (gr(a), gr(b))
    if (sa.isEmpty && sb.isEmpty) 1.0
    else sa.intersect(sb).size.toDouble / sa.union(sb).size
  }

  test("minhash LSH finds high-jaccard pairs and reports exact jaccard") {
    val data = docs(40, 11L)
    val d = data.toDF("doc_id", "text")
    val got = Dedup.minhashLsh(d, "doc_id", "text", shingleN = 3, k = 16,
      rowsPerBand = 4, minJaccard = 0.6).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // the exact dup pair MUST be found with jaccard 1.0 (all bands collide)
    assert(got.contains((0L, 40L)), s"exact dup pair missing; got=${got.keys}")
    assert(math.abs(got((0L, 40L)) - 1.0) < 1e-9)
    // every reported jaccard matches the driver-side oracle
    val byId = data.toMap
    got.foreach { case ((a, b), j) =>
      val want = gramJaccard(byId(a), byId(b), 3)
      assert(math.abs(j - want) < 1e-4, s"pair ($a,$b): got $j want $want")
      assert(j >= 0.6)
    }
  }

  test("simhash blocks guarantee recall for hamming <= 3") {
    val data = docs(40, 13L)
    val d = data.toDF("doc_id", "text")
    // oracle: compute simhash per doc via the same column expr, then all pairs
    val sigs = d.select(col("doc_id"), KernelTwins.simhash(col("text")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = (for {
      a <- sigs.keys; b <- sigs.keys if a < b
      h = java.lang.Long.bitCount(sigs(a) ^ sigs(b)) if h <= 3
    } yield (a, b) -> h.toLong).toMap
    val fast = d.select(col("doc_id"), Dedup.simhashFast(col("text")).as("sim"))
    val got = Dedup.hammingPairs(fast, "doc_id", "sim", maxHamming = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == want, s"got=$got want=$want")
  }

  test("ngram jaccard inverted-index join matches driver-side oracle") {
    val data = docs(30, 17L)
    val d = data.toDF("doc_id", "text")
    def tokGrams(s: String, n: Int) =
      s.trim.split("\\s+").filter(_.nonEmpty).sliding(n).filter(_.length == n)
        .map(_.mkString(" ")).toSet
    val byId = data.toMap
    val got = Dedup.ngramJaccard(d, "doc_id", "text", n = 3, minJaccard = 0.5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    got.foreach { case ((a, b), j) =>
      val (ga, gb) = (tokGrams(byId(a), 3), tokGrams(byId(b), 3))
      val want = ga.intersect(gb).size.toDouble / (ga.size + gb.size - ga.intersect(gb).size)
      assert(math.abs(j - want) < 1e-4, s"($a,$b) got $j want $want")
    }
    // exact dup pair present with jaccard 1
    assert(got.get((0L, 30L)).exists(j => math.abs(j - 1.0) < 1e-9))
  }

  /** Edge-case texts: null, empty, whitespace-only, short (< n tokens),
    * exactly n tokens, duplicate grams, tabs/multi-space, unicode.
    */
  private val edgeTexts: Seq[(Long, String)] = Seq(
    (0L, null), (1L, ""), (2L, "   \t  "), (3L, "one"), (4L, "one two"),
    (5L, "one two three"), (6L, "one two three"), // planted single-gram dup
    (7L, "a b a b a b a b"), (8L, "héllo wörld çafe naïve tokens here"),
    (9L, "w1  w2\tw3\nw4 w5 w6 w7"),
    // separators: U+000B is \s; U+00A0, U+0085, U+2028, U+3000 are token
    // chars; a surrogate pair is one codepoint; leading/trailing runs
    (10L, "la\u000Bla\u000Bel one"), (11L, "no\u00A0break la le one"),
    (12L, "nel\u0085 ls\u2028 ideo\u3000 the"),
    (13L, "\uD835\uDD4F wide \uD835\uDD4F\uD835\uDD4F pair"),
    (14L, "\u000B\t\f lead and trail \r\n\u000B"), (15L, "\u3000\u00A0 \u2028"))

  test("fastTokens matches Text.tokens on edge cases") {
    val d = edgeTexts.toDF("doc_id", "text")
    val viaExpr = d.select(col("doc_id"), graft.functions.Text.tokens(col("text")).as("tk"))
      .collect().map(r => r.getLong(0) -> Option(r.getSeq[String](1)).map(_.toList)).toMap
    edgeTexts.foreach { case (id, t) =>
      val fast = graft.functions.Text.fastTokens(t).toList
      val expr = viaExpr(id).getOrElse(Nil) // null text -> null array == no tokens
      assert(fast == expr, s"doc $id: fast=$fast expr=$expr")
    }
  }

  test("langIdFast equals the KernelTwins.langId twin on corpus and edge docs") {
    // generated docs (marker-bearing captions) + edge cases: null, empty,
    // whitespace-only, tabs/VT separators, uppercase markers, overlapping
    // markers ("la" scores es AND fr), ties (alphabetical winner)
    val extra = Seq(
      (9001L, "THE Der la la une est"), (9002L, "la"), (9003L, "le la"),
      (9004L, "der die und the and of"), (9005L, "xyz qwerty asdf"),
      (9006L, "el\u000Bque\tlos\nuna"), (9007L, "is with for the and of"))
    val d = (docs(40, 77L) ++ edgeTexts ++ extra).toDF("doc_id", "text")
    val both = d.select(col("doc_id"),
        KernelTwins.langId(col("text")).as("viaExpr"),
        graft.functions.Text.langIdFast(col("text")).as("viaFast"))
      .collect()
    both.foreach { r =>
      assert(r.getString(1) == r.getString(2),
        s"doc ${r.getLong(0)}: expr=${r.getString(1)} fast=${r.getString(2)}")
    }
  }

  test("minhashSignatureFast is bit-identical to the HOF reference formulation") {
    val d = (docs(25, 31L) ++ edgeTexts).toDF("doc_id", "text")
    val hof = d.select(col("doc_id"),
      KernelTwins.minhashSignature(KernelTwins.tokenGrams(col("text"), 3), 16).as("sig"))
      .collect().map(r => r.getLong(0) ->
        Option(r.getSeq[Long](1)).map(_.toList).getOrElse(List.fill(16)(Long.MaxValue)))
      .toMap
    val fast = d.select(col("doc_id"),
      Dedup.minhashSignatureFast(3, 16)(col("text")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    hof.keys.foreach(id => assert(fast(id) == hof(id), s"doc $id signature differs"))
  }

  test("simhashFast is bit-identical to the HOF reference formulation") {
    val d = (docs(25, 37L) ++ edgeTexts).toDF("doc_id", "text")
    val hof = d.select(col("doc_id"), KernelTwins.simhash(col("text")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fast = d.select(col("doc_id"), Dedup.simhashFast(col("text")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == hof)
  }

  test("ngramJaccard survives short/empty/null docs and keeps single-gram dups") {
    val d = edgeTexts.toDF("doc_id", "text")
    val got = Dedup.ngramJaccard(d, "doc_id", "text", n = 3, minJaccard = 0.5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // the planted identical 3-token docs (one gram each) must be found
    assert(got.get((5L, 6L)).exists(j => math.abs(j - 1.0) < 1e-9), s"got=$got")
  }

  test("ngramJaccard prefix filtering is EXACT: output = brute-force all-pairs") {
    // ground truth: brute-force exact Jaccard over ALL doc pairs — prefix
    // filtering must lose nothing (SSJoin prefix lemma)
    val data = docs(60, 41L) ++ Seq((200L, "x1 x2 x3"), (201L, "x1 x2 x3"))
    def grams(s: String) = s.trim.split("\\s+").filter(_.nonEmpty)
      .sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    val g = data.map { case (id, t) => id -> grams(t) }.toMap
    val want = (for {
      a <- data.map(_._1); b <- data.map(_._1) if a < b
      if g(a).nonEmpty && g(b).nonEmpty
      j = { val i = g(a).intersect(g(b)).size
            i.toDouble / (g(a).size + g(b).size - i) }
      if j >= 0.5
    } yield (a, b)).toSet
    val got = Dedup.ngramJaccard(data.toDF("doc_id", "text"), "doc_id", "text",
      n = 3, minJaccard = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")
  }

  test("gramHashesFast is set-equal to xxhash64 over the tokenGrams HOF") {
    val d = (docs(25, 43L) ++ edgeTexts).toDF("doc_id", "text")
    val hof = d.select(col("doc_id"),
      transform(KernelTwins.tokenGrams(col("text"), 3), g => xxhash64(g)).as("h"))
      .collect().map(r => r.getLong(0) ->
        Option(r.getSeq[Long](1)).map(_.toSet).getOrElse(Set.empty[Long])).toMap
    val fast = d.select(col("doc_id"), Dedup.gramHashesFast(3)(col("text")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    hof.keys.foreach(id => assert(fast(id) == hof(id), s"doc $id gram hashes differ"))
  }

  /** Deterministic embeddings with planted clusters. */
  private def vecs(n: Int, dims: Int, seed: Long): Seq[(Long, Array[Float])] =
    (0 until n).map { i =>
      val cluster = i % 5
      val arr = Array.tabulate(dims) { k =>
        val base = Rng.double01(Rng.hash(seed, cluster.toLong * 1000 + k)) * 2 - 1
        val noise = (Rng.double01(Rng.hash(seed, i.toLong * 100 + k)) - 0.5) * 0.1
        (base + noise).toFloat
      }
      i.toLong -> arr
    }

  test("LSH ANN achieves high recall vs brute force on clustered vectors") {
    val data = vecs(200, 16, 23L)
    val e = data.toDF("vec_id", "embedding")
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val c = e.select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(Similarity.bruteForceTopK(q, c, "qid", "qvec", "cid", "cvec", 5))
    val lsh = pairs(Similarity.lshTopK(q, c, "qid", "qvec", "cid", "cvec", 5,
      planes = 8, dims = 16))
    val recall = (brute intersect lsh).size.toDouble / brute.size
    assert(recall >= 0.8, s"recall=$recall brute=${brute.size} lsh=${lsh.size}")
  }

  test("connected components converge on chains and pick min-id survivors") {
    // chain 1-2-3-9-8 (forces multi-round propagation), pair 5-6, singleton 7
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (8L, 9L), (9L, 1L))
      .toDF("id_a", "id_b")
    val comp = Dedup.components(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 8L -> 1L, 9L -> 1L,
      5L -> 5L, 6L -> 5L), s"got $comp")
    graft.operators.Caches.releaseAll()
    // survivors: every doc that is not a non-minimal component member
    val docs = Seq(1L, 2L, 3L, 5L, 6L, 7L, 8L, 9L).toDF("doc_id")
    val drop = Dedup.components(pairs, "id_a", "id_b")
      .where(col("id") =!= col("comp")).select(col("id").as("doc_id"))
    val kept = docs.join(drop, Seq("doc_id"), "left_anti")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 5L, 7L), s"got $kept") // reps + the unpaired doc
    graft.operators.Caches.releaseAll()
  }

  test("components: pointer jumping closes a 400-hop chain within the default rail") {
    // a path graph is the worst case for neighbor-min propagation (one hop
    // per round -> 400 rounds); the jumping step contracts it in ~log2(400)
    // rounds, so the default maxIter=20 must suffice — and a silent partial
    // labeling is now impossible (components throws instead)
    val pairs = spark.range(0, 400)
      .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
    val comp = Dedup.components(pairs, "id_a", "id_b")
    assert(comp.count() == 401)
    assert(comp.where(col("comp") =!= 0L).count() == 0)
    graft.operators.Caches.releaseAll()
  }

  test("cosineFast and lshBucketFast are bit-identical to the HOF reference forms") {
    val full = vecs(120, 16, 31L)
    // two malformed rows (ids >= 1000): a null vector, a short (8 of 16) one
    val e = (full ++ Seq(1000L -> (null: Array[Float]), 1001L -> full.head._2.take(8)))
      .toDF("vec_id", "embedding")
    val a = e.select(col("vec_id").as("ida"), col("embedding").as("va"))
    val b = e.select(col("vec_id").as("idb"), col("embedding").as("vb"))
    val joined = a.crossJoin(b).where(col("ida") =!= col("idb"))
      .select(col("ida"), col("idb"),
        KernelTwins.cosine(col("va"), col("vb")).as("c_ref"),
        Similarity.cosineFast(col("va"), col("vb")).as("c_fast"))
    val wellFormed = joined.where(col("ida") < 1000 && col("idb") < 1000).limit(2000)
    assert(wellFormed.filter(!(col("c_ref") <=> col("c_fast"))).count() == 0)
    assert(wellFormed.filter(col("c_fast").isNull).count() == 0)
    // every ordered pair with a malformed side: 122 * 121 - 120 * 119
    val malformed = joined.where(col("ida") >= 1000 || col("idb") >= 1000)
    assert(malformed.count() == 482)
    assert(malformed.filter(col("c_fast").isNotNull).count() == 0)
    val buckets = e.select(col("vec_id"),
      KernelTwins.lshBucket(col("embedding"), 8, 16, 42L).as("b_ref"),
      Similarity.lshBucketFast(8, 16, 42L)(col("embedding")).as("b_fast"))
    val okRows = buckets.where(col("vec_id") < 1000)
    assert(okRows.filter(!(col("b_ref") <=> col("b_fast"))).count() == 0)
    assert(okRows.filter(col("b_fast").isNull).count() == 0)
    assert(buckets.where(col("vec_id") >= 1000 && col("b_fast").isNull).count() == 2)
  }

  test("IVF ANN achieves high recall vs brute force on clustered vectors") {
    val data = vecs(200, 16, 23L)
    val e = data.toDF("vec_id", "embedding")
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val c = e.select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(Similarity.bruteForceTopK(q, c, "qid", "qvec", "cid", "cvec", 5))
    val ivf = pairs(Similarity.ivfTopK(q, c, "qid", "qvec", "cid", "cvec", 5,
      nlist = 10, nprobe = 3))
    val recall = (brute intersect ivf).size.toDouble / brute.size
    assert(recall >= 0.8, s"recall=$recall brute=${brute.size} ivf=${ivf.size}")
    // nprobe = nlist degenerates to exact: recall must be 1.0
    val full = pairs(Similarity.ivfTopK(q, c, "qid", "qvec", "cid", "cvec", 5,
      nlist = 10, nprobe = 10))
    assert(full == brute, "nprobe=nlist IVF must equal brute force")
  }

  test("spherical k-means recovers planted clusters; trained IVF beats id-centroids") {
    val data = vecs(250, 16, 37L)
    val e = data.toDF("vec_id", "embedding")
    val cents = Similarity.kmeansCentroids(e, "vec_id", "embedding", k = 5, iters = 3)
    assert(cents.count() == 5)
    // purity: vectors of one planted cluster (i % 5) land in one k-means cell
    val q = e.select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val c = e.select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val assigned = Similarity.ivfTopK(q, c, "qid", "qvec", "cid", "cvec",
      k = 250, nlist = 5, nprobe = 1, centroids = Some(cents))
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1)))
    // with nprobe=1, query q only sees corpus vectors in its own cell; planted
    // clusters are well separated, so every returned neighbor shares q's cluster
    val impure = assigned.count { case (a, b) => a % 5 != b % 5 }
    assert(impure == 0, s"$impure cross-cluster pairs leaked through the cells")
    // and each query finds its full cluster (250/5 = 50 members)
    val perQuery = assigned.groupBy(_._1).map(_._2.size)
    assert(perQuery.forall(_ == 50), s"cluster sizes: ${perQuery.toSeq.distinct}")
  }

  test("cosine near-dup pairs: same-cluster pairs are found") {
    val data = vecs(50, 16, 29L)
    val e = data.toDF("vec_id", "embedding")
      .withColumn("label", pmod(col("vec_id"), lit(5)).cast("int"))
    val got = Similarity.cosineNearDupPairs(e, "vec_id", "embedding",
      col("label"), 0.99).collect()
    assert(got.nonEmpty, "planted same-cluster near-dups not found")
    got.foreach(r => assert(r.getDouble(2) >= 0.99))
  }
}

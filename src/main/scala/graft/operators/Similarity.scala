package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{UserDefinedFunction, Window}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`) — brute-force cosine as the exactness baseline, plus two
  * scale paths: random-hyperplane LSH bucketing and a centroid-coarse (IVF
  * style) variant. Every dot product accumulates left to right in double
  * precision inside a typed loop ([[cosineFast]], [[lshBucketFast]]), so
  * results are deterministic and engine-comparable; the interpreted
  * `zip_with`+`aggregate` reference forms they are bit-identical to are
  * spec-side (`KernelTwins.cosine`, `KernelTwins.lshBucket`).
  */
object Similarity {

  /** Typed cosine: bit-identical to the spec-side `KernelTwins.cosine`
    * (same multiply/add order, double precision) at ~µs/pair instead of an
    * interpreted expression tree per element — the round-1 MinHash lesson
    * applied to the vector path. Null when either vector is null or the
    * lengths differ: a malformed pair has no cosine (the twin's padded
    * `zip_with` is null there too), never a score over a shared prefix.
    */
  val cosineFast: UserDefinedFunction = udf { (a: Seq[Float], b: Seq[Float]) =>
    if (a == null || b == null || a.length != b.length) null
    else {
      var dotp = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      val n = a.length
      while (i < n) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dotp += x * y; na += x * x; nb += y * y
        i += 1
      }
      java.lang.Double.valueOf(dotp / (math.sqrt(na) * math.sqrt(nb)))
    }
  }

  /** Each query's top `k` of the scored (qid, cid, cos) rows: `rk` by
    * cosine descending, ties to the smaller corpus id. */
  private def topKPerQuery(scored: DataFrame, qid: String, cid: String, k: Int): DataFrame =
    scored.withColumn("rk", row_number().over(
      Window.partitionBy(col(qid)).orderBy(col("cos").desc, col(cid).asc)))
      .where(col("rk") <= k)

  /** Exact top-k cosine neighbors of each query vector (brute force).
    * Query side is broadcast (queries are few); the corpus is never
    * shuffled — each partition scores its rows, then a top-k per query
    * window reduces. Deterministic tie-break by corpus id.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
      qid: String, qvec: String, cid: String, cvec: String, k: Int): DataFrame = {
    val scored = corpus.crossJoin(broadcast(queries))
      .select(col(qid), col(cid),
        round(cosineFast(col(qvec), col(cvec)), 6).as("cos"))
    topKPerQuery(scored, qid, cid, k)
  }

  /** Deterministic weights of hyperplane `p` (shared by both formulations
    * and the oracle dump).
    */
  def planeWeights(p: Int, dims: Int, seed: Long): Array[Double] =
    Array.tabulate(dims)(i => graft.corpus.Rng.double01(
      graft.corpus.Rng.hash(seed, p.toLong * 100003L + i)) * 2.0 - 1.0)

  /** Random-hyperplane LSH bucket id: `planes` sign bits from deterministic
    * pseudo-random hyperplanes (plane p, dim i weight = a pure hash). Rows
    * in the same bucket are near in angle with high probability. Bit-identical
    * to the spec-side `KernelTwins.lshBucket` (per-plane projections
    * accumulate left-to-right in double) on every vector of length `dims`,
    * one JIT'd loop per row instead of `planes` interpreted folds. Null for
    * a null vector or one of another length: such a row has no bucket (the
    * twin would put it in bucket 0, where it would match every other
    * malformed row).
    */
  def lshBucketFast(planes: Int, dims: Int, seed: Long): UserDefinedFunction = {
    val w: Array[Array[Double]] = Array.tabulate(planes)(planeWeights(_, dims, seed))
    udf { (v: Seq[Float]) =>
      if (v == null || v.length != dims) null
      else {
        var bucket = 0L
        var p = 0
        while (p < planes) {
          val wp = w(p)
          var proj = 0.0
          var i = 0
          while (i < dims) { proj += v(i).toDouble * wp(i); i += 1 }
          if (proj > 0) bucket |= (1L << p)
          p += 1
        }
        java.lang.Long.valueOf(bucket)
      }
    }
  }

  /** LSH-bucketed ANN: queries and corpus are bucketed by hyperplane sign
    * pattern; candidates come from an equi-join on the bucket id (plus the
    * query's immediate Hamming-1 neighbor buckets for recall), then exact
    * cosine ranks the candidates. At 10^12 rows this replaces the O(N)
    * scan per query with a hash-partitioned join on bucket keys.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame,
      qid: String, qvec: String, cid: String, cvec: String,
      k: Int, planes: Int = 8, dims: Int, seed: Long = 42L): DataFrame = {
    val cb = corpus.withColumn("__bucket",
      lshBucketFast(planes, dims, seed)(col(cvec)))
    // probe own bucket + all hamming-1 buckets (multi-probe LSH)
    val qb = queries.withColumn("__b0",
      lshBucketFast(planes, dims, seed)(col(qvec)))
      .withColumn("__bucket", explode(array(
        (col("__b0") +: (0 until planes).map(p => col("__b0").bitwiseXOR(lit(1L << p)))): _*)))
    val scored = qb.join(cb, Seq("__bucket"))
      .select(col(qid), col(cid), round(cosineFast(col(qvec), col(cvec)), 6).as("cos"))
      .groupBy(qid, cid).agg(max("cos").as("cos"))
    topKPerQuery(scored, qid, cid, k)
  }

  /** IVF-style (inverted-file) ANN: the corpus is coarsely partitioned into
    * `nlist` cells by nearest centroid; each query probes only its `nprobe`
    * nearest cells, then ranks candidates by exact cosine. At 10^12 rows the
    * cell assignment is a broadcast-centroid map pass and the probe join is
    * an equi-join on cell id — the classic alternative to [[lshTopK]] when
    * recall per probe matters more than hash locality.
    *
    * Centroids here are the `nlist` corpus vectors with the smallest ids
    * (deterministic, engine-portable); production would precompute k-means
    * centroids offline and pass them in via `centroids`. Cosines are rounded
    * to 6 dp BEFORE any argmin/ranking so cell assignment is reproducible
    * across engines (ties break by centroid id).
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame,
      qid: String, qvec: String, cid: String, cvec: String,
      k: Int, nlist: Int = 16, nprobe: Int = 4,
      centroids: Option[DataFrame] = None): DataFrame = {
    // centroid table is tiny by construction (nlist rows); collecting it into
    // the assignment closure makes cell assignment a PURE MAP over the corpus
    // — zero shuffle, the property that matters at 10^12 rows. (A window/
    // groupBy argmin would shuffle the whole corpus once per assignment.)
    val cents = collectCentroids(corpus, cid, cvec, nlist, centroids)
    val corpusCells = corpus.withColumn("__cent_id",
      nearestCellsUdf(cents, 1)(col(cvec))(0))
    val queryCells = queries.withColumn("__cent_id",
      explode(nearestCellsUdf(cents, nprobe)(col(qvec))))
    val scored = queryCells.join(corpusCells, Seq("__cent_id"))
      .select(col(qid), col(cid),
        round(cosineFast(col(qvec), col(cvec)), 6).as("cos"))
      .groupBy(qid, cid).agg(max("cos").as("cos"))
    topKPerQuery(scored, qid, cid, k)
  }

  /** Deterministic spherical k-means (Lloyd) over an embedding column — the
    * offline centroid trainer for [[ivfTopK]]. Seeded init = the k corpus
    * vectors with smallest ids; per iteration: assignment is a broadcast-
    * centroid MAP pass (cosine, ties to smaller cell), recomputation
    * shuffles only (cell, dim, value) triples (posexplode + groupBy avg) —
    * never full vectors — then centroids are L2-normalized and rounded to
    * 6 dp on the driver (the rounding pins assignments against float-sum
    * order noise, so reruns at different partitionings converge to the same
    * cells; exact bitwise determinism holds at a fixed partitioning).
    * Returns (cent_id, cent_v float vector), directly consumable by
    * `ivfTopK(centroids = Some(...))`.
    */
  def kmeansCentroids(corpus: DataFrame, cid: String, cvec: String,
      k: Int, iters: Int = 3): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    var cents: Array[Array[Double]] = corpus.orderBy(col(cid)).limit(k)
      .select(col(cvec)).collect()
      .map(_.getSeq[Float](0).toArray.map(_.toDouble))
    val dims = cents.head.length
    for (_ <- 0 until iters) {
      val cs = cents // stable capture for the closure
      val assign = udf { (v: Seq[Float]) =>
        var best = 0; var bestCos = Double.MinValue
        var c = 0
        while (c < cs.length) {
          val cv = cs(c)
          var dot = 0.0; var nv = 0.0; var nc = 0.0
          var i = 0
          while (i < dims) {
            val x = v(i).toDouble
            dot += x * cv(i); nv += x * x; nc += cv(i) * cv(i)
            i += 1
          }
          val cos = dot / (math.sqrt(nv) * math.sqrt(nc))
          if (cos > bestCos) { bestCos = cos; best = c }
          c += 1
        }
        best
      }
      val sums = corpus
        .select(assign(col(cvec)).as("__cell"), posexplode(col(cvec)).as(Seq("__dim", "__x")))
        .groupBy(col("__cell"), col("__dim"))
        .agg(avg(col("__x")).as("__m"))
        .as[(Int, Int, Double)].collect()
      val next = Array.fill(k)(new Array[Double](dims))
      sums.foreach { case (cell, dim, m) => next(cell)(dim) = m }
      cents = next.zipWithIndex.map { case (v, i) =>
        val n = math.sqrt(v.map(x => x * x).sum)
        if (n == 0.0) cents(i) // empty cell keeps its previous centroid
        else v.map(x => math.rint(x / n * 1e6) / 1e6)
      }
    }
    cents.zipWithIndex
      .map { case (v, i) => (i.toLong, v.map(_.toFloat)) }
      .toSeq.toDF("cent_id", "cent_v")
  }

  /** Coarse centroid table for cell assignment: `centroids` if given (the
    * [[kmeansCentroids]] output in production), else the deterministic
    * smallest-`nlist`-ids convention (engine-portable — a DuckDB oracle can
    * reconstruct it with ORDER BY id LIMIT nlist, no dump needed).
    */
  private[operators] def collectCentroids(corpus: DataFrame, cid: String,
      cvec: String, nlist: Int,
      centroids: Option[DataFrame]): Array[(Long, Array[Double])] =
    centroids.getOrElse(
      corpus.orderBy(col(cid)).limit(nlist)
        .select(col(cid).as("__cent_id"), col(cvec).as("__cent_v")))
      .collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).toArray.map(_.toDouble)))
      .sortBy(_._1)

  /** Nearest-`keep` cell ids for a vector: cosines in left-to-right double
    * accumulation and rounded to 6 dp before comparison (ties -> smaller
    * centroid id), so the assignment is reproducible across engines.
    */
  private[operators] def nearestCellsUdf(cents: Array[(Long, Array[Double])],
      keep: Int): UserDefinedFunction = udf { (v: Seq[Float]) =>
    val vd = v.toArray.map(_.toDouble)
    var nv = 0.0
    var i = 0
    while (i < vd.length) { nv += vd(i) * vd(i); i += 1 }
    val vn = math.sqrt(nv)
    cents.map { case (id, cv) =>
      var dot = 0.0; var cn = 0.0
      var j = 0
      while (j < cv.length) { dot += vd(j) * cv(j); cn += cv(j) * cv(j); j += 1 }
      // HALF_UP like Spark's round() and DuckDB's round() — rint would be
      // half-even and could diverge at an exact midpoint
      val cos = BigDecimal(dot / (vn * math.sqrt(cn)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (-cos, id)
    }.sorted.take(keep).map(_._2)
  }

  /** SemDeDup-style semantic dedup over an embedding column (Abbas et al.
    * 2023, "SemDeDup", arXiv:2303.09540): assign every vector to its
    * nearest coarse centroid, then inside each cell mark as duplicate any
    * vector with a same-cell neighbor at cosine >= `minCos` and a smaller
    * id. Emits ONE row per input id: (id, cell, dup_of, kept) with
    * dup_of = the smallest such neighbor (null when kept) — the same
    * keep-min-id survivor convention as every other dedup operator here
    * (the paper keeps the vector farthest from the centroid; min-id is
    * deterministic and engine-portable, and a downstream
    * [[graft.operators.Dedup.components]] + anti-join composes either way).
    *
    * Scale shape: cell assignment is a pure broadcast map (zero corpus
    * shuffle — the exact [[ivfTopK]] rule: cosine rounded to 6 dp, ties to
    * the smaller centroid id, so one oracle covers both). Candidate
    * generation is a self-equi-join on the cell id; within-cell pairwise
    * comparison is inherent to SemDeDup, so `nlist` MUST scale with the
    * corpus to bound cells (~corpus/nlist rows each — the paper runs 50k
    * clusters on LAION-440M). Centroids default to the deterministic
    * smallest-ids convention; production passes [[kmeansCentroids]] output.
    *
    * `maxCellRows` is the quadratic-blowup rail: a cell over the bound
    * fails the JOB with a clear message instead of silently launching a
    * cell² candidate join (100k rows is already 5·10^9 pairs in one cell).
    * The rail is plan-native — cell sizes are an 8-byte-key aggregation of
    * the cached assignment, folded to one row and checked by a
    * `raise_error` guard broadcast onto the pair path — no driver-side
    * action, and unlike the LSH hot-BUCKET guards it cannot silently skip
    * data: a bucket is one of many redundant probes, a SemDeDup cell is
    * the only place its members are ever compared.
    *
    * The assignment (id, vec, cell) is persisted via [[graft.operators.Caches]]:
    * it feeds four consumers (rail sizes, both self-join sides, the output
    * row set) and without the persist the scan + assignment UDF re-run per
    * consumer — same measured rationale as the minhash banding cache. At
    * warehouse scale this is the materialized assignment table a SemDeDup
    * run writes anyway.
    */
  def semanticDedup(df: DataFrame, id: String, vec: String,
      nlist: Int = 16, minCos: Double = 0.9,
      centroids: Option[DataFrame] = None,
      maxCellRows: Long = 100000): DataFrame = {
    val cents = collectCentroids(df, id, vec, nlist, centroids)
    val raw = Caches.cache(df.select(col(id), col(vec),
      nearestCellsUdf(cents, 1)(col(vec))(0).as("cell")))
    // The rail rides the join's own partitioning (round 6): a count()
    // window over the cell — hash-partitioned exactly as the candidate
    // self-join requires, so the join reuses the exchange and the guard
    // costs ZERO extra stages. (The previous formulation aggregated the
    // hottest cell into a one-row relation and cross-joined it broadcast:
    // two extra sequential query stages + a broadcast build per run.)
    // Evaluating __ok throws BEFORE any over-rail cell's pairs are
    // emitted — same fail-fast contract, still plan-native; the filter on
    // __ok keeps Catalyst from pruning the guard away.
    val wCell = Window.partitionBy(col("cell"))
    val checked = raw
      .withColumn("__cn", count(lit(1)).over(wCell))
      .withColumn("__ok", when(col("__cn") > maxCellRows, raise_error(
        concat(lit("semanticDedup: cell "), col("cell").cast("string"),
          lit(" holds "), col("__cn").cast("string"),
          lit(s" rows > maxCellRows=$maxCellRows — the within-cell join is" +
            " quadratic; raise nlist (it must scale with the corpus) or" +
            " pass finer kmeansCentroids"))))
        .otherwise(lit(1)))
      .where(col("__ok") === 1).drop("__ok", "__cn")
    val left = checked.select(col("cell"), col(id).as("__ida"),
      col(vec).as("__va"))
    // grouping by (cell, id) — id determines its cell, so the groups are
    // identical to groupBy(id) — lets the aggregation's required
    // distribution be satisfied by the join's own cell partitioning
    // (hash(cell) clusters (cell, id)): at fact scale the dup_of min
    // aggregates WITHOUT re-shuffling the pair stream
    val dups = checked.join(left, Seq("cell"))
      .where(col("__ida") < col(id) &&
        round(cosineFast(col("__va"), col(vec)), 6) >= minCos)
      .groupBy(col("cell"), col(id)).agg(min(col("__ida")).as("dup_of"))
      .select(col(id), col("dup_of"))
    raw.drop(vec)
      .join(dups, Seq(id), "left")
      .select(col(id), col("cell"), col("dup_of"),
        col("dup_of").isNull.as("kept"))
  }

  /** All near-dup pairs by embedding cosine >= minCos, blocked by an
    * equi-join key (e.g. a label or LSH bucket) to avoid O(n^2).
    */
  def cosineNearDupPairs(df: DataFrame, id: String, vec: String,
      blockKey: Column, minCos: Double): DataFrame = {
    val t = df.select(col(id).as("__id"), col(vec).as("__v"), blockKey.as("__blk"))
    t.toDF("id_a", "va", "__blk")
      .join(t.toDF("id_b", "vb", "__blk"), Seq("__blk"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(cosineFast(col("va"), col("vb")), 6).as("cos"))
      .where(col("cos") >= minCos)
  }
}

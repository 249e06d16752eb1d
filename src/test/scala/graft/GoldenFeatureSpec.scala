package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.corpus.Corpus
import graft.features.FeaturePipeline

/** Golden feature-vector test (SURVEY §5.2 pattern 1 / north_rule allclose):
  * the distributed flagship pipeline vs a single-threaded, obviously-correct
  * driver-side oracle, field by field, abs tol 1e-9 / rel tol 1e-6.
  */
class GoldenFeatureSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val P = Corpus.Params(rows = 1500, entities = 15)

  private case class Ev(entity: String, ms: Long, seq: Long, phash: Long,
      caption: String, topic: String)

  private def allclose(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 + 1e-6 * math.max(math.abs(a), math.abs(b))

  test("flagship feature vectors match the single-threaded oracle (allclose)") {
    // --- oracle input: regenerate rows driver-side from the same seed -------
    val dimRows = Corpus.dimFeatures(spark, P.seed)
      .select("topic", "token", "rank", "score").collect()
      .map(r => (r.getString(0) + "#" + r.getString(1), (r.getInt(2), r.getDouble(3))))
      .toMap
    val topicOf = (0 until P.entities)
      .map(e => "e%05d".format(e) -> s"topic${e % 5}").toMap

    val evs = (0L until P.rows).map { i =>
      val r = CorpusSpec.imageRow(P, i)
      val ent = r.image_id.substring(0, r.image_id.lastIndexOf('-'))
      Ev(ent, Corpus.eventMsOf(P.seed, i, P.baseMs, P.stepMs), i, r.phash,
        r.caption, topicOf(ent))
    }

    // --- oracle features, per entity in (ms, seq) order ---------------------
    case class Gold(hamming: Option[Int], sessionIdx: Long, sessionPos: Long,
        runMeanQ: Double, dimMatched: Long, dimMinRank: Option[Int],
        dimScoreSum: Double, tokenCount: Int, qualityFilled: Option[Double])
    val stop = Corpus.Stopwords.toSet
    def quality(caption: String): Double = {
      val toks = caption.trim.split("\\s+").filter(_.nonEmpty)
      val n = toks.length.toDouble
      val lenScore = math.min(n / 8.0, 1.0)
      val swr = if (n > 0) toks.count(stop.contains).toDouble / n else 0.0
      val swScore = 1.0 - math.abs(swr - 0.35) / 0.65
      val q = math.max(0.0, math.min(1.0, lenScore * 0.4 + 1.0 * 0.3 + swScore * 0.3))
      math.round(q * 1e6) / 1e6 // mirror round(.,6)
    }
    val gold = scala.collection.mutable.Map[(String, Long), Gold]()
    evs.groupBy(_.entity).foreach { case (_, g) =>
      val sorted = g.sortBy(e => (e.ms, e.seq))
      var prev: Option[Ev] = None
      var sessIdx = -1L
      var sessStart = 0
      var qSum = 0.0
      var lastSparse: Option[Double] = None
      sorted.zipWithIndex.foreach { case (e, idx) =>
        val gap = prev.map(p => e.ms - p.ms)
        if (gap.isEmpty || gap.get > Corpus.SessionGapMs) { sessIdx += 1; sessStart = idx }
        val toks = e.caption.trim.split("\\s+").filter(_.nonEmpty)
        val matched = toks.map(t => e.topic + "#" + t).filter(dimRows.contains)
        val q = quality(e.caption)
        qSum += q
        if (toks.length >= 6) lastSparse = Some(q)
        gold((e.entity, e.seq)) = Gold(
          prev.map(p => java.lang.Long.bitCount(e.phash ^ p.phash)),
          sessIdx, (idx - sessStart).toLong,
          // +1.7e-8 mirrors the pipeline's epsilon-rounding of the two
          // order-sensitive double sums (see FeaturePipeline)
          math.round((qSum / (idx + 1) + 1.7e-8) * 1e6) / 1e6,
          matched.length.toLong,
          if (matched.nonEmpty) Some(matched.map(k => dimRows(k)._1).min) else None,
          math.round((matched.map(k => dimRows(k)._2).sum + 1.7e-8) * 1e6) / 1e6,
          toks.length, lastSparse)
        prev = Some(e)
      }
    }

    // --- engine output -------------------------------------------------------
    val got = FeaturePipeline.features(
      Corpus.events(spark, P), Corpus.dimFeatures(spark, P.seed),
      FeaturePipeline.entityDim(spark, P.entities)).collect()

    assert(got.length == P.rows)
    got.foreach { r =>
      val key = (r.getAs[String]("entity_id"), r.getAs[Number]("seq").longValue)
      val g = gold(key)
      def d(c: String) = r.getAs[Double](c)
      assert(Option(r.getAs[Any]("phash_prev_hamming")).map(_.asInstanceOf[Int]) ==
        g.hamming, s"$key hamming")
      assert(r.getAs[Number]("session_idx").longValue == g.sessionIdx, s"$key session_idx")
      assert(r.getAs[Number]("session_pos").longValue == g.sessionPos, s"$key session_pos")
      assert(allclose(d("running_quality_mean"), g.runMeanQ),
        s"$key run_mean ${d("running_quality_mean")} vs ${g.runMeanQ}")
      assert(r.getAs[Number]("dim_matched").longValue == g.dimMatched, s"$key dim_matched")
      assert(Option(r.getAs[Any]("dim_min_rank")).map(_.asInstanceOf[Int]) ==
        g.dimMinRank, s"$key dim_min_rank")
      assert(allclose(d("dim_score_sum"), g.dimScoreSum), s"$key dim_score_sum")
      assert(r.getAs[Number]("token_count").longValue == g.tokenCount.toLong, s"$key token_count")
      val qf = Option(r.getAs[Any]("quality_filled")).map(_.asInstanceOf[Double])
      assert((qf, g.qualityFilled) match {
        case (None, None) => true
        case (Some(x), Some(y)) => allclose(x, y)
        case _ => false
      }, s"$key quality_filled $qf vs ${g.qualityFilled}")
    }
  }

  test("skew-safe features are equivalent to the plain-window features") {
    val p = Corpus.Params(rows = 3000, entities = 8) // hot entity + many buckets
    val ev = Corpus.events(spark, p)
    val dim = Corpus.dimFeatures(spark, p.seed)
    val ed = FeaturePipeline.entityDim(spark, p.entities)
    def rows(df: org.apache.spark.sql.DataFrame): Map[(String, Long), org.apache.spark.sql.Row] =
      df.collect().map(r => (r.getAs[String]("entity_id"), r.getAs[Long]("seq")) -> r).toMap
    val plain = FeaturePipeline.features(ev, dim, ed)
    val safe = FeaturePipeline.featuresSkewSafe(ev, dim, ed, timeBuckets = 13)
    assert(plain.columns.sameElements(safe.columns),
      s"columns differ: ${plain.columns.mkString(",")} vs ${safe.columns.mkString(",")}")
    val a = rows(plain)
    val b = rows(safe)
    assert(a.keySet == b.keySet)
    val exactCols = plain.columns.filterNot(c =>
      c == "running_quality_mean" || c == "event_time").sorted
    a.keys.foreach { k =>
      exactCols.foreach { c =>
        val (x, y) = (a(k).getAs[Any](c), b(k).getAs[Any](c))
        assert(x == y, s"key=$k col=$c plain=$x skewSafe=$y")
      }
      // float summation order differs across bucket boundaries; values are
      // rounded to 6dp, so a boundary case may flip by one grid step
      val (qx, qy) = (a(k).getAs[Double]("running_quality_mean"),
        b(k).getAs[Double]("running_quality_mean"))
      assert(math.abs(qx - qy) <= 1.5e-6, s"key=$k running_quality_mean $qx vs $qy")
    }
  }

  test("features equal the plain-window twin on every column, exactly") {
    val p = Corpus.Params(rows = 3000, entities = 8)
    val f = FeaturePipeline.features(Corpus.events(spark, p),
      Corpus.dimFeatures(spark, p.seed), FeaturePipeline.entityDim(spark, p.entities))
    val twin = FeatureTwins.plainWindows(f)
    assert(f.schema.fields.sortBy(_.name).sameElements(twin.schema.fields.sortBy(_.name)),
      s"schemas differ: ${f.schema.simpleString} vs ${twin.schema.simpleString}")
    def rows(df: org.apache.spark.sql.DataFrame): Map[(String, Long), org.apache.spark.sql.Row] =
      df.collect().map(r => (r.getAs[String]("entity_id"), r.getAs[Long]("seq")) -> r).toMap
    val (a, b) = (rows(f), rows(twin))
    assert(a.size == p.rows && a.keySet == b.keySet)
    // no tolerance: the running mean is sum/count in both forms, in the
    // same row order, so even running_quality_mean is bit-equal
    for (k <- a.keys; c <- f.columns) {
      val (x, y) = (a(k).getAs[Any](c), b(k).getAs[Any](c))
      assert(x == y, s"key=$k col=$c features=$x twin=$y")
    }
  }

  test("dim-table rail: an over-bound dim fails fast with a clear message") {
    val p = Corpus.Params(rows = 200, entities = 4)
    val ev = Corpus.events(spark, p)
    val ed = FeaturePipeline.entityDim(spark, p.entities)
    // a "dim" of 50 rows against a deliberately tiny bound stands in for
    // fact data mis-routed into the driver-side closure collect
    val bigDim = spark.range(50)
      .select(lit("topic0").as("topic"),
        concat(lit("t"), col("id")).as("token"),
        col("id").cast("int").as("rank"), lit(1.0).as("score"))
    System.setProperty("graft.maxDimRows", "10")
    try {
      val e = intercept[IllegalStateException] {
        FeaturePipeline.features(ev, bigDim, ed).count()
      }
      assert(e.getMessage.contains("maxDimRows=10"), e.getMessage)
      assert(e.getMessage.contains("pre-aggregate"), e.getMessage)
    } finally System.clearProperty("graft.maxDimRows")
    // under the default bound the same call succeeds
    assert(FeaturePipeline.features(ev, bigDim, ed).count() > 0)
  }

  test("incremental features from state equal the full recompute on the new slice") {
    import org.apache.spark.sql.functions._
    val p = Corpus.Params(rows = 2400, entities = 10)
    val ev = Corpus.events(spark, p)
    val dim = Corpus.dimFeatures(spark, p.seed)
    val ed = FeaturePipeline.entityDim(spark, p.entities)
    val split = 1500L // append-only in seq AND per-entity time (events are
                      // time-ordered by seq in the generator's global grid)
    val full = FeaturePipeline.features(ev, dim, ed)
    val state = FeaturePipeline.featureState(full.where(col("seq") < split))
    val inc = FeaturePipeline.featuresIncremental(state,
      ev.where(col("seq") >= split), dim, ed)
    val want = full.where(col("seq") >= split)
    assert(inc.columns.sameElements(want.columns),
      s"columns differ: ${inc.columns.mkString(",")} vs ${want.columns.mkString(",")}")
    def rows(df: org.apache.spark.sql.DataFrame): Map[(String, Long), org.apache.spark.sql.Row] =
      df.collect().map(r => (r.getAs[String]("entity_id"), r.getAs[Long]("seq")) -> r).toMap
    val a = rows(want)
    val b = rows(inc)
    assert(a.keySet == b.keySet)
    val exactCols = want.columns.filterNot(_ == "running_quality_mean").sorted
    a.keys.foreach { k =>
      exactCols.foreach { c =>
        val (x, y) = (a(k).getAs[Any](c), b(k).getAs[Any](c))
        assert(x == y, s"key=$k col=$c full=$x incremental=$y")
      }
      val (qx, qy) = (a(k).getAs[Double]("running_quality_mean"),
        b(k).getAs[Double]("running_quality_mean"))
      assert(math.abs(qx - qy) <= 1.5e-6, s"key=$k running_quality_mean $qx vs $qy")
    }
    // entities absent from the state (all-new) still work: nothing carried
    val incFresh = FeaturePipeline.featuresIncremental(
      state.where(col("entity_id") =!= "e00000"),
      ev.where(col("seq") >= split), dim, ed)
    val freshE0 = incFresh.where(col("entity_id") === "e00000")
      .agg(min(col("session_idx")), min(col("session_pos"))).head
    assert(freshE0.getLong(0) == 0L && freshE0.getInt(1) == 0)
  }

  test("captions are byte-equal end to end (input_hint invariant)") {
    val imgs = Corpus.images(spark, P).collect()
    imgs.foreach { r =>
      val want = Corpus.captionOf(P.seed, CorpusSpec.indexOf(r.image_id))
      assert(r.caption == want)
      assert(r.caption.getBytes("UTF-8").sameElements(want.getBytes("UTF-8")))
    }
  }

  test("featuresSkewSafe on an empty slice returns empty, schema intact") {
    import org.apache.spark.sql.functions.lit
    val p = Corpus.Params(rows = 50, entities = 4)
    val ev = Corpus.events(spark, p)
    val dim = Corpus.dimFeatures(spark, p.seed)
    val ed = FeaturePipeline.entityDim(spark, p.entities)
    val full = FeaturePipeline.featuresSkewSafe(ev, dim, ed)
    // an incremental pipeline can hand the scale path a slice that deduped
    // to zero rows — bounds derivation must not NPE on the null aggregate
    val empty = FeaturePipeline.featuresSkewSafe(ev.filter(lit(false)), dim, ed)
    assert(empty.isEmpty)
    assert(empty.columns.sorted.sameElements(full.columns.sorted))
  }
}

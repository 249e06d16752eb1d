package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.RDDScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.scalatest.funsuite.AnyFunSuite
import graft.corpus.Corpus
import graft.operators.{AsOf, Caches}

/** Physical-plan assertions (SURVEY.md §7.1 step 6): the plans the engine
  * relies on at 100 TB must actually materialize at any scale —
  * filter/column pushdown into the parquet scan, broadcast joins for small
  * dims, and NO extra exchange/sort for the as-of merge when the input
  * layout is pinned.
  */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def executed(df: DataFrame): String = {
    // with AQE the string contains both final and initial plans; keep only
    // the final one so node counts reflect what actually ran
    val s = df.queryExecution.executedPlan.toString
    s.split("== Initial Plan ==")(0)
  }

  /** The materialization scans (`RDDScanExec`, the physical `LogicalRDD`
    * leaf) of `df`'s final plan, inside AQE query stages too. */
  private def materializedScans(df: DataFrame): Seq[RDDScanExec] =
    new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
      case s: RDDScanExec => s
    }

  /** `body`'s jobs and tasks, counted by a listener. Events reach a
    * listener in order: a marker job run after `body` bounds the count.
    */
  private def sparkWork(body: => Unit): (Int, Int) = {
    val sc = spark.sparkContext
    val marker = "sparkWork marker"
    val events = new LinkedBlockingQueue[SparkListenerEvent]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = events.put(j)
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = events.put(t)
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val seen = Iterator.continually(events.poll(60, TimeUnit.SECONDS))
        .takeWhile {
          case null => fail("the marker job never reached the listener")
          case j: SparkListenerJobStart =>
            Option(j.properties).flatMap(p =>
              Option(p.getProperty("spark.job.description"))) != Some(marker)
          case _ => true
        }.toSeq
      (seen.count(_.isInstanceOf[SparkListenerJobStart]),
        seen.count(_.isInstanceOf[SparkListenerTaskEnd]))
    } finally sc.removeSparkListener(listener)
  }

  /** `body` with `spark.sql.shuffle.partitions` at `n`, restored after. */
  private def withShufflePartitions[T](n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val old = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, old)
  }

  /** (jobs, tasks) of one collected headline query on sf0.001 at 64
    * shuffle partitions, its materializations released after. */
  private def queryWork(name: String): (Int, Int) =
    withShufflePartitions(64) {
      try sparkWork(SparkEntry.queries(name)(spark, "/root/testdata/sf0.001").collect())
      finally Caches.releaseAll()
    }

  private def countOcc(plan: String, needle: String): Int =
    plan.sliding(needle.length).count(_ == needle)

  test("filter and projection push down to the parquet scan") {
    val df = SparkEntry.queries("s1_scan_prune")(spark, "/root/testdata/sf0.001")
    val scan = df.queryExecution.executedPlan.collectLeaves().mkString("\n")
    assert(scan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)]")
      || scan.contains("GreaterThan(l_quantity"), s"no pushed filter in:\n$scan")
    assert(scan.contains("ReadSchema") &&
      !scan.contains("l_extendedprice"), "column pruning failed — scan reads extra columns")
  }

  test("small dimension joins use broadcast hash join") {
    val df = SparkEntry.queries("j7_broadcast_dim")(spark, "/root/testdata/sf0.001")
    assert(executed(df).contains("BroadcastHashJoin"), executed(df))
  }

  test("w1 top-k is one window over one shuffle; q1 is one partial+final agg") {
    // the two queries that regressed in the round-2 bench (VM stall noise,
    // not plan changes) — pin the expected shapes so a future regression
    // with a DIFFERENT plan fails here instead of needing a bench diff
    val w1 = SparkEntry.queries("w1_topk_per_group")(spark, "/root/testdata/sf0.001")
    w1.collect()
    val w1Plan = executed(w1)
    assert(countOcc(w1Plan, "Window [") == 1, s"expected one window:\n$w1Plan")
    // the rank<=k filter must push below the shuffle as a partial
    // WindowGroupLimit (map-side top-k: each of its two phases sorts its
    // partition, which is why 2 sorts is the RIGHT shape here)
    assert(w1Plan.contains("WindowGroupLimit"),
      s"top-k not pushed below the shuffle:\n$w1Plan")
    assert(countOcc(w1Plan, "Sort ") <= 2, s"extra sort:\n$w1Plan")

    val q1 = SparkEntry.queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")
    q1.collect()
    val q1Plan = executed(q1)
    assert(countOcc(q1Plan, "HashAggregate") == 2, // partial + final
      s"expected partial+final hash agg:\n$q1Plan")
    assert(!q1Plan.contains("Window"), s"unexpected window:\n$q1Plan")
  }

  test("as-of on pinned layout adds no extra exchange beyond the one shuffle") {
    val p = Corpus.Params(rows = 2000, entities = 10)
    val ev = Corpus.events(spark, p).select("entity_id", "event_ms", "seq", "phash")
    val pr = Corpus.probes(spark, p)
    val joined = AsOf.join(pr, ev, "entity_id", "probe_ms", "event_ms", tie = Some("seq"))
    joined.collect() // materialize so AQE finalizes the plan
    val plan = executed(joined)
    // union-tag as-of = union of two sides -> ONE shuffle (hash by entity)
    // for the window, plus the sides' own generation. No join-related
    // exchange, no second sort after the window's.
    val exchanges = countOcc(plan, "Exchange ") + countOcc(plan, "ShuffleExchange")
    val sorts = countOcc(plan, "Sort ")
    assert(plan.contains("Window") || plan.contains("RunningWindowFunction"),
      s"expected window exec:\n$plan")
    assert(sorts <= 1, s"as-of re-sorts (sorts=$sorts):\n$plan")
    assert(exchanges == 1, s"expected the one shuffle (exchanges=$exchanges):\n$plan")
  }

  test("flagship pipeline: all temporal features share one shuffle+sort") {
    val p = Corpus.Params(rows = 2000, entities = 10)
    val f = graft.features.FeaturePipeline.features(
      Corpus.events(spark, p), Corpus.dimFeatures(spark, p.seed),
      graft.features.FeaturePipeline.entityDim(spark, p.entities))
    f.select("entity_id").count()
    val plan = executed(f)
    val sorts = countOcc(plan, "Sort ")
    assert(sorts <= 1, s"feature windows do not share a single sort (sorts=$sorts):\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"entity dim join is not broadcast:\n$plan")
  }

  test("flagship: skew-safe features then as-of run a pinned set of shuffles") {
    val f = graft.features.FeaturePipeline.flagship(spark,
      Corpus.Params(rows = 2000, entities = 10))
    f.collect()
    val plan = f.queryExecution.executedPlan
    val shuffles = new AdaptiveSparkPlanHelper {}.collect(plan) { case e: ShuffleExchangeExec => e }
    // phase 1's (entity, bucket) window, once per consumer; the summary's
    // prefix scan by entity; the carries into the merge (the fact side keeps
    // phase 1's partitioning); the as-of window by entity
    assert(shuffles.size == 5, s"${shuffles.size} shuffles:\n${executed(f)}")
  }

  test("IVF: corpus never window-sorted before the cell join; one final rank only") {
    import spark.implicits._
    val e = (0 until 300).map(i => (i.toLong,
      Array.tabulate(16)(k => ((i % 5) * 100 + k).toFloat))).toDF("vec_id", "embedding")
    val q = e.where(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val ivf = graft.operators.Similarity.ivfTopK(q,
      e.select(col("vec_id").as("cid"), col("embedding").as("cvec")),
      "qid", "qvec", "cid", "cvec", k = 3, nlist = 8, nprobe = 2)
    ivf.collect()
    val plan = executed(ivf)
    // cell assignment is a pure projection: the ONLY WindowExec (rank of
    // candidates per query) sits after the candidate join — WindowGroupLimit
    // nodes are the partial top-k pushdown of that same rank, not extra
    // windows over the corpus
    assert(countOcc(plan, "Window [") == 1,
      s"expected exactly one window (final rank), plan:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("incremental features: state joins broadcast, slice windows share one sort") {
    val p = Corpus.Params(rows = 1200, entities = 8)
    val ev = Corpus.events(spark, p)
    val dim = Corpus.dimFeatures(spark, p.seed)
    val ed = graft.features.FeaturePipeline.entityDim(spark, p.entities)
    val state = graft.features.FeaturePipeline.featureState(
      graft.features.FeaturePipeline.features(ev.where(col("seq") < 600), dim, ed))
    val inc = graft.features.FeaturePipeline.featuresIncremental(state,
      ev.where(col("seq") >= 600), dim, ed)
    inc.select("entity_id").count()
    val plan = executed(inc)
    assert(plan.contains("BroadcastHashJoin"),
      s"state join is not broadcast:\n$plan")
  }

  test("repetition signals shuffle nothing: per-document HOFs, zero exchanges") {
    // the claim behind Text.dupWordFrac/topBigramFrac: document-local
    // quality stats must never shuffle (an explode+groupBy formulation
    // would move every bigram of every document)
    val df = SparkEntry.queries("txt_repetition")(spark, "/root/testdata/sf0.001")
    val plan = executed(df)
    assert(countOcc(plan, "Exchange") == 0,
      s"txt_repetition plan shuffles:\n$plan")
  }

  test("near-dup joins: no cartesian product, hot-bucket guard is broadcast") {
    import spark.implicits._
    // 10 planted near-dup pairs (docs 20g and 20g+10: 4 of 5 trigrams
    // shared, Jaccard 0.8) among 180 docs that pair with nothing
    val docs = (0 until 200).map { i =>
      val g = i / 20
      val twin = s"twin$g alpha$g beta$g gamma$g delta$g epsilon$g"
      (i.toLong, if (i % 10 != 0) s"w${i % 7} w${i % 5} w${i % 3} w$i end"
        else if (i % 20 == 0) twin else s"$twin zeta$g")
    }.toDF("doc_id", "text")
    val ng = graft.operators.Dedup.ngramJaccard(docs, "doc_id", "text", 3, 0.5)
    val pairs = ng.collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs == (0 until 10).map(g => (20L * g, 20L * g + 10)).toSet,
      s"the planted near-dup pairs are not found exactly: $pairs")
    val ngPlan = executed(ng)
    assert(!ngPlan.contains("CartesianProduct"),
      s"ngramJaccard degenerated to a cartesian product:\n$ngPlan")
    // r4 shape: the prefix index is MATERIALIZED once (Caches.cache) and
    // probed by both sides of the candidate self-join, so the df join and
    // both window passes run exactly once, inside the index build; the
    // verify joins read the materialized gram sets. Every leaf of the final
    // adaptive plan reads a materialization (a verify join may reuse the
    // other's broadcast of it): nothing is recomputed from the docs.
    val final_ = ng.queryExecution.executedPlan
    val reads = new AdaptiveSparkPlanHelper {}.collectLeaves(final_).flatMap {
      case s: RDDScanExec => Seq(s)
      case r: ReusedExchangeExec => r.child.collect { case s: RDDScanExec => s }
      case leaf => fail(s"the near-dup join recomputes below a materialization at $leaf:\n$final_")
    }
    val rdds = reads.map(_.rdd.id)
    assert(rdds.size == 4 && rdds.distinct.size == 2 &&
        rdds.groupBy(identity).values.forall(_.size == 2),
      s"both self-join sides and both verify joins should each read one materialization: $rdds")
    Caches.releaseAll()

    // signatures with BOTH a hot bucket (300 identical sigs > maxBucket —
    // the guard must fire, or the fixture collapses to EmptyRelation and
    // asserts nothing) and planted 1-bit-flip near-dup pairs
    val sigs = ((0 until 300).map(i => (i.toLong, 42L)) ++
      (300 until 400).flatMap { i =>
        val base = i.toLong * 0x9E3779B97F4A7C15L
        Seq((i.toLong * 2, base), (i.toLong * 2 + 1, base ^ (1L << (i % 64))))
      }).toDF("doc_id", "sig")
    val hp = graft.operators.Dedup.hammingPairs(sigs, "doc_id", "sig")
    assert(hp.count() >= 100, "planted near-dup pairs not found")
    val hpPlan = executed(hp)
    assert(!hpPlan.contains("CartesianProduct"), hpPlan)
    // the hot-bucket strip must be a broadcast anti-join, never a shuffle of
    // the exploded chunk rows against the tiny hot list
    assert(hpPlan.contains("BroadcastHashJoin") && hpPlan.contains("LeftAnti"),
      s"hot-bucket guard is not a broadcast anti-join:\n$hpPlan")
  }

  test("curation funnel consumers probe a NARROW cached staging frame") {
    val df = SparkEntry.queries("curation_funnel")(spark, "/root/testdata/sf0.001")
    df.collect()
    // the three consumer branches (stage labeling, dedup canon, token
    // budget) must probe the materialized staging frame instead of
    // re-evaluating the C4+Gopher subtree once each (measured ~1.5x the
    // whole query before the staging frame was materialized): at least
    // three scans of the final plan read the one staging RDD
    val plan = df.queryExecution.executedPlan
    val scans = materializedScans(df)
    val staging = scans.filter(_.output.exists(_.name == "__gop"))
    assert(staging.size >= 3,
      s"funnel consumers should probe the materialized staging frame:\n$plan")
    assert(staging.map(_.rdd.id).distinct.size == 1,
      s"funnel consumers read different staging materializations:\n$plan")
    // and every materialization scan must read the narrow (id, lang, flags,
    // hash, tokens) projection — the document text is consumed inside the
    // one staging pass and never enters the scans or anything above them
    val text = Set("text", "cleaned_text", "__ct")
    assert(scans.forall(_.output.forall(a => !text.contains(a.name))),
      s"text column leaked into a staging scan:\n${scans.mkString("\n")}")
    Caches.releaseAll()
  }

  test("curation funnel staging pass is a ZERO-JOIN, zero-Exchange projection") {
    // round-6 (verdict item 3): the staging frame used to be built via two
    // corpus-sized self-joins of pure projections — at fact scale, three
    // scans and two full exchanges carrying cleaned_text. The C4 fields,
    // Gopher kernel, dedup hash and token count are per-row functions, so
    // the plan BELOW the staging materialization must be scan ->
    // projections only.
    val df = SparkEntry.queries("curation_funnel")(spark, "/root/testdata/sf0.001")
    df.collect()
    val staging = Caches.plans.find(_.output.exists(_.name == "__gop"))
      .getOrElse(fail("no staging materialization found")).toString
    Seq("Exchange", "Join", "HashAggregate", "Window").foreach { op =>
      assert(!staging.contains(op),
        s"staging pass should be a pure projection but contains $op:\n$staging")
    }
    Caches.releaseAll()
  }

  test("operator materializations are AQE-coalesced: a10 and dd_ngram run < 64 tasks") {
    // a cache whose plan ends in a shuffle used to keep every shuffle
    // partition (an InMemoryRelation is never coalesced): 3 stages of 64
    // tasks each built and read the spearman grid and the n-gram prefix
    // index. A materialization of the executed plan reads the coalesced
    // final stage, so the whole query runs fewer tasks than one stage had.
    Seq("a10_spearman", "dd_ngram_jaccard").foreach { q =>
      val (_, tasks) = queryWork(q)
      assert(tasks > 0, s"$q: the listener saw no task")
      assert(tasks < 64, s"$q ran $tasks tasks at 64 shuffle partitions")
    }
  }

  test("dd_minhash_lsh runs at most 9 Spark jobs") {
    // 36 while its banded-rows cache was an InMemoryRelation
    val (jobs, _) = queryWork("dd_minhash_lsh")
    assert(jobs > 0, "the listener saw no job")
    assert(jobs <= 9, s"dd_minhash_lsh ran $jobs jobs")
  }

  test("releaseAll unpersists every materialization a query made") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    SparkEntry.queries("dd_ngram_jaccard")(spark, "/root/testdata/sf0.001").collect()
    val made = sc.getPersistentRDDs.keySet -- before
    assert(made.nonEmpty, "the query materialized nothing")
    Caches.releaseAll()
    val left = sc.getPersistentRDDs.keySet.intersect(made)
    assert(left.isEmpty, s"still persisted after releaseAll: $left")
  }
}

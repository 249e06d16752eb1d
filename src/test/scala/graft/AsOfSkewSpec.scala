package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.corpus.{Corpus, Rng}
import graft.features.FeaturePipeline
import graft.operators.AsOf

/** The skew-safe as-of join must be semantically identical to the plain
  * union-tag as-of join on every input — incl. duplicate timestamps, probes
  * before any event, empty entities, and Zipf-hot entities (its raison
  * d'être: the hot entity's timeline spreads over (entity, time-bucket)
  * partitions instead of one window task).
  */
class AsOfSkewSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Every row as JSON (all columns, full precision), sorted: a multiset. */
  private def canon(df: DataFrame): Seq[String] =
    df.select(to_json(struct(df.columns.sorted.map(col): _*)))
      .collect().map(_.getString(0)).toSeq.sorted

  test("skew-safe as-of equals plain as-of on the hot-entity corpus") {
    val p = Corpus.Params(rows = 3000, entities = 8) // e00000 very hot
    val ev = Corpus.events(spark, p).select("entity_id", "event_ms", "seq", "phash")
    val pr = Corpus.probes(spark, p, perEntity = 16)
    val plain = AsOf.join(pr, ev, "entity_id", "probe_ms", "event_ms",
      tie = Some("seq"))
    val safe = AsOf.joinSkewSafe(pr, ev, "entity_id", "probe_ms", "event_ms",
      tie = Some("seq"), timeBuckets = 16)
    // align schemas: plain asof_time is long already for long probe_ms
    assert(canon(plain.select(col("entity_id"), col("probe_ms"),
        col("asof_time").cast("long").as("t"), col("asof_phash"))) ==
      canon(safe.select(col("entity_id"), col("probe_ms"),
        col("asof_time").cast("long").as("t"), col("asof_phash"))))
  }

  test("skew-safe as-of: randomized equivalence incl. edge cases") {
    val random = (0 until 10).map { trial =>
      val seed = 500L + trial
      val events = (0 until 120).map { i =>
        ("e" + Rng.int(Rng.hash(seed, i), 3), // few entities -> dup timestamps
          (100L + Rng.int(Rng.hash(seed, 1000 + i), 50)),
          i.toLong, Rng.double01(Rng.hash(seed, 2000 + i)))
      }
      val probes = (0 until 40).map { j =>
        ("e" + Rng.int(Rng.hash(seed, 3000 + j), 4), // incl. entity w/o events
          (90L + Rng.int(Rng.hash(seed, 4000 + j), 80)))
      }
      (s"trial $trial", events, probes, false)
    }
    // both sides empty, no timeBounds: the bounds scan aggregates to nulls
    val empty = ("empty", Seq.empty[(String, Long, Long, Double)],
      Seq.empty[(String, Long)], false)
    // timestamp times, many events and probes inside each of 3 seconds at
    // sub-second offsets, seq unordered in time: the window and the carry
    // must order at the timestamp's full precision, not by whole seconds
    val subSecond = ("timestamp sub-second",
      (0 until 60).map { i =>
        ("e" + Rng.int(Rng.hash(900L, i), 2),
          1704067200000L + Rng.int(Rng.hash(900L, 1000 + i), 3000),
          Rng.int(Rng.hash(900L, 2000 + i), 1000000).toLong,
          Rng.double01(Rng.hash(900L, 3000 + i)))
      },
      (0 until 40).map { j =>
        ("e" + Rng.int(Rng.hash(900L, 4000 + j), 3),
          1704067200000L + Rng.int(Rng.hash(900L, 5000 + j), 3000))
      }, true)
    for ((name, events, probes, ts) <- random :+ empty :+ subSecond) {
      def time(df: DataFrame, c: String) =
        if (ts) df.withColumn(c, timestamp_millis(col(c))) else df
      val evDf = time(events.toDF("entity_id", "event_ms", "seq", "v"), "event_ms")
      val prDf = time(probes.toDF("entity_id", "probe_ms"), "probe_ms")
      val plain = AsOf.join(prDf, evDf, "entity_id", "probe_ms", "event_ms",
        tie = Some("seq"))
      val safe = AsOf.joinSkewSafe(prDf, evDf, "entity_id", "probe_ms", "event_ms",
        tie = Some("seq"), timeBuckets = 7)
      assert(safe.schema == plain.schema, s"$name schema")
      assert(canon(safe) == canon(plain), s"$name mismatch")
    }
  }

  test("a null time matches nothing: null-time events attach to no probe, in both forms") {
    val ev = Seq(("a", Option(100L), 0L), ("a", Option.empty[Long], 1L),
      ("a", Option(300L), 2L), ("b", Option.empty[Long], 3L))
      .toDF("entity_id", "event_ms", "seq")
    val pr = Seq(("a", Option(50L)), ("a", Option(200L)), ("a", Option.empty[Long]),
      ("b", Option(10L)), ("b", Option.empty[Long])).toDF("entity_id", "probe_ms")
    // DuckDB's ASOF LEFT JOIN: only a@200 finds an event (a@100, seq 0)
    val want = Set(("a", Option(50L), None), ("a", Option(200L), Some(0L)),
      ("a", None, None), ("b", Option(10L), None), ("b", None, None))
    def got(df: DataFrame) = df.select("entity_id", "probe_ms", "asof_seq").collect()
      .map(r => (r.getString(0), Option(r.getAs[Any](1)).map(_.asInstanceOf[Long]),
        Option(r.getAs[Any](2)).map(_.asInstanceOf[Long]))).toSet
    assert(got(AsOf.join(pr, ev, "entity_id", "probe_ms", "event_ms",
      tie = Some("seq"))) == want, "join")
    assert(got(AsOf.joinSkewSafe(pr, ev, "entity_id", "probe_ms", "event_ms",
      tie = Some("seq"), timeBuckets = 4)) == want, "joinSkewSafe")
  }

  test("skew-safe window partitions by (entity, bucket), not entity alone") {
    val p = Corpus.Params(rows = 2000, entities = 4)
    val ev = Corpus.events(spark, p).select("entity_id", "event_ms", "seq", "phash")
    val pr = Corpus.probes(spark, p)
    val safe = AsOf.joinSkewSafe(pr, ev, "entity_id", "probe_ms", "event_ms",
      tie = Some("seq"), timeBuckets = 16)
    safe.collect()
    val plan = safe.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(plan.contains("windowspecdefinition(entity_id"), plan)
    assert(plan.contains("__bkt"), "expected (entity, bucket) window partitioning")
  }

  test("skew-safe as-of and features reject a non-positive bucket count") {
    val p = Corpus.Params(rows = 50, entities = 4)
    val ev = Corpus.events(spark, p)
    val pr = Corpus.probes(spark, p)
    val dim = Corpus.dimFeatures(spark, p.seed)
    val ed = FeaturePipeline.entityDim(spark, p.entities)
    for (b <- Seq(0, -1)) {
      val a = intercept[IllegalArgumentException] {
        AsOf.joinSkewSafe(pr, ev.select("entity_id", "event_ms", "seq"), "entity_id",
          "probe_ms", "event_ms", tie = Some("seq"), timeBuckets = b)
      }
      assert(a.getMessage.contains(s"timeBuckets=$b"), a.getMessage)
      val f = intercept[IllegalArgumentException] {
        FeaturePipeline.featuresSkewSafe(ev, dim, ed, timeBuckets = b)
      }
      assert(f.getMessage.contains(s"timeBuckets=$b"), f.getMessage)
    }
  }
}

package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.corpus.{Corpus, Rng}
import graft.features.FeaturePipeline
import graft.operators.AsOf

/** Zero-temporal-leakage property suites (BASELINE.json north_rule: "no
  * feature at time t reads events > t").
  *
  * Two complementary properties, both over seeded randomized inputs:
  *
  *  1. PREFIX-CLOSURE: for any cutoff T, running the pipeline on only the
  *     events with event_time <= T yields exactly the same feature rows (for
  *     those events) as running it on ALL events and then filtering to <= T.
  *     If any feature read the future, the two would differ.
  *
  *  2. FUTURE-MUTATION INVARIANCE: perturbing (or deleting) any event
  *     strictly after a probe time never changes the as-of result at that
  *     probe.
  */
class LeakageSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def featureRows(ev: DataFrame): Map[(String, Long, Long), String] = {
    val dim = Corpus.dimFeatures(spark, 42L)
    val ed = FeaturePipeline.entityDim(spark, 20)
    val f = FeaturePipeline.features(ev, dim, ed)
    f.select(col("entity_id"), col("event_ms"), col("seq"),
        to_json(struct(f.columns.sorted.map(col): _*)).as("j"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)) -> r.getString(3))
      .toMap
  }

  test("prefix-closure: features at t never change when the future is removed") {
    val p = Corpus.Params(rows = 1200, entities = 12)
    val ev = Corpus.events(spark, p).cache()
    val full = featureRows(ev)
    // three cutoffs spanning early/mid/late
    val times = ev.select("event_ms").orderBy("event_ms")
      .collect().map(_.getLong(0))
    for (q <- Seq(0.25, 0.5, 0.9)) {
      val cutoff = times(((times.length - 1) * q).toInt)
      val prefix = featureRows(ev.filter(col("event_ms") <= cutoff))
      prefix.foreach { case (k, v) =>
        assert(full.contains(k), s"row $k missing from full run")
        assert(full(k) == v,
          s"LEAKAGE at cutoff=$cutoff key=$k:\n prefix=$v\n full=${full(k)}")
      }
    }
    ev.unpersist()
  }

  test("future mutation invariance: as-of probes ignore later events") {
    import spark.implicits._
    // seeded random streams; 20 trials
    for (trial <- 0 until 20) {
      val seed = 1000L + trial
      val n = 30 + Rng.int(Rng.hash(seed, 1), 40)
      val events = (0 until n).map { i =>
        val e = "e" + Rng.int(Rng.hash(seed, 10 + i), 4)
        val t = 100L + Rng.int(Rng.hash(seed, 100 + i), 500)
        (e, t, i.toLong, Rng.double01(Rng.hash(seed, 200 + i)))
      }
      val probes = (0 until 10).map { j =>
        val e = "e" + Rng.int(Rng.hash(seed, 300 + j), 4)
        val t = 100L + Rng.int(Rng.hash(seed, 400 + j), 600)
        (e, t)
      }
      val evDf = events.toDF("entity_id", "event_ms", "seq", "v")
      val prDf = probes.toDF("entity_id", "probe_ms")
      // mutate every event strictly after the max probe time of its entity:
      // results for ALL probes must be identical
      val probeMax = probes.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
      val mutated = events.map { case (e, t, s, v) =>
        if (t > probeMax.getOrElse(e, Long.MinValue)) (e, t, s, v + 999.0)
        else (e, t, s, v)
      }
      val dropped = events.filter { case (e, t, _, _) =>
        t <= probeMax.getOrElse(e, Long.MaxValue)
      }
      // both forms; the skew-safe one's bucket bounds move with the events
      for ((form, asOf) <- Seq[(String, DataFrame => DataFrame)](
          "join" -> (AsOf.join(prDf, _, "entity_id", "probe_ms", "event_ms",
            tie = Some("seq"))),
          "joinSkewSafe" -> (AsOf.joinSkewSafe(prDf, _, "entity_id", "probe_ms",
            "event_ms", tie = Some("seq"), timeBuckets = 4)))) {
        def run(df: DataFrame): Map[(String, Long), String] =
          asOf(df).select(col("entity_id"), col("probe_ms"),
              to_json(struct(col("asof_time"), col("asof_v"))).as("j"))
            .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getString(2)).toMap
        val base = run(evDf)
        assert(run(mutated.toDF("entity_id", "event_ms", "seq", "v")) == base,
          s"$form trial $trial: mutation of strictly-future events changed probe results")
        assert(run(dropped.toDF("entity_id", "event_ms", "seq", "v")) == base,
          s"$form trial $trial: deletion of strictly-future events changed probe results")
      }
    }
  }
}

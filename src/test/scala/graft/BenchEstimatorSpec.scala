package graft

import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

import graft.Bench.{Pair, Report, Visit}

/** The bench's estimators and its one N→4N pair routine. The co-estimator
  * (median of a level's 3 smallest draws) must stay honest when a
  * deadline-starved section produced fewer than 3 draws: the earlier
  * fallback returned the LARGEST available draw, which on a stall-prone box
  * made a 2-draw med3 stall-poisoned by construction (the final round-4
  * builder run recorded multi-JVM med3 efficiency 0.246 from exactly that:
  * one deadline-cut visit whose worse draw was a ~280 s stall window next
  * to a clean ~47 s one). The pair routine is driven by scripted draws and
  * a fake clock that each visit advances by 10 ticks.
  */
class BenchEstimatorSpec extends AnyFunSuite {

  test("med3 is the median of the 3 smallest draws") {
    assert(Bench.med3(Seq(5.0, 1.0, 3.0)) == 3.0)
    assert(Bench.med3(Seq(9.0, 2.0, 8.0, 1.0, 3.0)) == 2.0)
    // duplicates: median of {1,1,2}
    assert(Bench.med3(Seq(1.0, 2.0, 1.0, 7.0)) == 1.0)
  }

  test("2 draws -> midpoint, 1 draw -> the draw (never the max)") {
    assert(Bench.med3(Seq(46.77, 287.96)) == (46.77 + 287.96) / 2)
    assert(Bench.med3(Seq(42.0)) == 42.0)
  }

  /** Visit i returns script(i) (big draws, small draws), or the last entry
    * once the script runs out; records the clock at each visit's start.
    */
  private class Script(script: (Seq[Double], Seq[Double])*) {
    var now = 0L
    val starts = scala.collection.mutable.ArrayBuffer.empty[Long]
    val clock: () => Long = () => now
    def visit(tag: String): Either[String, (Visit, Visit)] = {
      val (b, s) = script(math.min(starts.size, script.size - 1))
      starts += now
      now += 10
      Right((Visit(b, 1000, 7), Visit(s, 1000, 7)))
    }
  }

  private def run(s: Script, planned: Int, maxExtra: Int = 2, deadline: Long = 1000,
      guardFirst: Boolean = false, recover: Pair => Boolean = Bench.threadStalled) =
    Bench.pairRun("spec", planned, maxExtra, deadline, guardFirst, recover,
      clock = s.clock)(s.visit)

  test("pair: min per level, med3 and efficiency over all visits' draws") {
    val s = new Script((Seq(10.0, 13.0), Seq(41.0, 40.0)), (Seq(11.0, 30.0), Seq(44.0, 42.0)))
    val p = run(s, planned = 2).toOption.get
    assert(p.minBig == 10.0 && p.minSmall == 40.0)
    assert(Bench.med3(p.drawsBig) == 11.0 && Bench.med3(p.drawsSmall) == 41.0)
    assert(p.efficiency == 1.0)
    assert(p.efficiencyMed3 == (41.0 / 11.0) / 4.0)
    assert(p.extraVisits == 0 && s.starts.size == 2)
  }

  test("pair: a stall-shaped pair earns recovery visits up to the cap and no further") {
    // every visit reads efficiency (40/20)/4 = 0.5: stalled throughout
    val stalled = new Script((Seq(20.0), Seq(40.0)))
    val p = run(stalled, planned = 2).toOption.get
    assert(stalled.starts.size == 4 && p.extraVisits == 2 && p.big.size == 4)
    // a recovery visit that de-noises the level ends recovery
    val healed = new Script((Seq(20.0, 20.0, 20.0), Seq(40.0, 40.0, 40.0)),
      (Seq(10.0, 10.0, 10.0), Seq(40.0, 40.0, 40.0)))
    val q = run(healed, planned = 1).toOption.get
    assert(q.extraVisits == 1 && q.efficiency == 1.0 && q.efficiencyMed3 == 1.0)
    // the multi-JVM trigger: a level min above 1.25x its thread twin
    val twin = Pair(Vector(Visit(Seq(10.0), 1000, 7)), Vector(Visit(Seq(40.0), 1000, 7)))
    assert(Bench.multiJvmStalled(twin)(Pair(Vector(Visit(Seq(13.0), 1000, 7)),
      Vector(Visit(Seq(48.0), 1000, 7)))))
    assert(!Bench.multiJvmStalled(twin)(Pair(Vector(Visit(Seq(12.0), 1000, 7)),
      Vector(Visit(Seq(48.0), 1000, 7)))))
  }

  test("pair: no visit starts past the deadline") {
    val s = new Script((Seq(20.0), Seq(40.0)))
    val p = run(s, planned = 5, deadline = 25, guardFirst = true).toOption.get
    assert(s.starts == Seq(0L, 10L, 20L) && p.extraVisits == 0)
    // a guarded first visit past the deadline leaves no pair
    val late = new Script((Seq(20.0), Seq(40.0)))
    late.now = 30
    assert(run(late, planned = 1, deadline = 25, guardFirst = true) ==
      Left("deadline passed before the first visit"))
    assert(late.starts.isEmpty)
    // the thread pair's first visit always runs: without it there is no pair
    assert(run(late, planned = 2, deadline = 25).toOption.get.big.size == 1)
    assert(late.starts == Seq(30L))
  }

  test("pair: a failed visit ends the section with its reason") {
    var calls = 0
    val r = Bench.pairRun("spec", 3, 2, 1000, guardFirst = true, _ => true, clock = () => 0L) { _ =>
      calls += 1
      if (calls == 2) Left("spark-submit exited with code 1")
      else Right((Visit(Seq(20.0), 1000, 7), Visit(Seq(40.0), 1000, 7)))
    }
    assert(r == Left("spark-submit exited with code 1") && calls == 2)
  }

  test("serialized scaling objects carry exactly the tracked BENCH.json key lists") {
    val t = Pair(Vector(Visit(Seq(30.6, 26.69), 12000000, 7)), Vector(Visit(Seq(77.57, 76.47), 12000000, 7)))
    val m = Pair(Vector(Visit(Seq(30.44, 116.11, 49.94), 12000000, 7)),
      Vector(Visit(Seq(81.7, 77.2, 77.97), 12000000, 7)))
    val r = Report("/sf", 12000000, 32, Seq("q1" -> 0.5), scala.collection.immutable.VectorMap.empty,
      max = Vector(Visit(Seq(22.0), 12000000, 7)), thread = Some(t), multiJvm = Some(m))
    val tree = Json.mapper.readTree(Bench.json(r, complete = true))
    def keys(field: String) = tree.get(field).fieldNames().asScala.toSeq
    assert(keys("scaling") == Seq("cores_small", "cores_big", "corpus_rows", "feature_rows",
      "sec_small", "sec_big", "reps_small", "reps_big", "rows_per_sec_small",
      "rows_per_sec_big", "cores_max", "sec_max", "rows_per_sec_max", "efficiency",
      "sec_small_med3", "sec_big_med3", "efficiency_med3", "stall_draws_small",
      "stall_draws_big", "stall_recovery_visits", "digest_match"))
    assert(keys("scaling_multi_jvm") == Seq("master_small", "master_big", "corpus_rows",
      "feature_rows", "sec_small", "sec_big", "reps_small", "reps_big",
      "rows_per_sec_small", "rows_per_sec_big", "efficiency", "sec_small_med3",
      "sec_big_med3", "efficiency_med3", "stall_draws_small", "stall_draws_big",
      "digest_match"))
    assert(tree.fieldNames().asScala.toSet == Set("metric", "value", "unit", "complete",
      "total_sec", "queries", "errors", "sf", "scaling", "scaling_multi_jvm", "sections_skipped"))
    assert(tree.get("scaling").get("reps_big").toString == "[30.6,26.69]")
    assert(tree.get("scaling_multi_jvm").get("reps_small").toString == "[[81.7,77.2,77.97]]")
    assert(tree.get("scaling").get("efficiency").asDouble == 0.716)
    assert(tree.get("scaling").get("digest_match").asBoolean)
  }
}

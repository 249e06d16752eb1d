package graft

import scala.collection.immutable.VectorMap
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

import graft.Bench.{Pair, Report, Visit}

/** BENCH.json and BENCH.md rendered from a scripted run summary. */
class BenchReportSpec extends AnyFunSuite {

  private def pair(big: Seq[Double], small: Seq[Double]) =
    Pair(Vector(Visit(big, 1000000, 7)), Vector(Visit(small, 1000000, 7)))

  private val base = Report("/sf", 1000000, 4,
    Seq("q1_pricing_summary" -> 0.81, "dd_exact" -> Double.NaN),
    VectorMap("dd_exact" -> "boom"), max = Vector(Visit(Seq(10.11), 1000000, 7)),
    thread = Some(pair(Seq(12.05, 13.05), Seq(17.54, 18.09))))

  test("BENCH.md: every table row starts and ends with a pipe") {
    val md = Bench.markdown(base.copy(multiJvm = Some(pair(Seq(30.44), Seq(77.2)))),
      base.thread.get)
    val rows = md.linesIterator.filter(_.contains("|")).toSeq
    // thread table (header, rule, 3 levels), multi-JVM table (header, rule,
    // 2 levels), query table (header, rule, 2 queries)
    assert(rows.size == 13)
    rows.foreach(l => assert(l.startsWith("|") && l.endsWith("|"), l))
    assert(rows.contains("|---|---|"))
    assert(rows.contains("| q1_pricing_summary | 0.810 |"))
    assert(rows.contains("| dd_exact | ERR |"))
    assert(rows.exists(_.startsWith("| local-cluster[4,2,8192] (4N) | 4 x 2 | 30.44 |")))
    assert(md.contains("- ERROR dd_exact: boom"))
    assert(!md.contains("Round-2 follow-up"))
  }

  test("a skipped section is recorded under sections_skipped, never as a missing key alone") {
    val why = "spark-submit under local-cluster[4,2,8192] exited with code 1"
    val r = base.skip("scaling_multi_jvm", why)
    val tree = Json.mapper.readTree(Bench.json(r, complete = true))
    assert(!tree.has("scaling_multi_jvm") && tree.has("scaling"))
    assert(tree.get("sections_skipped").toString ==
      Json.mapper.writeValueAsString(Map("scaling_multi_jvm" -> why)))
    assert(tree.get("errors").get("dd_exact").asText == "boom")
    assert(tree.get("queries").get("dd_exact").asText == "err")
    assert(Bench.markdown(r, r.thread.get).contains(s"Multi-JVM pair skipped: $why."))
    // nothing skipped: an empty object
    assert(Json.mapper.readTree(Bench.json(base, complete = true)).get("sections_skipped").size == 0)
  }

  test("a partial artifact leaves unfinished sections out instead of writing null") {
    val tree = Json.mapper.readTree(Bench.json(base.copy(thread = None), complete = false))
    assert(tree.fieldNames().asScala.toSet == Set("metric", "value", "unit", "complete",
      "total_sec", "queries", "errors", "sections_skipped", "sf"))
    assert(!tree.get("complete").asBoolean && tree.get("value").asLong == 98911)
  }

  test("the cluster marker's Visit object round-trips through the one codec") {
    val v = Visit(Seq(81.7, 77.2, 77.0), 12000000, -5L)
    assert(Json.mapper.readValue(Json.mapper.writeValueAsString(v), classOf[Visit]) == v)
  }
}

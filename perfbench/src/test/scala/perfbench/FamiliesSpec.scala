package perfbench

import org.scalatest.funsuite.AnyFunSuite

class FamiliesSpec extends AnyFunSuite {

  test("every headline query is in exactly one family and resolves in the registry") {
    val head = Families.headline()
    assert(head.size == 31)
    assert(Families.problems(head, graft.SparkEntry.queries.keySet).isEmpty)
    assert(Families.All.flatMap(_._2).sorted == head.sorted)
  }

  test("the check names duplicates, unfiled, extra and unresolved queries") {
    val listed = Families.All.flatMap(_._2)
    val registry = listed.toSet
    val head = listed.filterNot(_ == "dd_exact") :+ "q1_pricing_summary" :+ "new_query"
    val p = Families.problems(head, registry - "txt_langid")
    assert(p.contains("duplicate headline query q1_pricing_summary"))
    assert(p.contains("headline query new_query is in no family"))
    assert(p.contains("family query dd_exact is not a headline query"))
    assert(p.contains("query txt_langid does not resolve in SparkEntry.queries"))
  }
}

package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The query registry (`SparkEntry.specs`): every query has one name and one
  * oracle, and every list derived from it resolves.
  */
class RegistrySpec extends AnyFunSuite {

  test("queries and oracleSql have the same 124 keys") {
    assert(SparkEntry.specs.size == 124)
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.size == 124)
    assert(SparkEntry.queries.keys.toSeq == SparkEntry.specs.map(_.name))
  }

  test("a duplicate name or an empty oracle stops the registry, naming the query") {
    val run = (s: SparkSession, _: String) => s.range(1).toDF()
    val specs = Seq(QuerySpec("a", run, "SELECT 1"), QuerySpec("b", run, "SELECT 2"),
      QuerySpec("a", run, "SELECT 3"), QuerySpec("c", run, " "))
    val e = intercept[IllegalStateException](SparkEntry.checked(specs))
    assert(e.getMessage.contains("duplicate query name a"))
    assert(e.getMessage.contains("query c has an empty oracle"))
    assert(!e.getMessage.contains(" b"))
    assert(SparkEntry.checked(specs.take(2)) == specs.take(2))
  }

  test("Bench.HeadlineQueries has 31 unique names, all registered") {
    val head = Bench.HeadlineQueries
    assert(head.size == 31 && head.distinct.size == 31)
    assert(head.filterNot(SparkEntry.queries.contains).isEmpty)
  }
}

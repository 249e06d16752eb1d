package graft

import java.nio.file.{Files, Paths}
import scala.collection.immutable.VectorMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

class VerifySpec extends AnyFunSuite {

  test("oracle_sql.json escapes tab, CR, quote, backslash and \\u0001; strings round-trip") {
    val dir = Files.createTempDirectory("graft-verify")
    val sql = Map(
      "q\"odd\\name" -> "SELECT 'a\tb' AS \"x\",\r\n  '\\' || '\u0001' FROM t",
      "plain" -> "SELECT 1")
    Verify.writeOracleSql(dir.toString, sql)
    val text = Files.readString(dir.resolve("oracle_sql.json"))
    assert(!text.exists(_ < ' '), s"raw control character in $text")
    val tree = Json.mapper.readTree(text)
    assert(tree.size == sql.size)
    sql.foreach { case (k, v) => assert(tree.get(k).asText == v) }
  }

  test("runQueries records each failing query in verify_errors.json ({} if none) and writes the rest") {
    val spark = SparkTestSession.spark
    val dir = Files.createTempDirectory("graft-verify-run").toString
    val queries = VectorMap[String, (SparkSession, String) => DataFrame](
      "ok" -> ((s, _) => s.range(3).toDF("id")),
      "boom" -> ((_, _) => throw new IllegalStateException("planted failure")))
    val errors = Verify.runQueries(spark, "unused", dir, queries)
    assert(errors == Map("boom" -> "planted failure"))
    val tree = Json.mapper.readTree(Files.readString(Paths.get(dir, "verify_errors.json")))
    assert(tree.size == 1 && tree.get("boom").asText == "planted failure")
    val out = spark.read.parquet(s"$dir/ok")
    assert(out.inputFiles.length == 1)
    assert(out.collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L, 2L))
    assert(!Files.exists(Paths.get(dir, "boom")))
    val okDir = Files.createTempDirectory("graft-verify-ok").toString
    assert(Verify.runQueries(spark, "unused", okDir, queries.take(1)).isEmpty)
    assert(Files.readString(Paths.get(okDir, "verify_errors.json")) == "{}")
  }
}

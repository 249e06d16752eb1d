package graft

import java.nio.file.Files
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
}

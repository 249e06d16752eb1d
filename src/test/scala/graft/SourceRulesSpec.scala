package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source rules the compiler cannot check. What a token is and how it is
  * hashed is decided once, in `graft.functions.Text`: a kernel or oracle
  * that spells out the whitespace class or the seed-42 XXH64 itself can
  * drift from it unseen, and a port of the tokenizer (e.g. to a native
  * Catalyst expression) would have to find every copy. How an
  * order-sensitive double is rounded is decided once, in
  * `graft.functions.HouseRound`: a copy of its epsilon that misses a change
  * flips rare rows on one engine only. How a skew-safe operator splits
  * time into buckets is decided once, in `graft.operators.Windows`: the
  * as-of join and the feature pipeline must agree on it. The as-of join's
  * union-tag window, ordered by (__t, __side, __tie), is written once, in
  * `graft.operators.AsOf`: its plain and skew-safe forms must attach the
  * same event. `graft.tables.SnapshotTable` plans every read from its
  * manifest's typed schema, so it merges no parquet schemas and pads no
  * union: a `mergeSchema` or `allowMissingColumns` there brings back a
  * footer read per file at planning. An operator materializes an
  * intermediate one way, `graft.operators.Caches.cache` (over
  * `GraftBridge.materialize`): a `persist`, `cache()` or checkpoint
  * elsewhere escapes `Caches.releaseAll` and the AQE-coalesced read. And
  * no source holds a raw control byte other than '\n': editors and diffs
  * do not show it, so a fixture or comparison with one reads as something
  * else (write the escape, e.g. "\u000B"). And the operator, feature,
  * corpus and function objects keep only public names a query, the
  * pipeline, a bench or perfbench runs: a name only specs call is a
  * reference twin and lives in src/test (`KernelTwins`, `FeatureTwins`,
  * the spec objects), and a name nothing calls is deleted.
  */
class SourceRulesSpec extends AnyFunSuite {

  private def scalaFiles(root: String): Seq[Path] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList.sorted
    finally s.close()
  }

  private val tokenizerHome = Paths.get("src/main/scala/graft/functions/Text.scala")

  /** A comparison with a char only the `\s` class needs (tab, VT, FF). */
  private val wsComparison = """==\s*('\\t'|'\\f'|'\\u000[bB]'|0x0[bB]\b)""".r

  /** An XXH64 call with the literal seed 42. */
  private val seed42Hash = """XXH64\.\w+\(.*\b42L?\b""".r

  /** A DuckDB split on the `\s+` or `[\s\v]+` class: the oracle tokenizer,
    * whichever way its backslashes are escaped. */
  private val oracleTokenizer = """string_split_regex\(.*\\+s(?:\\+v\])?\+""".r

  /** Every line of a src/main file that a pattern finds, as `file:n: line`. */
  private def hits(patterns: scala.util.matching.Regex*): Seq[String] =
    for {
      f <- scalaFiles("src/main/scala")
      (line, i) <- Files.readAllLines(f, StandardCharsets.UTF_8).asScala.zipWithIndex
      if patterns.exists(_.findFirstIn(line).nonEmpty)
    } yield s"$f:${i + 1}: ${line.trim}"

  /** [[hits]] outside the file `home`. */
  private def hitsOutside(home: Path, patterns: scala.util.matching.Regex*): Seq[String] =
    hits(patterns: _*).filterNot(_.startsWith(s"$home:"))

  test("the whitespace class and the seed-42 token hash are written only in Text") {
    val hits = hitsOutside(tokenizerHome, wsComparison, seed42Hash, oracleTokenizer)
    assert(hits.isEmpty, hits.mkString("\n"))
    assert(Files.exists(tokenizerHome))
  }

  test("the house rounding epsilon is written only in HouseRound") {
    val home = Paths.get("src/main/scala/graft/functions/HouseRound.scala")
    val hits = hitsOutside(home, """1\.7[eE]-0*8""".r)
    assert(hits.isEmpty, hits.mkString("\n"))
    assert(Files.exists(home))
  }

  test("the time-bucket span and bucket arithmetic is written only in Windows") {
    val home = Paths.get("src/main/scala/graft/operators/Windows.scala")
    // the span `(hi - lo) / buckets` and the bucket `(t - lo) div span`
    val hits = hitsOutside(home,
      """\(\s*hi\s*-\s*lo\s*\)\s*/|/\s*lit\(\s*span\s*\)|call_function\(\s*"div"""".r)
    assert(hits.isEmpty, hits.mkString("\n"))
    assert(Files.exists(home))
  }

  test("the as-of union-tag ordering (__t, __side, __tie) is written once") {
    val found = hits("""col\("__t"\)\s*,\s*col\("__side"\)\s*,\s*col\("__tie"\)""".r)
    assert(found.size == 1, found.mkString("\n"))
    assert(found.head.startsWith("src/main/scala/graft/operators/AsOf.scala:"), found.head)
  }

  test("SnapshotTable reads on the manifest's typed schema: no schema merging") {
    val home = "src/main/scala/graft/tables/SnapshotTable.scala"
    val found = hits("""mergeSchema|allowMissingColumns""".r).filter(_.startsWith(s"$home:"))
    assert(found.isEmpty, found.mkString("\n"))
    assert(Files.exists(Paths.get(home)))
  }

  test("materializations go through Caches: no persist, cache or checkpoint elsewhere") {
    val homes = Seq("src/main/scala/graft/operators/Caches.scala",
      "src/main/scala/org/apache/spark/sql/GraftBridge.scala")
    val found = hits("""\.persist\(|\.cache\(\)|[cC]heckpoint\(""".r)
      .filterNot(h => homes.exists(home => h.startsWith(s"$home:")))
    assert(found.isEmpty, found.mkString("\n"))
    homes.foreach(home => assert(Files.exists(Paths.get(home)), home))
  }

  /** A public member of a top-level object: 2-space indent, no modifier. */
  private val publicMember = """^  (?:lazy )?(?:def|val) ([A-Za-z_][A-Za-z0-9_]*)""".r

  /** `line` with its comment part cut: a doc/block-comment line is empty,
    * and a `//` at the start or after a blank ends the code. */
  private def code(line: String): String = {
    val t = line.trim
    if (t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")) ""
    else line.replaceFirst("""\s//.*$""", "")
  }

  test("every public operator, feature and corpus member is named outside its definition") {
    val owners = Seq("operators", "features", "corpus", "functions")
      .flatMap(d => scalaFiles(s"src/main/scala/graft/$d"))
    val lines = for {
      f <- scalaFiles("src/main/scala") ++ scalaFiles("perfbench/src")
      (line, i) <- Files.readAllLines(f, StandardCharsets.UTF_8).asScala.zipWithIndex
    } yield (f, i, line)
    val defs = for {
      (f, i, line) <- lines if owners.contains(f)
      m <- publicMember.findFirstMatchIn(line)
    } yield (f, i, m.group(1))
    // a use stands alone or follows its own object's name: `s.indexOf` on
    // a String is not `Corpus.indexOf`; `apply` is used as `Owner(`. A line
    // that defines the same name, in any object, is not a use of it.
    val unused = defs.filterNot { case (f, _, name) =>
      val owner = f.getFileName.toString.stripSuffix(".scala")
      val word =
        if (name == "apply") s"(?<![\\w.])$owner\\(".r
        else s"(?:(?<![\\w.])|(?<=\\b$owner\\.))$name\\b".r
      val definition = s"\\b(?:def|val|var)\\s+$name\\b".r
      lines.exists { case (_, _, l) =>
        val c = code(l)
        definition.findFirstIn(c).isEmpty && word.findFirstIn(c).nonEmpty }
    }.map { case (f, i, name) => s"$f:${i + 1}: $name" }
    assert(defs.nonEmpty)
    assert(unused.isEmpty, unused.mkString("\n"))
  }

  test("no .scala file in src/main or src/test holds a raw control byte but \\n") {
    val hits = for {
      f <- scalaFiles("src/main/scala") ++ scalaFiles("src/test/scala")
      (line, i) <- new String(Files.readAllBytes(f), StandardCharsets.UTF_8)
        .split("\n", -1).toSeq.zipWithIndex
      c <- line if c < 0x20 || c == 0x7F
    } yield f"$f:${i + 1}: U+${c.toInt}%04X"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}

package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
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
  * footer read per file at planning. Every table read plans through the
  * manifest's file index, so no `spark.read` appears under `graft/tables`:
  * one there lists the slice dirs again, in a job of its own past 32 dirs.
  * Every slice is staged by one writer, so a DataFrame is written in one
  * place under `graft/tables`: a second writer can lose the (entity, time)
  * order each slice promises, as a sort the planned write overrides did.
  * An operator materializes an
  * intermediate one way, `graft.operators.Caches.cache` (over
  * `GraftBridge.materialize`): a `persist`, `cache()` or checkpoint
  * elsewhere escapes `Caches.releaseAll` and the AQE-coalesced read. And
  * no source holds a raw control byte other than '\n': editors and diffs
  * do not show it, so a fixture or comparison with one reads as something
  * else (write the escape, e.g. "\u000B"). And src/main keeps only what
  * runs: every public top-level object, class or trait under
  * `src/main/scala`, and every public member of such an object, is reached
  * from a run root. The roots are the flagship job (`SparkEntry.entry`),
  * the query registry (`SparkEntry.specs`, off which every `Queries*.specs`
  * lambda hangs), the `Verify` and `Bench` mains, and every perfbench
  * source file; a body that is reached reaches each definition it names,
  * to a fixpoint. Being named is not enough: a chain whose head only specs
  * call is not reached at all. A name only specs call is a reference twin
  * and lives in src/test (`KernelTwins`, `FeatureTwins`, the spec objects),
  * and a name nothing calls is deleted.
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

  test("table reads plan through the manifest index: no spark.read in graft/tables") {
    val home = "src/main/scala/graft/tables"
    val found = hits("""spark\.read|\.read\.""".r).filter(_.startsWith(s"$home/"))
    assert(found.isEmpty, found.mkString("\n"))
    assert(Files.isDirectory(Paths.get(home)))
  }

  test("table slices have one writer: one .write. in graft/tables") {
    val home = "src/main/scala/graft/tables"
    val found = hits("""\.write\.""".r).filter(_.startsWith(s"$home/"))
    assert(found.size == 1, found.mkString("\n"))
  }

  test("materializations go through Caches: no persist, cache or checkpoint elsewhere") {
    val homes = Seq("src/main/scala/graft/operators/Caches.scala",
      "src/main/scala/org/apache/spark/sql/GraftBridge.scala")
    val found = hits("""\.persist\(|\.cache\(\)|[cC]heckpoint\(""".r)
      .filterNot(h => homes.exists(home => h.startsWith(s"$home:")))
    assert(found.isEmpty, found.mkString("\n"))
    homes.foreach(home => assert(Files.exists(Paths.get(home)), home))
  }

  /** A public member of a top-level object, or a type declared at its top
    * level: 2-space indent, no access modifier. */
  private val publicMember =
    """^  (?:(?:lazy|final|sealed|abstract|case) )*(?:def|val|class|trait|object) ([A-Za-z_][A-Za-z0-9_]*)""".r

  /** A top-level object, class or trait: its kind and its name. */
  private val topLevelDef =
    """^(?:(?:private|protected)(?:\[[\w.]+\])? |final |sealed |abstract |case |implicit )*(object|class|trait) ([A-Za-z_]\w*)""".r

  /** Any definition at 2-space indent, whatever its modifiers: where the
    * member before it ends. */
  private val memberDef =
    """^  (?:(?:private|protected)(?:\[[\w.]+\])? |override |implicit |lazy |final |sealed |abstract |case )*(?:def|val|var|class|trait|object|type) ([A-Za-z_]\w*)""".r

  /** A char literal, or a one-line string literal that interpolates
    * nothing. */
  private val literal = """'(?:[^'\\]|\\.)'|(?<![\w"])"(?:[^"\\]|\\.)*"(?!")""".r

  /** `line` with its comment part and its [[literal]]s cut: a
    * doc/block-comment line is empty, and a `//` at the start or after a
    * blank ends the code. */
  private def code(line: String): String = {
    val t = line.trim
    if (t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")) ""
    else literal.replaceAllIn(line, "\"\"").replaceFirst("""\s//.*$""", "")
  }

  /** A definition of `src/main/scala`: a top-level object, class or trait
    * (`owner` ""), or a member of a top-level object (`owner` its name).
    * `checked` ones must be reached; `body` is the code it spans. */
  private final class Def(val file: Path, val line: Int, val owner: String,
      val name: String, val checked: Boolean, val body: Seq[String]) {
    override def toString: String =
      s"$file:${line + 1}: ${if (owner.isEmpty) name else s"$owner.$name"}"
  }

  /** The definitions of one file. A top-level definition spans up to the
    * next one. An object member's body runs from its definition line to the
    * next member of the same object, so code at a deeper indent (local
    * definitions too) is its own; the object itself keeps what its members
    * leave, its header. A class or trait keeps its members in its body. */
  private def defsOf(f: Path): Seq[Def] = {
    val raw = Files.readAllLines(f, StandardCharsets.UTF_8).asScala.toIndexedSeq
    val lines = raw.map(code)
    val tops = raw.indices.flatMap(i => topLevelDef.findFirstMatchIn(raw(i)).map(i -> _))
    tops.zipWithIndex.flatMap { case ((start, m), k) =>
      val end = if (k + 1 < tops.size) tops(k + 1)._1 else raw.size
      val public = !raw(start).startsWith("private") && !raw(start).startsWith("protected")
      val members =
        if (m.group(1) != "object") IndexedSeq.empty
        else (start + 1 until end).flatMap(i => memberDef.findFirstMatchIn(raw(i)).map(i -> _))
      val bounds = members.map(_._1) :+ end
      new Def(f, start, "", m.group(2), public, lines.slice(start, bounds.head)) +:
        members.zipWithIndex.map { case ((i, mm), j) =>
          new Def(f, i, m.group(2), mm.group(1),
            public && publicMember.findFirstIn(raw(i)).nonEmpty, lines.slice(i, bounds(j + 1)))
        }
    }
  }

  private val identifier = """(?<!\w)[A-Za-z_]\w*""".r

  /** The identifiers a code line uses: each with the identifier before its
    * `.` (Some("") after a non-identifier, None when unqualified) and
    * whether a `(` follows it. */
  private def uses(c: String): Iterator[(String, Option[String], Boolean)] =
    identifier.findAllMatchIn(c).map { m =>
      val qualifier =
        if (m.start == 0 || c.charAt(m.start - 1) != '.') None
        else Some(c.substring(0, m.start - 1).reverse
          .takeWhile(ch => ch.isLetterOrDigit || ch == '_').reverse)
      (m.matched, qualifier, c.startsWith("(", m.end))
    }

  private val binder =
    """\b(?:val|var|def|class|trait|object)\s+(\w+)|(\w+)\s*:(?![:=]|\s*_\*)|(\w+)\s*(?:=>|<-)|\(([\w\s,]+)\)\s*(?:=>|<-)""".r

  /** The names a body binds itself: its definitions, typed parameters and
    * patterns (`x: T`), and lambda and generator parameters (`x =>`,
    * `(x, y) =>`, `x <-`). A bare use of one of them is the local, not an
    * object member. */
  private def bound(body: Seq[String]): Set[String] =
    body.flatMap(c => binder.findAllMatchIn(c).flatMap(_.subgroups.filter(_ != null))
      .flatMap(_.split(",").map(_.trim))).toSet

  private val importLine = """^\s*import\s+[\w.]*?(\w+)\.(\w+|\{[^}]*\})\s*$""".r

  /** What a file imports from an object: (object, member), member "_" for
    * all of them. */
  private def importsOf(f: Path): Set[(String, String)] =
    Files.readAllLines(f, StandardCharsets.UTF_8).asScala.flatMap {
      case importLine(owner, sel) =>
        sel.stripPrefix("{").stripSuffix("}").split(",").map(_.split("=>")(0).trim)
          .map(owner -> _)
      case _ => Nil
    }.toSet

  /** Where a run starts, each with why. Every perfbench source file is a
    * root as well: the declared benchmark builds src/main with itself and
    * runs what it names. */
  private val roots = Seq(
    ("SparkEntry", "entry") -> "the flagship job: features attached to as-of probes",
    ("SparkEntry", "specs") -> "the query registry: every Queries*.specs lambda and oracle",
    ("Verify", "main") -> "the correctness main: each query, its dump and its oracle",
    ("Bench", "main") -> "the bench main, all of its modes")

  test("every public member of a src/main object is reached from a run root") {
    val defs = scalaFiles("src/main/scala").flatMap(defsOf)
    val byName = defs.groupBy(_.name)
    val imports = (scalaFiles("src/main/scala") ++ scalaFiles("perfbench/src"))
      .map(f => f -> importsOf(f)).toMap
    // a member is used by its object's name and a dot (`s.indexOf` on a
    // String is not `Corpus.indexOf`), or alone, unless the body binds that
    // name, in its own file or one that imports it; a top-level name may
    // follow its package; and `Owner(` uses `Owner.apply`
    def usedBy(f: Path, local: Set[String])(c: String): Iterator[Def] =
      uses(c).flatMap { case (name, q, call) =>
        def inScope(d: Def) = !local(name) && (d.file == f ||
          imports(f).exists { case (o, m) => o == d.owner && (m == "_" || m == name) })
        val named = byName.getOrElse(name, Nil).filter { d =>
          if (d.owner.isEmpty) q.forall(_.headOption.exists(_.isLower))
          else q.fold(inScope(d))(_ == d.owner)
        }
        val applied =
          if (q.isEmpty && call) byName.getOrElse("apply", Nil).filter(_.owner == name) else Nil
        named ++ applied
      }
    val reached = mutable.LinkedHashSet.empty[Def]
    val todo = mutable.Queue.empty[Def]
    def reach(d: Def): Unit = if (reached.add(d)) todo.enqueue(d)
    roots.foreach { case ((owner, name), why) =>
      val root = defs.filter(d => d.owner == owner && d.name == name)
      assert(root.nonEmpty, s"root $owner.$name ($why) is not defined")
      root.foreach(reach)
    }
    for (f <- scalaFiles("perfbench/src")) {
      val lines = Files.readAllLines(f, StandardCharsets.UTF_8).asScala.map(code).toSeq
      lines.flatMap(usedBy(f, bound(lines))).foreach(reach)
    }
    while (todo.nonEmpty) {
      val d = todo.dequeue()
      d.body.flatMap(usedBy(d.file, bound(d.body))).foreach(reach)
      // a member runs inside its object
      defs.filter(o => o.file == d.file && o.owner.isEmpty && o.name == d.owner).foreach(reach)
    }
    val unreached = defs.filter(d => d.checked && !reached(d))
    unreached.foreach(u => info(u.toString))
    assert(defs.count(_.checked) > 100)
    assert(unreached.isEmpty, s"${unreached.size} public definitions no run reaches")
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

package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Curation
import graft.streaming.StreamOps

/** §2.11 streaming analogs for the curation layer: every heuristic gate is
  * a stateless pure projection, so the SAME operator call must run
  * unchanged on a streaming DataFrame and emit byte-identical rows to its
  * batch run — the property that lets one curation codepath serve both the
  * backfill and the live-ingest side of a training-data pipeline.
  */
class StreamCurationSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def docs: DataFrame = Seq(
    (1L, "alpha beta gamma delta epsilon.\nzeta eta theta iota kappa?\nlambda mu nu xi omicron pi."),
    (2L, "short.\nno."),
    (3L, "see Lorem Ipsum here.\nmany fine words sit on this line.\nthird fine sentence lands right here too.\nfourth fine sentence lands right here too."),
    (4L, "reach me at a.user@example.com or 10.1.2.3 or call 555-123-4567 now"),
    (5L, "the quick brown fox jumps over a lazy dog and keeps going with many more fine words here so the gate passes easily today for sure right")
  ).toDF("doc_id", "text")

  private def streamed(f: DataFrame => DataFrame, name: String): Set[String] = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft-cur-$name").toString
    docs.coalesce(1).write.mode("overwrite").parquet(dir)
    StreamOps.runToMemory(
      f(spark.readStream.schema(docs.schema).parquet(dir)), name)
    spark.table(name).collect().map(_.mkString("|")).toSet
  }

  private def batch(f: DataFrame => DataFrame): Set[String] =
    f(docs).collect().map(_.mkString("|")).toSet

  test("c4Clean runs unchanged on a stream, byte-equal to batch") {
    val f = (d: DataFrame) => Curation.c4Clean(d, "doc_id", "text")
    assert(streamed(f, "cur_c4") === batch(f))
  }

  test("gopherGate runs unchanged on a stream, byte-equal to batch") {
    val f = (d: DataFrame) => Curation.gopherGate(d, "doc_id", "text",
      stopwords = Seq("the", "a"), minWords = 5, maxDupFrac = 0.6)
    assert(streamed(f, "cur_gopher") === batch(f))
  }

  test("piiRedact runs unchanged on a stream, byte-equal to batch") {
    val f = (d: DataFrame) => Curation.piiRedact(d, "doc_id", "text")
    val s = streamed(f, "cur_pii")
    assert(s === batch(f))
    assert(s.exists(r => r.contains("<EMAIL>") && r.contains("<IP>") &&
      r.contains("<PHONE>")))
  }
}

package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Caches, Stats, Terms}

/** Round-5 regression guard for the float-summation-ORDER failure class:
  * the round-4 driver gate (different partition count than the builder's
  * sessions) flipped rounding boundaries in `confusionMulti` (windowed
  * double sum of count products) and `unigramLogProb` (double sum of
  * irrational logs) — rows and schema matched, hashes did not. Both now
  * accumulate exactly (decimal / fixed-point longs), so their outputs must
  * be BIT-identical — `doubleToRawLongBits` equality, no tolerance — across
  * partition layouts. A plain `===` on doubles would accept ulp drift that
  * the driver's canonical-hash compare rejects; raw-bits equality is the
  * same strictness the gate applies.
  */
class OrderInsensitivitySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** Collect `df` fully sorted and return (stringified longs/strings, raw
    * bits of every double column) — the bit-exact canonical form.
    */
  private def canon(df: DataFrame): Seq[Seq[Any]] = {
    val cols = df.columns.sorted
    df.select(cols.map(col): _*).collect().toSeq
      .map(_.toSeq.map {
        case d: Double => java.lang.Double.doubleToRawLongBits(d)
        case x => x
      })
      .sortBy(_.mkString("|"))
  }

  private def facts = {
    // 997 rows, 3x3 classes, counts coprime-skewed so no margin is a
    // round number; values derived from the row index => deterministic
    spark.range(997).select(
      (col("id") % 2).cast("int").as("grp"),
      concat(lit("c"), (col("id") * 7 % 3)).as("act"),
      concat(lit("c"), (col("id") * 11 % 3)).as("prd"))
  }

  test("confusionMulti is bit-identical across partition layouts") {
    val a = canon(Stats.confusionMulti(facts.repartition(1),
      Seq("grp"), col("act"), col("prd")))
    val b = canon(Stats.confusionMulti(facts.repartition(13),
      Seq("grp"), col("act"), col("prd")))
    assert(a == b)
  }

  test("unigramLogProb is bit-identical across partition layouts") {
    // 400 docs over a zipf-ish vocabulary: several irrational ln terms
    // per doc so a double sum WOULD wander across layouts
    val docs = spark.range(400).select(col("id").as("doc_id"),
      concat_ws(" ",
        concat(lit("w"), col("id") % 17),
        concat(lit("w"), col("id") % 5),
        concat(lit("w"), col("id") % 3),
        lit("common"),
        concat(lit("w"), col("id") % 29)).as("text"))
    val a = canon(Terms.unigramLogProb(docs.repartition(1), "doc_id", "text"))
    Caches.releaseAll()
    val b = canon(Terms.unigramLogProb(docs.repartition(7), "doc_id", "text"))
    Caches.releaseAll()
    assert(a == b)
  }
}

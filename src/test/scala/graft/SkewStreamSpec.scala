package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.corpus.Corpus
import graft.functions.HammingDistance
import graft.operators.Skew

class SkewStreamSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("salted join is semantics-preserving vs plain join on skewed keys") {
    val p = Corpus.Params(rows = 3000, entities = 10) // zipf: e00000 is hot
    val fact = Corpus.events(spark, p).select("entity_id", "seq", "phash")
    val dim = FeaturePipeline_entityDim()
    val plain = fact.join(dim, Seq("entity_id")).select("entity_id", "seq", "topic")
    val salted = Skew.saltedJoin(fact, dim, "entity_id", "seq", salts = 8)
      .select("entity_id", "seq", "topic")
    assert(plain.exceptAll(salted).isEmpty && salted.exceptAll(plain).isEmpty)
  }

  private def FeaturePipeline_entityDim() =
    graft.features.FeaturePipeline.entityDim(spark, 10)

  test("native hamming expression matches bit_count oracle and codegens") {
    // range-based source so Catalyst cannot constant-fold the expression away
    val df = spark.range(500)
      .select(xxhash64(col("id"), lit(1)).as("a"), xxhash64(col("id"), lit(2)).as("b"))
    val got = df.select(HammingDistance.hamming(col("a"), col("b")).as("h"),
      bit_count(col("a").bitwiseXOR(col("b"))).cast("int").as("o"))
    assert(got.filter(col("h") =!= col("o")).count() == 0)
    // stays inside whole-stage codegen (the "*(n)" stage marker)
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("WholeStageCodegen") || plan.contains("*("), plan)
    assert(plan.contains("hamming("), plan)
  }

  test("repetition signals match hand-computed values on crafted docs") {
    import spark.implicits._
    val docs = Seq(
      ("a b a b",          0.5,   2.0 / 3),  // bigrams: "a b","b a","a b"
      ("x y z",            0.0,   0.5),      // all distinct; ties -> max 1 of 2
      ("w w w w",          0.75,  1.0),      // one bigram repeated
      ("solo",             0.0,   0.0),      // no bigrams
      ("",                 0.0,   0.0),
      ("  spaced   out  ", 0.0,   1.0)       // tokenizer must drop empties
    ).toDF("text", "dup", "top")
    val got = docs.select(col("dup"), col("top"),
      graft.functions.Text.dupWordFrac(col("text")).as("g_dup"),
      graft.functions.Text.topBigramFrac(col("text")).as("g_top")).collect()
    got.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(2)) < 1e-12, r.toString)
      assert(math.abs(r.getDouble(1) - r.getDouble(3)) < 1e-12, r.toString)
    }
  }
}

package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.corpus.Corpus
import graft.functions.HammingDistance
import graft.operators.Skew

class SkewStreamSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

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
    // SQL registration
    GraftExtensions.registerAll(spark)
    df.createOrReplaceTempView("hamming_in")
    val viaSql = spark.sql(
      "SELECT count(*) FROM hamming_in WHERE hamming(a, b) <> bit_count(a ^ b)")
    assert(viaSql.head().getLong(0) == 0L)
    // stays inside whole-stage codegen (the "*(n)" stage marker)
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("WholeStageCodegen") || plan.contains("*("), plan)
    assert(plan.contains("hamming("), plan)
  }

  test("GraftExtensions SQL functions equal their Column formulations") {
    GraftExtensions.registerAll(spark)
    val p = Corpus.Params(rows = 300, entities = 6)
    Corpus.events(spark, p).select(col("caption")).createOrReplaceTempView("ext_docs")
    val viaSql = spark.sql(
      """SELECT graft_fingerprint(caption) AS fp, graft_lang_id(caption) AS lid,
         graft_token_count(caption) AS tc, graft_quality(caption) AS q,
         graft_dup_word_frac(caption) AS dwf, graft_top_bigram_frac(caption) AS tbf,
         graft_signif(graft_quality(caption)) AS sg
         FROM ext_docs""").collect()
    val viaCol = spark.table("ext_docs").select(
      graft.functions.Text.fingerprint(col("caption")).as("fp"),
      graft.functions.Text.langId(col("caption")).as("lid"),
      graft.functions.Text.tokenCount(col("caption")).cast("long").as("tc"),
      graft.functions.Text.qualityScore(col("caption"), Corpus.Stopwords).as("q"),
      graft.functions.Text.dupWordFrac(col("caption")).as("dwf"),
      graft.functions.Text.topBigramFrac(col("caption")).as("tbf"),
      graft.operators.Stats.significance(
        graft.functions.Text.qualityScore(col("caption"), Corpus.Stopwords)).as("sg"))
      .collect()
    assert(viaSql.map(_.toSeq).toSeq == viaCol.map(_.toSeq).toSeq)
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

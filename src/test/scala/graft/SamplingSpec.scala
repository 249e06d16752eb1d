package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Sampling

class SamplingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def keyed(n: Int, parts: Int) =
    spark.range(0, n, 1, parts).select(col("id").as("k"),
      (col("id") * 3 % 17).cast("double").as("v"))

  test("poisson bootstrap is identical at any partitioning (the manifest property)") {
    def digest(parts: Int): Seq[(Long, Int)] =
      Sampling.poissonBootstrap(keyed(5000, parts), "k", rate = 0.5, seed = 7L)
        .select(col("k"), col("m")).as[(Long, Int)].collect().sortBy(_._1).toSeq
    val d1 = digest(1)
    assert(d1 == digest(13) && d1 == digest(32))
  }

  test("different seeds draw different samples; same seed redraws the same") {
    val a = Sampling.poissonBootstrap(keyed(2000, 8), "k", 0.5, seed = 1L)
      .agg(sum("m")).head.getLong(0)
    val a2 = Sampling.poissonBootstrap(keyed(2000, 8), "k", 0.5, seed = 1L)
      .agg(sum("m")).head.getLong(0)
    val b = Sampling.poissonBootstrap(keyed(2000, 8), "k", 0.5, seed = 2L)
      .select(col("k"), col("m")).as[(Long, Int)].collect().toMap
    val am = Sampling.poissonBootstrap(keyed(2000, 8), "k", 0.5, seed = 1L)
      .select(col("k"), col("m")).as[(Long, Int)].collect().toMap
    assert(a == a2)
    assert(am != b)
  }

  test("multiplicities follow Poisson(rate): mean, variance, pmf within CLT bounds") {
    val n = 50000
    val rate = 0.5
    val ms = Sampling.poissonMultiplicity(rate, seed = 42L)
    val df = spark.range(n).select(ms(col("id")).as("m"))
    val row = df.agg(avg(col("m")), var_samp(col("m")),
      sum(when(col("m") === 0, 1).otherwise(0))).head
    val (mean, vr, zeros) = (row.getDouble(0), row.getDouble(1), row.getLong(2))
    // mean and variance of Poisson(r) are both r; 5-sigma CLT bands at n=50k
    assert(math.abs(mean - rate) < 5 * math.sqrt(rate / n), s"mean $mean")
    assert(math.abs(vr - rate) < 0.02, s"var $vr")
    val p0 = math.exp(-rate)
    assert(math.abs(zeros.toDouble / n - p0) < 5 * math.sqrt(p0 * (1 - p0) / n))
  }

  test("class upsampling equalizes expected class sizes, partitioning-independently") {
    val df = spark.range(0, 6000, 1, 8).select(col("id").as("k"),
      when(col("id") % 10 < 7, "A").when(col("id") % 10 < 9, "B").otherwise("C")
        .as("cls"))
    val up = Sampling.upsampleClasses(df, "k", "cls", seed = 5L)
    // caret "up" semantics: EVERY original row is kept (m >= 1) and the
    // majority class passes through untouched (m == 1 exactly)
    assert(up.count() == 6000)
    assert(up.where(col("cls") === "A" && col("m") =!= 1).count() == 0)
    val sizes = up.groupBy("cls").agg(sum("m").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // majority class has rate 1 (expected size = its own count); minorities
    // inflate to ~the same size; 5-sigma Poisson bands
    val maj = 4200.0
    sizes.values.foreach(n =>
      assert(math.abs(n - maj) < 5 * math.sqrt(maj), s"sizes=$sizes"))
    // identical at different partitioning
    val up13 = Sampling.upsampleClasses(
      spark.range(0, 6000, 1, 13).select(col("id").as("k"),
        when(col("id") % 10 < 7, "A").when(col("id") % 10 < 9, "B").otherwise("C")
          .as("cls")), "k", "cls", seed = 5L)
    assert(up.select("k", "m").collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq ==
      up13.select("k", "m").collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq)
  }

  private def classed(n: Int, parts: Int) =
    spark.range(0, n, 1, parts).select(col("id").as("k"),
      // three classes with sizes ~ n/2, n/3, n/6 (id mod 6 buckets)
      when(col("id") % 6 < 3, "a").when(col("id") % 6 < 5, "b")
        .otherwise("c").as("cls"))

  test("stratifiedSplitExact: exactly ceil(p*n_class) train rows per class") {
    val df = classed(6000, 8)
    val got = Sampling.stratifiedSplitExact(df, "cls", "k", p = 0.8, seed = 3L)
      .groupBy("cls").agg(
        sum(when(col("is_train"), 1L).otherwise(0L)).as("tr"),
        count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    got.foreach { case (c, (tr, n)) =>
      assert(tr == math.ceil(n * 0.8).toLong, s"class $c: $tr of $n")
    }
    assert(got.keySet == Set("a", "b", "c"))
  }

  test("stratifiedSplitExact is identical at any partitioning (manifest property)") {
    def ids(parts: Int): Set[Long] =
      Sampling.stratifiedSplitExact(classed(3000, parts), "cls", "k", 0.8, seed = 3L)
        .where(col("is_train")).select("k").as[Long].collect().toSet
    val d1 = ids(1)
    assert(d1 == ids(7) && d1 == ids(32))
  }

  test("stratifiedSplitExact on an empty input returns empty, schema intact") {
    val out = Sampling.stratifiedSplitExact(
      classed(100, 2).where(lit(false)), "cls", "k", 0.8, seed = 3L)
    assert(out.count() == 0)
    assert(out.columns.contains("is_train"))
  }

  test("stratifiedSplitExact rail: a fact-scale class fails fast") {
    val e = intercept[IllegalStateException](
      Sampling.stratifiedSplitExact(classed(1000, 4), "cls", "k", 0.8,
        seed = 3L, maxClassRows = 100L))
    assert(e.getMessage.contains("stratifiedSplitHash"))
    intercept[IllegalArgumentException](
      Sampling.stratifiedSplitExact(classed(100, 2), "cls", "k", 1.5))
  }

  test("stratifiedSplitHash: shuffle-free, deterministic, fraction near p") {
    val df = classed(20000, 16)
    val sp = Sampling.stratifiedSplitHash(df, "k", p = 0.8, seed = 3L)
    val agg = sp.groupBy("cls").agg(
      avg(when(col("is_train"), 1.0).otherwise(0.0)).as("frac")).collect()
    agg.foreach { r =>
      // binomial 6-sigma band around 0.8 at the smallest class (~3333 rows)
      assert(math.abs(r.getDouble(1) - 0.8) < 6 * math.sqrt(0.8 * 0.2 / 3000.0),
        s"class ${r.getString(0)} frac=${r.getDouble(1)}")
    }
    sp.collect()
    assert(!sp.queryExecution.executedPlan.toString.contains("Exchange"),
      "hash split must be a pure projection")
    def ids(parts: Int): Set[Long] =
      Sampling.stratifiedSplitHash(classed(3000, parts), "k", 0.8, seed = 3L)
        .where(col("is_train")).select("k").as[Long].collect().toSet
    assert(ids(1) == ids(32))
  }
}

package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Sampling

class TokenBudgetSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // 40 docs across 3 strata with varied token counts
  private def docs: DataFrame = (1L to 40L).map { i =>
    (i, Seq("aa", "bb", "cc")((i % 3).toInt),
      Seq.fill((i % 7).toInt + 1)("w").mkString(" "))
  }.toDF("id", "grp", "text")

  private val toks = size(split(col("text"), " "))

  private def run(df: DataFrame, skew: Boolean, nBuckets: Int = 64,
      budget: Long = 20L): Seq[(Long, Long, Long, Boolean)] = {
    val out = if (skew)
      Sampling.tokenBudgetSampleSkewSafe(df, Seq("grp"), "id", toks,
        lit(budget), seed = 5L, nBuckets = nBuckets)
    else
      Sampling.tokenBudgetSample(df, Seq("grp"), "id", toks,
        lit(budget), seed = 5L)
    out.select(col("id"), col("n_tokens"), col("cum_before"), col("kept"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .sortBy(_._1).toSeq
  }

  test("plain and skew-safe forms are bit-identical at any bucketing/layout") {
    val base = run(docs, skew = false)
    for (parts <- Seq(1, 7, 13)) {
      assert(run(docs.repartition(parts), skew = false) === base, s"plain parts=$parts")
      for (nb <- Seq(1, 7, 64))
        assert(run(docs.repartition(parts), skew = true, nBuckets = nb) === base,
          s"nBuckets=$nb parts=$parts")
    }
  }

  test("exclusive-prefix cut: crossing doc kept, budget tokens reached") {
    val r = run(docs, skew = false)
    val byGrp = docs.select(col("id"), col("grp")).collect()
      .map(x => x.getLong(0) -> x.getString(1)).toMap
    for (g <- Seq("aa", "bb", "cc")) {
      val kept = r.filter(t => byGrp(t._1) == g && t._4)
      val dropped = r.filter(t => byGrp(t._1) == g && !t._4)
      assert(kept.nonEmpty)
      // every kept doc started strictly under budget; every dropped doc at/over
      assert(kept.forall(_._3 < 20L) && dropped.forall(_._3 >= 20L))
      // the kept prefix reaches the budget (crossing doc included)
      assert(kept.map(t => t._2 + t._3).max >= 20L)
    }
  }

  test("first doc of a stratum is always kept when budget > 0") {
    val tiny = Seq((1L, "solo", "w w w w w w w w w w")).toDF("id", "grp", "text")
    assert(run(tiny, skew = false, budget = 1L) ===
      Seq((1L, 10L, 0L, true)))
    assert(run(tiny, skew = true, budget = 1L) ===
      Seq((1L, 10L, 0L, true)))
  }

  test("a NULL stratum is a stratum: skew-safe keeps and matches plain") {
    val withNull = Seq(
      (1L, "aa", "w w w"), (2L, null, "w w w w"), (3L, null, "w w"),
      (4L, "aa", "w")).toDF("id", "grp", "text")
    val plain = run(withNull, skew = false, budget = 5L)
    val skew = run(withNull, skew = true, budget = 5L)
    assert(plain.map(_._1) === Seq(1L, 2L, 3L, 4L), "rows lost")
    assert(skew === plain)
  }

  test("plain form fails fast over the stratum-size rail") {
    val e = intercept[IllegalStateException] {
      Sampling.tokenBudgetSample(docs, Seq("grp"), "id", toks, lit(20L),
        maxStratumRows = 5L).collect()
    }
    assert(e.getMessage.contains("tokenBudgetSampleSkewSafe"))
  }

  test("skew-safe plan never shuffles the fact side by a whole stratum") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // AQE's wrapper hides children from collect(); plan shape is the same
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val exchanges = try {
      val out = Sampling.tokenBudgetSampleSkewSafe(docs, Seq("grp"), "id",
        toks, lit(20L))
      out.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    // the fact-side prefix-sum window must exchange on (grp, __b) — a
    // two-expression key — so no reducer ever holds a whole stratum
    assert(exchanges.exists(_.outputPartitioning match {
      case h: HashPartitioning => h.expressions.size == 2
      case _ => false
    }), "expected a (grp, __b) fact exchange")
    // any single-key (grp-only) exchange must sit ABOVE an aggregate: that
    // is the tiny offsets table, never the fact rows
    exchanges.foreach { e =>
      e.outputPartitioning match {
        case h: HashPartitioning if h.expressions.size == 1 =>
          assert(e.child.toString.toLowerCase.contains("aggregate"),
            s"grp-only exchange over non-aggregated (fact-sized) input:\n$e")
        case _ =>
      }
    }
  }
}

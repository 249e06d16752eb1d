package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Stats

/** Round-3 statistical surface: Wilcoxon p-values (rank-sum + paired
  * signed-rank), confusion-derived stats, z-normalized RMSE, and the
  * kendall group-size rail. Golden values are textbook/scipy-asymptotic
  * hand-computations, independent of the engine's code path.
  */
class StatsR3Spec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("rankSumTest matches the hand-computed asymptotic Mann-Whitney result") {
    // A = {1,2}, B = {3,4}: ranks 1..4, R1 = 3, U = 0; mu = 2, tie = 0,
    // sigma = sqrt(4/12 * 5) = sqrt(5/3); z = (0 - 2 + 0.5)/sigma
    // (continuity correction toward 0) = -1.161895...; two-sided p =
    // erfc(|z|/sqrt 2) = 0.245278 (scipy mannwhitneyu method='asymptotic')
    val df = Seq(("g", "A", 1.0), ("g", "A", 2.0), ("g", "B", 3.0), ("g", "B", 4.0))
      .toDF("grp", "cls", "v")
    val r = Stats.rankSumTest(df, Seq("grp"), "cls", "A", "v").head()
    assert(r.getAs[Long]("n1") == 2 && r.getAs[Long]("n2") == 2)
    assert(r.getAs[Double]("u_stat") == 0.0)
    val z = r.getAs[Double]("z")
    assert(math.abs(z - (-1.1618950038622251)) < 1e-12, s"z=$z")
    val p = r.getAs[Double]("p_value")
    // A&S 7.1.26 |err| < 1.5e-7; golden from math.erfc
    val want = org.apache.commons.math3.special.Erf.erfc(1.1618950038622251 / math.sqrt(2.0))
    assert(math.abs(p - want) < 2e-7, s"p=$p want=$want")
  }

  test("rankSumTest applies the tie correction") {
    // pooled values with heavy ties: variance must shrink vs the no-tie
    // formula — check sigma via the closed form on a fixture where every
    // value appears twice: values {1,1,2,2,3,3}, A = one of each
    val df = Seq(("g", "A", 1.0), ("g", "B", 1.0), ("g", "A", 2.0),
      ("g", "B", 2.0), ("g", "A", 3.0), ("g", "B", 3.0)).toDF("grp", "cls", "v")
    val r = Stats.rankSumTest(df, Seq("grp"), "cls", "A", "v").head()
    // ranks: avg ranks (1.5,1.5),(3.5,3.5),(5.5,5.5); R1 = 10.5, U = 4.5
    assert(r.getAs[Double]("u_stat") == 4.5)
    // tie term: 3 runs of 2 -> sum(t^3 - t) = 18; sigma^2 =
    // (9/12)*((7) - 18/30) = 0.75 * 6.4 = 4.8
    val sigma = math.sqrt(4.8)
    val z = (4.5 - 4.5 - 0.0) / sigma // U = mu -> z = 0 (sign(0) kills the cc)
    assert(math.abs(r.getAs[Double]("z") - z) < 1e-12)
    assert(math.abs(r.getAs[Double]("p_value") - 1.0) < 2e-7)
  }

  test("signedRank matches the hand-computed paired Wilcoxon result") {
    // d = {+1, -2, +3, -4, +5}: |d| ranks 1..5, W = 1 + 3 + 5 = 9,
    // nr = 5, mu = 7.5, sigma^2 = 5*6*11/24 = 13.75,
    // z = (9 - 7.5 - 0.5)/sqrt(13.75) = 0.2696799449852968
    val df = Seq(("g", 2.0, 1.0), ("g", 1.0, 3.0), ("g", 6.0, 3.0),
      ("g", 0.0, 4.0), ("g", 10.0, 5.0), ("g", 7.0, 7.0)) // one zero pair: dropped
      .toDF("grp", "x", "y")
    val r = Stats.signedRank(df, Seq("grp"), "x", "y").head()
    assert(r.getAs[Long]("n_nonzero") == 5)
    assert(r.getAs[Double]("w_stat") == 9.0)
    assert(math.abs(r.getAs[Double]("z") - 0.2696799449852968) < 1e-12)
    val want = org.apache.commons.math3.special.Erf.erfc(0.2696799449852968 / math.sqrt(2.0))
    assert(math.abs(r.getAs[Double]("p_value") - want) < 2e-7)
  }

  test("signedRank sigma survives fact-scale groups (no Long wrap in the cubic)") {
    // nr*(nr+1)*(2nr+1) exceeds Long.MaxValue from nr ~ 1.67M: computed in
    // Long it wraps negative (ANSI off) and sqrt yields silent NaN z/p.
    // 1.7M distinct positive differences, no ties: closed-form check.
    val nr = 1700000L
    val df = spark.range(nr)
      .select(lit("g").as("grp"), (col("id") + 1).cast("double").as("x"),
        lit(0.0).as("y"))
    val r = Stats.signedRank(df, Seq("grp"), "x", "y").head()
    val nrd = nr.toDouble
    val w = nrd * (nrd + 1) / 2.0
    val z = (w - nrd * (nrd + 1) / 4.0 - 0.5) /
      math.sqrt(nrd * (nrd + 1) * (2 * nrd + 1) / 24.0)
    assert(r.getAs[Long]("n_nonzero") == nr)
    assert(!r.getAs[Double]("z").isNaN, "sigma wrapped negative -> NaN z")
    assert(math.abs(r.getAs[Double]("z") - z) / z < 1e-12)
    assert(r.getAs[Double]("p_value") >= 0.0) // NaN would fail this too
  }

  test("confusionStats derives accuracy/sensitivity/specificity/precision/kappa") {
    // tp=20 fp=10 fn=5 tn=15: po=0.7, pe=(30*25+20*25)/2500=0.5,
    // kappa=(0.7-0.5)/0.5=0.4, sens=0.8, spec=0.6, prec=2/3
    val rows = Seq.fill(20)((true, true)) ++ Seq.fill(10)((false, true)) ++
      Seq.fill(5)((true, false)) ++ Seq.fill(15)((false, false))
    val df = rows.zipWithIndex.map { case ((a, p), i) => ("g", a, p, i) }
      .toDF("grp", "act", "prd", "i")
    val r = Stats.confusionStats(df, Seq("grp"), col("act"), col("prd")).head()
    assert(r.getAs[Long]("tp") == 20 && r.getAs[Long]("fp") == 10 &&
      r.getAs[Long]("fn") == 5 && r.getAs[Long]("tn") == 15)
    assert(math.abs(r.getAs[Double]("accuracy") - 0.7) < 1e-12)
    assert(math.abs(r.getAs[Double]("sensitivity") - 0.8) < 1e-12)
    assert(math.abs(r.getAs[Double]("specificity") - 0.6) < 1e-12)
    assert(math.abs(r.getAs[Double]("precision") - 2.0 / 3.0) < 1e-12)
    assert(math.abs(r.getAs[Double]("kappa") - 0.4) < 1e-12)
  }

  test("confusionMulti matches caret's by-class stats and multi-class kappa") {
    // 3x3 matrix: diag (10,7,5), n=30, row sums (12,10,8), col sums (11,12,7)
    // po = 22/30, pe = (12*11 + 10*12 + 8*7)/900 = 77/225, kappa = 88/148
    val cells = Seq(("A", "A", 10), ("A", "B", 2), ("B", "A", 1),
      ("B", "B", 7), ("B", "C", 2), ("C", "B", 3), ("C", "C", 5))
    val rows = cells.flatMap { case (a, p, k) => Seq.fill(k)((a, p)) }
    val df = rows.zipWithIndex.map { case ((a, p), i) => ("g", a, p, i) }
      .toDF("grp", "act", "prd", "i")
    val r = Stats.confusionMulti(df, Seq("grp"), col("act"), col("prd"))
      .collect().map(x => x.getAs[String]("cls") -> x).toMap
    assert(r.keySet == Set("A", "B", "C"))
    def d(cls: String, c: String): Double = r(cls).getAs[Double](c)
    assert(r("A").getAs[Long]("tp") == 10 && r("A").getAs[Long]("n_actual") == 12
      && r("A").getAs[Long]("n_predicted") == 11)
    assert(math.abs(d("A", "sensitivity") - 10.0 / 12) < 1e-12)
    assert(math.abs(d("A", "specificity") - 17.0 / 18) < 1e-12)
    assert(math.abs(d("B", "sensitivity") - 0.7) < 1e-12)
    assert(math.abs(d("B", "specificity") - 0.75) < 1e-12)
    assert(math.abs(d("C", "sensitivity") - 5.0 / 8) < 1e-12)
    assert(math.abs(d("C", "specificity") - 10.0 / 11) < 1e-12)
    Seq("A", "B", "C").foreach { cls =>
      assert(math.abs(d(cls, "accuracy") - 22.0 / 30) < 1e-12)
      assert(math.abs(d(cls, "kappa") - 88.0 / 148) < 1e-12)
    }
    // caret's remaining by-class columns
    assert(math.abs(d("A", "precision") - 10.0 / 11) < 1e-12)
    assert(math.abs(d("B", "precision") - 7.0 / 12) < 1e-12)
    assert(math.abs(d("A", "f1") - 20.0 / 23) < 1e-12) // 2*10/(12+11)
    assert(math.abs(d("C", "f1") - 2.0 / 3) < 1e-12)   // 2*5/(8+7)
    assert(math.abs(d("A", "balanced_accuracy") - (10.0 / 12 + 17.0 / 18) / 2) < 1e-12)
    assert(math.abs(d("B", "balanced_accuracy") - 0.725) < 1e-12)
  }

  test("confusionMulti: predicted-only class joins the roster with null sensitivity") {
    val rows = Seq(("A", "A"), ("A", "A"), ("A", "D"), ("B", "B"))
    val df = rows.zipWithIndex.map { case ((a, p), i) => ("g", a, p, i) }
      .toDF("grp", "act", "prd", "i")
    val r = Stats.confusionMulti(df, Seq("grp"), col("act"), col("prd"))
      .collect().map(x => x.getAs[String]("cls") -> x).toMap
    assert(r.keySet == Set("A", "B", "D"))
    val dRow = r("D")
    assert(dRow.getAs[Long]("n_actual") == 0 && dRow.getAs[Long]("n_predicted") == 1
      && dRow.getAs[Long]("tp") == 0)
    assert(dRow.isNullAt(dRow.fieldIndex("sensitivity")))
    // specificity of the never-actual class = TN/(TN+FP) = 3/4
    assert(math.abs(dRow.getAs[Double]("specificity") - 0.75) < 1e-12)
    // predicted-but-never-actual: precision = 0/1 is caret-defined 0; f1 is
    // caret's NA (recall 0/0) -> null; balanced accuracy null-propagates
    // from the undefined sensitivity
    assert(dRow.getAs[Double]("precision") == 0.0)
    assert(dRow.isNullAt(dRow.fieldIndex("f1")))
    assert(dRow.isNullAt(dRow.fieldIndex("balanced_accuracy")))
  }

  test("zRmse equals rmse divided by the train-only sigma of obs") {
    val df = (0 until 1000).map { i =>
      val obs = (i % 97).toDouble
      val pred = obs + math.sin(i.toDouble) * 3.0
      ("g", pred, obs, i < 700) // first 700 rows are "train"
    }.toDF("grp", "pred", "obs", "is_train")
    val z = Stats.zRmse(df, Seq("grp"), "pred", "obs", col("is_train")).head()
    val plain = Stats.errorMetrics(df, Seq("grp"), "pred", "obs").head()
    val sigma = df.where(col("is_train")).agg(stddev_samp(col("obs"))).head().getDouble(0)
    assert(math.abs(z.getAs[Double]("rmse_z") - plain.getAs[Double]("rmse") / sigma) < 1e-12)
    assert(math.abs(z.getAs[Double]("mae_z") - plain.getAs[Double]("mae") / sigma) < 1e-12)
    // pearson is invariant under the affine standardization
    assert(math.abs(z.getAs[Double]("pearson") - plain.getAs[Double]("pearson")) < 1e-12)
  }

  test("exactRankSumP matches textbook permutation p-values") {
    // closed-form golden values (total = C(n1+n2, n1)):
    // U=0 extremes: p = 2/total; U=1 at 3v3: 2 subsets in the tail
    assert(math.abs(Stats.exactRankSumP(3, 3, 0.0) - 2.0 / 20) < 1e-12)
    assert(math.abs(Stats.exactRankSumP(4, 4, 0.0) - 2.0 / 70) < 1e-12)
    assert(math.abs(Stats.exactRankSumP(5, 5, 0.0) - 2.0 / 252) < 1e-12)
    assert(math.abs(Stats.exactRankSumP(3, 3, 1.0) - 4.0 / 20) < 1e-12)
    // symmetry: U = mn is as extreme as U = 0
    assert(math.abs(Stats.exactRankSumP(3, 3, 9.0) - 2.0 / 20) < 1e-12)
    // central U: R gives p = 1 (wilcox.test(c(1,4), c(2,3)))
    assert(Stats.exactRankSumP(2, 2, 2.0) == 1.0)
    // non-integral U means ties: must refuse
    intercept[IllegalArgumentException](Stats.exactRankSumP(3, 3, 1.5))
  }

  test("rankSumTestExact: exact for small tie-free groups, normal otherwise") {
    // group "s": tie-free 3v3 with U=0 -> exact p = 0.1
    // group "t": has a tie -> falls back to the normal approximation
    val small = Seq(("s", "A", 1.0), ("s", "A", 2.0), ("s", "A", 3.0),
      ("s", "B", 4.0), ("s", "B", 5.0), ("s", "B", 6.0),
      ("t", "A", 1.0), ("t", "A", 1.0), ("t", "A", 2.0),
      ("t", "B", 3.0), ("t", "B", 4.0), ("t", "B", 5.0))
      .toDF("grp", "cls", "v")
    val r = Stats.rankSumTestExact(small, Seq("grp"), "cls", "A", "v")
      .collect().map(x => x.getAs[String]("grp") ->
        ((x.getAs[String]("method"), x.getAs[Double]("p_value")))).toMap
    assert(r("s")._1 == "exact" && math.abs(r("s")._2 - 0.1) < 1e-12, s"got ${r("s")}")
    assert(r("t")._1 == "normal", s"got ${r("t")}")
    val normal = Stats.rankSumTest(small.where(col("grp") === "t"),
      Seq("grp"), "cls", "A", "v").head().getAs[Double]("p_value")
    assert(math.abs(r("t")._2 - normal) < 1e-12)
  }

  test("exact cutoff is strict: n = maxExact gets the normal approximation") {
    // R's wilcox.test switches to the approximation at exactly 50; with the
    // rail lowered to 4, a tie-free 4v3 group must report method=normal
    // while 3v3 stays exact
    val df = Seq(("a", "A", 1.0), ("a", "A", 2.0), ("a", "A", 3.0), ("a", "A", 7.0),
      ("a", "B", 4.0), ("a", "B", 5.0), ("a", "B", 6.0),
      ("b", "A", 1.0), ("b", "A", 2.0), ("b", "A", 3.0),
      ("b", "B", 4.0), ("b", "B", 5.0), ("b", "B", 6.0))
      .toDF("grp", "cls", "v")
    val r = Stats.rankSumTestExact(df, Seq("grp"), "cls", "A", "v", maxExact = 4)
      .collect().map(x => x.getAs[String]("grp") -> x.getAs[String]("method")).toMap
    assert(r == Map("a" -> "normal", "b" -> "exact"), s"got $r")
  }

  test("kendall fails fast with a clear error on a fact-scale group") {
    val df = spark.range(0, 5000).select(lit("g").as("grp"),
      col("id").cast("double").as("x"), (col("id") * 2).cast("double").as("y"))
    val e = intercept[Exception] {
      Stats.kendall(df, Seq("grp"), "x", "y", maxGroup = 1000).collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(e).exists(t =>
      Option(t.getMessage).exists(_.contains("maxGroup"))), s"got $e")
    // and the same data passes when the rail is raised
    val ok = Stats.kendall(df, Seq("grp"), "x", "y", maxGroup = 10000).head()
    assert(ok.getAs[Double]("kendall_tau") == 1.0)
  }

  test("adjustPValues matches R's p.adjust; significance matches rstatix stars") {
    val df = Seq(("g", 1, 0.01), ("g", 2, 0.02), ("g", 3, 0.02), ("g", 4, 0.30))
      .toDF("fam", "id", "p")
    def vals(m: String): Map[Int, Double] =
      Stats.adjustPValues(df, Seq("fam"), "p", m).collect()
        .map(r => r.getAs[Int]("id") -> r.getAs[Double]("p_adj")).toMap
    // R: p.adjust(c(.01,.02,.02,.3), "bonferroni") = 0.04 0.08 0.08 1.00
    val bonf = vals("bonferroni")
    assert(math.abs(bonf(1) - 0.04) < 1e-12 && math.abs(bonf(2) - 0.08) < 1e-12
      && bonf(4) == 1.0)
    // R: "holm" = 0.04 0.06 0.06 0.30 (step-down cummax)
    val holm = vals("holm")
    assert(math.abs(holm(1) - 0.04) < 1e-12)
    assert(math.abs(holm(2) - 0.06) < 1e-12 && math.abs(holm(3) - 0.06) < 1e-12)
    assert(math.abs(holm(4) - 0.30) < 1e-12)
    // R: "BH" = 0.02666667 0.02666667 0.02666667 0.30 (step-up cummin —
    // the tied 0.02s converge to the same value whatever the tiebreak)
    val bh = vals("BH")
    Seq(1, 2, 3).foreach(i => assert(math.abs(bh(i) - 0.08 / 3) < 1e-12))
    assert(math.abs(bh(4) - 0.30) < 1e-12)
    // R: "hochberg" = 0.04 0.04 0.04 0.30 (step-up cummin of (m-i+1)p —
    // tighter than holm's 0.06 on the tied pair, never above it)
    val hoch = vals("hochberg")
    Seq(1, 2, 3).foreach(i => assert(math.abs(hoch(i) - 0.04) < 1e-12))
    assert(math.abs(hoch(4) - 0.30) < 1e-12)
    // R: "BY" = BH × c(4) = (0.08/3)·(25/12) = 1/18, and 0.3·25/12 = 0.625
    val by = vals("BY")
    Seq(1, 2, 3).foreach(i => assert(math.abs(by(i) - 1.0 / 18) < 1e-12))
    assert(math.abs(by(4) - 0.625) < 1e-12)
    // "none" is the identity (R call-surface parity)
    assert(vals("none") == Map(1 -> 0.01, 2 -> 0.02, 3 -> 0.02, 4 -> 0.30))
    // families adjust independently (a singleton family is its own m = 1)
    val two = df.unionByName(Seq(("h", 9, 0.04)).toDF("fam", "id", "p"))
    assert(Stats.adjustPValues(two, Seq("fam"), "p", "BH")
      .where(col("id") === 9).head.getAs[Double]("p_adj") == 0.04)
    assert(Stats.adjustPValues(two, Seq("fam"), "p", "BY")
      .where(col("id") === 9).head.getAs[Double]("p_adj") == 0.04)
    intercept[IllegalArgumentException](
      Stats.adjustPValues(df, Seq("fam"), "p", "hommel"))
    // R's NA contract: null p is excluded from m and every rank, returns
    // null — and must not deflate the real rows' adjustments
    val withNull = Seq(("g", 1, Some(0.01)), ("g", 2, Some(0.04)),
      ("g", 3, None: Option[Double])).toDF("fam", "id", "p")
    def nvals(m: String): Map[Int, Option[Double]] =
      Stats.adjustPValues(withNull, Seq("fam"), "p", m).collect()
        .map(r => r.getAs[Int]("id") ->
          (if (r.isNullAt(r.fieldIndex("p_adj"))) None
           else Some(r.getAs[Double]("p_adj")))).toMap
    // R on c(.01,.04,NA): bonferroni .02/.08, holm .02/.04, BH .02/.04,
    // hochberg .02/.04, BY .03/.06 (c(2)=1.5) — NA everywhere third
    for ((m, e1, e2) <- Seq(("bonferroni", 0.02, 0.08), ("holm", 0.02, 0.04),
        ("BH", 0.02, 0.04), ("hochberg", 0.02, 0.04), ("BY", 0.03, 0.06))) {
      val v = nvals(m)
      assert(math.abs(v(1).get - e1) < 1e-12, s"$m id1: ${v(1)}")
      assert(math.abs(v(2).get - e2) < 1e-12, s"$m id2: ${v(2)}")
      assert(v(3).isEmpty, s"$m: null p must stay null")
    }
    // rstatix add_significance cutpoints
    val stars = Seq(0.00005, 0.0005, 0.005, 0.04, 0.2).toDF("p")
      .select(Stats.significance(col("p")).as("s")).collect().map(_.getString(0))
    assert(stars.toSeq == Seq("****", "***", "**", "*", "ns"))
  }
}

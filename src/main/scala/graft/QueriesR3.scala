package graft

import org.apache.spark.sql.functions._

import graft.functions.HouseRound
import graft.operators.Stats

/** Round-3 coverage queries: the statistical surface the round-2 verdict
  * named as the remaining real-user gaps — Wilcoxon p-values (rank-sum and
  * PAIRED signed-rank; `Fig-2C_D_plot_univariate.R:141-145`,
  * `Fig3_4_violin.R:96-100`), confusion-matrix derived statistics
  * (`crossvalidate.R:94`, `train_functions.R:187`), and the z-normalized
  * RMSE variant (`az_ml_make_table.R:30-36`). Conventions as in
  * [[QueriesRel]]; the normal CDF both engines use is the same
  * Abramowitz–Stegun erf polynomial, so the oracle replays it exactly.
  */
object QueriesR3 {

  import QuerySpec.t

  /** The A&S 7.1.26 two-sided p, spelled in ANSI SQL over a column `z`
    * (identical constants/structure to [[Stats.pTwoSided]]).
    */
  private def pSql(z: String): String =
    s"least(1.0, (((( 1.061405429 * (1.0/(1.0+0.3275911*(abs($z)/sqrt(2.0))))" +
      s" - 1.453152027) * (1.0/(1.0+0.3275911*(abs($z)/sqrt(2.0))))" +
      s" + 1.421413741) * (1.0/(1.0+0.3275911*(abs($z)/sqrt(2.0))))" +
      s" - 0.284496736) * (1.0/(1.0+0.3275911*(abs($z)/sqrt(2.0))))" +
      s" + 0.254829592) * (1.0/(1.0+0.3275911*(abs($z)/sqrt(2.0))))" +
      s" * exp(-(abs($z)/sqrt(2.0))*(abs($z)/sqrt(2.0))))"

  val specs: Seq[QuerySpec] = Seq(
    // ---- A13 full: rank-sum p-value (tie-corrected normal approx) ----------
    QuerySpec("a13_rank_sum_p", (s, d) =>
      Stats.rankSumTest(
        t(s, d, "lineitem").filter(col("l_returnflag").isin("A", "N")),
        Seq("l_linestatus"), "l_returnflag", "A", "l_quantity")
        .select(col("l_linestatus"), col("n1"), col("n2"),
          round(col("u_stat"), 2).as("u_stat"),
          HouseRound(col("z"), 4).as("z"),
          HouseRound(col("p_value"), 4).as("p_value")),
      s"""WITH f AS (SELECT l_linestatus, l_returnflag, l_quantity FROM lineitem
            WHERE l_returnflag IN ('A', 'N')),
          r AS (SELECT l_linestatus, l_returnflag,
              rank() OVER (PARTITION BY l_linestatus ORDER BY l_quantity)
                + (count(*) OVER (PARTITION BY l_linestatus, l_quantity) - 1) / 2.0 AS rk
            FROM f),
          u AS (SELECT l_linestatus,
              count(*) FILTER (WHERE l_returnflag = 'A') AS n1,
              count(*) FILTER (WHERE l_returnflag <> 'A') AS n2,
              sum(rk) FILTER (WHERE l_returnflag = 'A')
                - count(*) FILTER (WHERE l_returnflag = 'A')
                  * (count(*) FILTER (WHERE l_returnflag = 'A') + 1) / 2.0 AS u_stat
            FROM r GROUP BY 1),
          tie AS (SELECT l_linestatus,
              sum(CAST(tt AS DOUBLE) * tt * tt - tt) AS tie
            FROM (SELECT l_linestatus, l_quantity, count(*) AS tt FROM f GROUP BY 1, 2)
            GROUP BY 1),
          zc AS (SELECT u.l_linestatus, n1, n2, u_stat,
              (u_stat - n1 * n2 / 2.0 - sign(u_stat - n1 * n2 / 2.0) * 0.5)
                / sqrt(n1 * n2 / 12.0 * ((n1 + n2 + 1)
                    - tie / ((n1 + n2) * CAST(n1 + n2 - 1 AS DOUBLE)))) AS z
            FROM u JOIN tie USING (l_linestatus))
          SELECT l_linestatus, n1, n2, round(u_stat, 2) AS u_stat,
            ${HouseRound.sql("z", 4)} AS z,
            ${HouseRound.sql(pSql("z"), 4)} AS p_value
          FROM zc"""),

    // ---- A13 paired: signed-rank test over (pred, obs) pairs ----------------
    // d = qty*(1-disc)*(1+tax) - qty: sign varies with tax vs disc, zeros
    // (tax = disc = 0) exercise the zero-drop path
    QuerySpec("a13_signed_rank", (s, d) =>
      Stats.signedRank(
        t(s, d, "lineitem")
          .withColumn("pred", col("l_quantity") * (lit(1.0) - col("l_discount"))
            * (lit(1.0) + col("l_tax")))
          .withColumn("obs", col("l_quantity")),
        Seq("l_linestatus"), "pred", "obs")
        .select(col("l_linestatus"), col("n_nonzero"),
          round(col("w_stat"), 2).as("w_stat"),
          HouseRound(col("z"), 4).as("z"),
          HouseRound(col("p_value"), 4).as("p_value")),
      s"""WITH d0 AS (SELECT l_linestatus,
              l_quantity * (1.0 - l_discount) * (1.0 + l_tax) - l_quantity AS d
            FROM lineitem),
          d AS (SELECT l_linestatus, d, abs(d) AS ad FROM d0 WHERE d <> 0),
          r AS (SELECT l_linestatus, d,
              count(*) OVER (PARTITION BY l_linestatus, ad) AS tc,
              rank() OVER (PARTITION BY l_linestatus ORDER BY ad)
                + (count(*) OVER (PARTITION BY l_linestatus, ad) - 1) / 2.0 AS rk
            FROM d),
          a AS (SELECT l_linestatus,
              sum(CASE WHEN d > 0 THEN rk ELSE 0 END) AS w_stat,
              count(*) AS n_nonzero,
              sum(CAST(tc AS DOUBLE) * tc - 1) AS tie
            FROM r GROUP BY 1),
          zc AS (SELECT l_linestatus, w_stat, n_nonzero,
              (w_stat - n_nonzero * (n_nonzero + 1) / 4.0
                - sign(w_stat - n_nonzero * (n_nonzero + 1) / 4.0) * 0.5)
                / sqrt(n_nonzero * (n_nonzero + 1) * (2 * n_nonzero + 1) / 24.0
                    - tie / 48.0) AS z
            FROM a)
          SELECT l_linestatus, n_nonzero, round(w_stat, 2) AS w_stat,
            ${HouseRound.sql("z", 4)} AS z,
            ${HouseRound.sql(pSql("z"), 4)} AS p_value
          FROM zc"""),

    // ---- A13 exact: small-sample exact Mann-Whitney p (R's default) --------
    // fixture: nation keys of regions 0 vs 1 — 5 v 5, tie-free, so the
    // exact path triggers; the oracle recomputes U independently in SQL and
    // maps it through the PUBLISHED pwilcox(5,5) two-sided table (the same
    // textbook constants the StatsR3Spec goldens pin)
    QuerySpec("a13_rank_sum_exact", (s, d) =>
      Stats.rankSumTestExact(
        t(s, d, "nation").filter(col("n_regionkey").isin(0, 1))
          .withColumn("g", lit("all"))
          .withColumn("cls", when(col("n_regionkey") === 0, "A").otherwise("B"))
          .withColumn("v", col("n_nationkey").cast("double")),
        Seq("g"), "cls", "A", "v")
        .select(col("g"), col("n1"), col("n2"),
          round(col("u_stat"), 2).as("u_stat"), col("method"),
          HouseRound(col("p_value"), 6).as("p_value")),
      s"""WITH f AS (SELECT CASE WHEN n_regionkey = 0 THEN 'A' ELSE 'B' END AS cls,
             CAST(n_nationkey AS DOUBLE) AS v
           FROM nation WHERE n_regionkey IN (0, 1)),
          r AS (SELECT cls,
             rank() OVER (ORDER BY v)
               + (count(*) OVER (PARTITION BY v) - 1) / 2.0 AS rk FROM f),
          u0 AS (SELECT count(*) FILTER (WHERE cls = 'A') AS n1,
             count(*) FILTER (WHERE cls <> 'A') AS n2,
             sum(rk) FILTER (WHERE cls = 'A') AS r1 FROM r),
          u AS (SELECT n1, n2, r1 - n1 * (n1 + 1) / 2.0 AS u_stat FROM u0),
          k AS (SELECT *, CAST(least(u_stat, n1 * n2 - u_stat) AS INTEGER) AS kk FROM u)
          SELECT 'all' AS g, n1, n2, round(u_stat, 2) AS u_stat,
            'exact' AS method,
            ${HouseRound.sql("""CASE kk
              WHEN 0 THEN 0.007936507936507936 WHEN 1 THEN 0.015873015873015872
              WHEN 2 THEN 0.031746031746031744 WHEN 3 THEN 0.05555555555555555
              WHEN 4 THEN 0.09523809523809523 WHEN 5 THEN 0.15079365079365079
              WHEN 6 THEN 0.2222222222222222 WHEN 7 THEN 0.30952380952380953
              WHEN 8 THEN 0.42063492063492064 WHEN 9 THEN 0.5476190476190477
              WHEN 10 THEN 0.6904761904761905 WHEN 11 THEN 0.8412698412698413
              ELSE 1.0 END""", 6)} AS p_value
          FROM k"""),

    // ---- A12 derived: accuracy/sensitivity/specificity/precision/kappa -----
    QuerySpec("a12_confusion_stats", (s, d) =>
      Stats.confusionStats(
        t(s, d, "orders").withColumn("seg", pmod(col("o_custkey"), lit(3)).cast("int")),
        Seq("seg"),
        actual = col("o_orderstatus") === "F",
        predicted = col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select(col("seg"), col("tp"), col("fp"), col("fn"), col("tn"),
          HouseRound(col("accuracy"), 4).as("accuracy"),
          HouseRound(col("sensitivity"), 4).as("sensitivity"),
          HouseRound(col("specificity"), 4).as("specificity"),
          HouseRound(col("precision"), 4).as("precision"),
          HouseRound(col("kappa"), 4).as("kappa")),
      s"""WITH b AS (SELECT CAST(o_custkey % 3 AS INTEGER) AS seg,
            (o_orderstatus = 'F') AS act,
            (o_orderpriority IN ('1-URGENT', '2-HIGH')) AS prd FROM orders),
          c AS (SELECT seg,
              count(*) FILTER (WHERE act AND prd) AS tp,
              count(*) FILTER (WHERE NOT act AND prd) AS fp,
              count(*) FILTER (WHERE act AND NOT prd) AS fn,
              count(*) FILTER (WHERE NOT act AND NOT prd) AS tn
            FROM b GROUP BY 1),
          k AS (SELECT *,
              (tp + tn) / CAST(tp + fp + fn + tn AS DOUBLE) AS po,
              ((tp + fp) * (tp + fn) + (fn + tn) * (fp + tn))
                / (CAST(tp + fp + fn + tn AS DOUBLE)
                   * CAST(tp + fp + fn + tn AS DOUBLE)) AS pe
            FROM c)
          SELECT seg, tp, fp, fn, tn,
            ${HouseRound.sql("po", 4)} AS accuracy,
            ${HouseRound.sql("tp / CAST(tp + fn AS DOUBLE)", 4)} AS sensitivity,
            ${HouseRound.sql("tn / CAST(tn + fp AS DOUBLE)", 4)} AS specificity,
            ${HouseRound.sql("tp / CAST(tp + fp AS DOUBLE)", 4)} AS precision,
            ${HouseRound.sql("(po - pe) / (1.0 - pe)", 4)} AS kappa
          FROM k"""),

    // ---- A12 multi-class: k-level confusion, one-vs-rest stats, kappa ------
    // 3-class actual (order status F/O/P) vs a 3-class priority-derived
    // prediction — the caret-confusionMatrix-on-a-3-level-factor analog.
    // The pe sum is exact decimal, so every derived double is
    // parallelism-independent before the house rounding
    QuerySpec("a12_confusion_multi", (s, d) =>
      Stats.confusionMulti(
        t(s, d, "orders").withColumn("seg", pmod(col("o_custkey"), lit(2)).cast("int")),
        Seq("seg"),
        actual = col("o_orderstatus"),
        predicted = when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "F")
          .when(col("o_orderpriority") === "3-MEDIUM", "P")
          .otherwise("O"))
        .select(col("seg"), col("cls"), col("tp"), col("n_actual"),
          col("n_predicted"),
          HouseRound(col("sensitivity"), 4).as("sensitivity"),
          HouseRound(col("specificity"), 4).as("specificity"),
          HouseRound(col("precision"), 4).as("precision"),
          HouseRound(col("f1"), 4).as("f1"),
          HouseRound(col("balanced_accuracy"), 4).as("balanced_accuracy"),
          HouseRound(col("accuracy"), 4).as("accuracy"),
          HouseRound(col("kappa"), 4).as("kappa")),
      s"""WITH b AS (SELECT CAST(o_custkey % 2 AS INTEGER) AS seg,
            o_orderstatus AS a,
            CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'F'
                 WHEN o_orderpriority = '3-MEDIUM' THEN 'P'
                 ELSE 'O' END AS p
          FROM orders),
          cells AS (SELECT seg, a, p, count(*) AS n FROM b GROUP BY 1, 2, 3),
          acts AS (SELECT seg, a AS cls, CAST(sum(n) AS BIGINT) AS n_actual FROM cells GROUP BY 1, 2),
          prds AS (SELECT seg, p AS cls, CAST(sum(n) AS BIGINT) AS n_predicted FROM cells GROUP BY 1, 2),
          tps AS (SELECT seg, a AS cls, n AS tp FROM cells WHERE a = p),
          tots AS (SELECT seg, sum(n) AS ntot,
              sum(CASE WHEN a = p THEN n ELSE 0 END) AS diag
            FROM cells GROUP BY 1),
          j AS (SELECT COALESCE(acts.seg, prds.seg) AS seg,
              COALESCE(acts.cls, prds.cls) AS cls,
              COALESCE(n_actual, 0) AS n_actual,
              COALESCE(n_predicted, 0) AS n_predicted
            FROM acts FULL OUTER JOIN prds
              ON acts.seg = prds.seg AND acts.cls = prds.cls),
          k AS (SELECT j.seg, j.cls, j.n_actual, j.n_predicted,
              COALESCE(tps.tp, 0) AS tp, tots.ntot, tots.diag,
              CAST(sum(CAST(j.n_actual AS HUGEINT) * j.n_predicted)
                OVER (PARTITION BY j.seg) AS DOUBLE)
                / (CAST(tots.ntot AS DOUBLE) * tots.ntot) AS pe
            FROM j LEFT JOIN tps ON j.seg = tps.seg AND j.cls = tps.cls
              JOIN tots ON j.seg = tots.seg)
          SELECT seg, cls, tp, n_actual, n_predicted,
            ${HouseRound.sql("""CASE WHEN n_actual > 0
              THEN tp / CAST(n_actual AS DOUBLE) END""", 4)} AS sensitivity,
            ${HouseRound.sql("""CASE WHEN ntot > n_actual
              THEN (ntot - n_actual - n_predicted + tp)
                / CAST(ntot - n_actual AS DOUBLE) END""", 4)} AS specificity,
            ${HouseRound.sql("""CASE WHEN n_predicted > 0
              THEN tp / CAST(n_predicted AS DOUBLE) END""", 4)} AS precision,
            ${HouseRound.sql("""CASE WHEN tp > 0
              THEN 2.0 * tp / CAST(n_actual + n_predicted AS DOUBLE)
              END""", 4)} AS f1,
            ${HouseRound.sql("""CASE WHEN n_actual > 0 AND ntot > n_actual
              THEN (tp / CAST(n_actual AS DOUBLE)
                + (ntot - n_actual - n_predicted + tp)
                  / CAST(ntot - n_actual AS DOUBLE)) / 2 END""", 4)}
              AS balanced_accuracy,
            ${HouseRound.sql("diag / CAST(ntot AS DOUBLE)", 4)} AS accuracy,
            ${HouseRound.sql("(diag / CAST(ntot AS DOUBLE) - pe) / (1.0 - pe)", 4)} AS kappa
          FROM k"""),

    // ---- A13 multiple testing: p.adjust (bonferroni/holm/BH) + stars -------
    // the reference sweeps per-drug wilcox tests and feeds them through
    // adjust_pvalue/add_significance (Fig-2C_D_plot_univariate.R:144-145);
    // here the family is lang, the raw p a deterministic grid both engines
    // derive identically, and all three adjustments + the rstatix star
    // labels are replayed in SQL windows
    QuerySpec("a13_p_adjust", (s, d) => {
      val t0 = t(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          ((col("doc_id") * 7919 % 1000) + 1).cast("double")./(1000.0)
            .as("p_raw"))
      val adj = Seq(("BH", "p_bh"), ("holm", "p_holm"),
          ("bonferroni", "p_bonf"), ("hochberg", "p_hoch"), ("BY", "p_by"))
        .foldLeft(t0) { case (df, (m, c)) =>
          Stats.adjustPValues(df, Seq("lang"), "p_raw", m, c) }
      adj.withColumn("signif", Stats.significance(col("p_raw")))
        .select(col("doc_id"), col("lang"),
          HouseRound(col("p_raw"), 4).as("p_raw"),
          HouseRound(col("p_bh"), 4).as("p_bh"),
          HouseRound(col("p_holm"), 4).as("p_holm"),
          HouseRound(col("p_bonf"), 4).as("p_bonf"),
          HouseRound(col("p_hoch"), 4).as("p_hoch"),
          HouseRound(col("p_by"), 4).as("p_by"),
          col("signif"))
    },
      s"""WITH t AS (SELECT doc_id, lang,
            ((doc_id * 7919) % 1000 + 1) / 1000.0 AS p_raw FROM documents),
          w AS (SELECT doc_id, lang, p_raw,
            count(*) OVER (PARTITION BY lang) AS m,
            row_number() OVER (PARTITION BY lang ORDER BY p_raw DESC, doc_id) AS rd,
            row_number() OVER (PARTITION BY lang ORDER BY p_raw ASC, doc_id) AS ra
            FROM t),
          a AS (SELECT *,
            min(p_raw * m / (m - rd + 1)) OVER (PARTITION BY lang
              ORDER BY p_raw DESC, doc_id ROWS UNBOUNDED PRECEDING) AS bh0,
            max((m - ra + 1) * p_raw) OVER (PARTITION BY lang
              ORDER BY p_raw ASC, doc_id ROWS UNBOUNDED PRECEDING) AS holm0,
            min(rd * p_raw) OVER (PARTITION BY lang
              ORDER BY p_raw DESC, doc_id ROWS UNBOUNDED PRECEDING) AS hoch0,
            sum(1.0 / ra) OVER (PARTITION BY lang) AS cm
            FROM w)
          SELECT doc_id, lang, ${HouseRound.sql("p_raw", 4)} AS p_raw,
            ${HouseRound.sql("least(1.0, bh0)", 4)} AS p_bh,
            ${HouseRound.sql("least(1.0, holm0)", 4)} AS p_holm,
            ${HouseRound.sql("least(1.0, p_raw * m)", 4)} AS p_bonf,
            ${HouseRound.sql("least(1.0, hoch0)", 4)} AS p_hoch,
            ${HouseRound.sql("least(1.0, cm * bh0)", 4)} AS p_by,
            CASE WHEN p_raw <= 0.0001 THEN '****' WHEN p_raw <= 0.001 THEN '***'
                 WHEN p_raw <= 0.01 THEN '**' WHEN p_raw <= 0.05 THEN '*'
                 ELSE 'ns' END AS signif
          FROM a"""),

    // ---- A9 variant: z-normalized RMSE (train-only scaling of both sides) --
    QuerySpec("a9_zrmse", (s, d) =>
      Stats.zRmse(
        t(s, d, "lineitem")
          .withColumn("pred", col("l_quantity") * (lit(1.0) - col("l_discount")))
          .withColumn("obs", col("l_quantity")),
        Seq("l_returnflag"), "pred", "obs",
        trainPred = col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .select(col("l_returnflag"), HouseRound(col("rmse_z"), 4).as("rmse_z"),
          HouseRound(col("mae_z"), 4).as("mae_z"),
          HouseRound(col("pearson"), 4).as("pearson"), col("n")),
      s"""WITH t AS (SELECT l_returnflag,
            l_quantity * (1.0 - l_discount) AS pred, l_quantity AS obs,
            l_shipdate FROM lineitem),
          s AS (SELECT l_returnflag, avg(obs) AS mu, stddev_samp(obs) AS sigma
            FROM t WHERE l_shipdate < TIMESTAMP '1997-01-01' GROUP BY 1),
          z AS (SELECT t.l_returnflag,
              (pred - mu) / sigma AS pz, (obs - mu) / sigma AS oz
            FROM t JOIN s USING (l_returnflag) WHERE sigma > 0)
          SELECT l_returnflag,
            ${HouseRound.sql("sqrt(avg((pz - oz) * (pz - oz)))", 4)} AS rmse_z,
            ${HouseRound.sql("avg(abs(pz - oz))", 4)} AS mae_z,
            ${HouseRound.sql("corr(pz, oz)", 4)} AS pearson, count(*) AS n
          FROM z GROUP BY 1"""))
}

package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.HouseRound
import graft.operators.{Stats, Windows}

/** Aggregation + window/ordered operator queries (SURVEY.md §2.4–§2.5),
  * DuckDB-oracle'd. Naming/rounding conventions as in [[QueriesRel]].
  */
object QueriesAgg {

  import QuerySpec.t

  val specs: Seq[QuerySpec] = Seq(
    // ---- A1: replicate summarization per (entity, type) --------------------
    // mean/min/max + first/last by deterministic order (min_by/max_by)
    QuerySpec("a1_replicate_summary", (s, d) =>
      t(s, d, "events").groupBy(col("user_id"), col("event_type"))
        .agg(
          HouseRound(avg(col("value")), 4).as("mean_v"),
          round(min(col("value")), 4).as("min_v"),
          round(max(col("value")), 4).as("max_v"),
          round(min_by(col("value"), col("event_id")), 4).as("first_v"),
          round(max_by(col("value"), col("event_id")), 4).as("last_v"),
          count(lit(1)).as("n")),
      s"""SELECT user_id, event_type, ${HouseRound.sql("avg(value)", 4)} AS mean_v,
         round(min(value), 4) AS min_v, round(max(value), 4) AS max_v,
         round(arg_min(value, event_id), 4) AS first_v,
         round(arg_max(value, event_id), 4) AS last_v, count(*) AS n
         FROM events GROUP BY user_id, event_type"""),

    // ---- A3: per-group Pearson correlation with target ---------------------
    QuerySpec("a3_group_corr", (s, d) =>
      t(s, d, "lineitem").groupBy(col("l_returnflag"))
        .agg(HouseRound(corr(col("l_quantity"), col("l_extendedprice")), 4).as("pearson"),
          count(lit(1)).as("n")),
      s"""SELECT l_returnflag, ${HouseRound.sql("corr(l_quantity, l_extendedprice)", 4)} AS pearson,
         count(*) AS n FROM lineitem GROUP BY l_returnflag"""),

    // ---- A4: per-group Welch t-statistic between two classes ---------------
    QuerySpec("a4_welch_t", (s, d) =>
      Stats.welchT(t(s, d, "lineitem"), Seq("l_linestatus"),
        "l_returnflag", "A", "N", "l_quantity")
        .withColumn("t_stat", HouseRound(col("t_stat"), 4)),
      s"""WITH g AS (SELECT l_linestatus, l_returnflag, avg(l_quantity) m,
                    var_samp(l_quantity) v, count(*) n
                    FROM lineitem WHERE l_returnflag IN ('A', 'N')
                    GROUP BY 1, 2)
         SELECT a.l_linestatus,
                ${HouseRound.sql("(a.m - b.m) / sqrt(a.v / a.n + b.v / b.n)", 4)} AS t_stat,
                a.n AS n1, b.n AS n2
         FROM g a JOIN g b ON a.l_linestatus = b.l_linestatus
         WHERE a.l_returnflag = 'A' AND b.l_returnflag = 'N'"""),

    // ---- A7: mean ± CI per group -------------------------------------------
    QuerySpec("a7_mean_ci", (s, d) =>
      Stats.meanCi(t(s, d, "customer"), Seq("c_mktsegment"), "c_acctbal")
        .select(col("c_mktsegment"), HouseRound(col("mean"), 4).as("mean"),
          HouseRound(col("sd"), 4).as("sd"), col("n"),
          HouseRound(col("ci_lo"), 4).as("ci_lo"), HouseRound(col("ci_hi"), 4).as("ci_hi")),
      s"""SELECT c_mktsegment, ${HouseRound.sql("avg(c_acctbal)", 4)} AS mean,
         ${HouseRound.sql("stddev_samp(c_acctbal)", 4)} AS sd, count(*) AS n,
         ${HouseRound.sql("avg(c_acctbal) - 1.96 * stddev_samp(c_acctbal) / sqrt(count(*))", 4)} AS ci_lo,
         ${HouseRound.sql("avg(c_acctbal) + 1.96 * stddev_samp(c_acctbal) / sqrt(count(*))", 4)} AS ci_hi
         FROM customer GROUP BY c_mktsegment"""),

    // ---- A8: grouped mean difference via conditional agg (pivot diff) ------
    QuerySpec("a8_mean_diff", (s, d) =>
      t(s, d, "events").filter(col("event_type").isin("purchase", "view"))
        .groupBy(col("user_id"))
        .agg(
          HouseRound(avg(when(col("event_type") === "purchase", col("value"))), 4).as("mean_purchase"),
          HouseRound(avg(when(col("event_type") === "view", col("value"))), 4).as("mean_view"))
        .withColumn("diff", round(col("mean_purchase") - col("mean_view"), 4)),
      s"""SELECT user_id,
         ${HouseRound.sql("avg(value) FILTER (WHERE event_type = 'purchase')", 4)} AS mean_purchase,
         ${HouseRound.sql("avg(value) FILTER (WHERE event_type = 'view')", 4)} AS mean_view,
         round(${HouseRound.sql("avg(value) FILTER (WHERE event_type = 'purchase')", 4)}
             - ${HouseRound.sql("avg(value) FILTER (WHERE event_type = 'view')", 4)}, 4) AS diff
         FROM events WHERE event_type IN ('purchase', 'view') GROUP BY user_id"""),

    // ---- A9: error metrics (RMSE / MAE / pearson) --------------------------
    QuerySpec("a9_error_metrics", (s, d) =>
      Stats.errorMetrics(
        t(s, d, "lineitem")
          .withColumn("pred", col("l_quantity") * (lit(1.0) - col("l_discount")))
          .withColumn("obs", col("l_quantity")),
        Seq("l_returnflag"), "pred", "obs")
        .select(col("l_returnflag"), HouseRound(col("rmse"), 4).as("rmse"),
          HouseRound(col("mae"), 4).as("mae"), HouseRound(col("pearson"), 4).as("pearson"),
          col("n")),
      s"""WITH t AS (SELECT l_returnflag, l_quantity * (1.0 - l_discount) AS pred,
                    l_quantity AS obs FROM lineitem)
         SELECT l_returnflag, ${HouseRound.sql("sqrt(avg((pred - obs) * (pred - obs)))", 4)} AS rmse,
         ${HouseRound.sql("avg(abs(pred - obs))", 4)} AS mae,
         ${HouseRound.sql("corr(pred, obs)", 4)} AS pearson, count(*) AS n
         FROM t GROUP BY l_returnflag"""),

    // ---- A10: Spearman rank correlation per group --------------------------
    // round 6: l_quantity is a 50-value grid, so the x-rank comes from the
    // tiny (flag, qty) count aggregate instead of a second full-fact window
    // sort (2 fact sorts -> 1; bit-equal ranks, see Stats.spearmanGridX)
    QuerySpec("a10_spearman", (s, d) =>
      Stats.spearmanGridX(t(s, d, "lineitem"), Seq("l_returnflag"),
        "l_quantity", "l_extendedprice")
        .withColumn("spearman", HouseRound(col("spearman"), 4)),
      s"""WITH r AS (SELECT l_returnflag,
           rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
             + (count(*) OVER (PARTITION BY l_returnflag, l_quantity) - 1) / 2.0 AS rx,
           rank() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice)
             + (count(*) OVER (PARTITION BY l_returnflag, l_extendedprice) - 1) / 2.0 AS ry
           FROM lineitem)
         SELECT l_returnflag, ${HouseRound.sql("corr(rx, ry)", 4)} AS spearman
         FROM r GROUP BY l_returnflag"""),

    // ---- A11: correlation of value with its own rank position --------------
    QuerySpec("a11_rank_linearity", (s, d) => {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("value").desc, col("event_id"))
      t(s, d, "events").withColumn("rn", row_number().over(w))
        .groupBy(col("event_type"))
        .agg(HouseRound(corr(col("value"), col("rn")), 4).as("cor_rank"))
    },
      s"""WITH r AS (SELECT event_type, value,
           row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rn
           FROM events)
         SELECT event_type, ${HouseRound.sql("corr(value, rn)", 4)} AS cor_rank FROM r GROUP BY event_type"""),

    // ---- A12: confusion-matrix counts ---------------------------------------
    QuerySpec("a12_confusion", (s, d) =>
      t(s, d, "orders").groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n")),
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n
         FROM orders GROUP BY 1, 2"""),

    // ---- A13: Wilcoxon rank-sum U statistic ---------------------------------
    QuerySpec("a13_rank_sum_u", (s, d) =>
      Stats.rankSumU(
        t(s, d, "lineitem").filter(col("l_returnflag").isin("A", "N")),
        Seq("l_linestatus"), "l_returnflag", "A", "l_quantity")
        .withColumn("u_stat", round(col("u_stat"), 2)),
      """WITH f AS (SELECT * FROM lineitem WHERE l_returnflag IN ('A', 'N')),
         r AS (SELECT l_linestatus, l_returnflag,
           rank() OVER (PARTITION BY l_linestatus ORDER BY l_quantity)
             + (count(*) OVER (PARTITION BY l_linestatus, l_quantity) - 1) / 2.0 AS rk
           FROM f)
         SELECT l_linestatus,
           count(*) FILTER (WHERE l_returnflag = 'A') AS n1,
           count(*) FILTER (WHERE l_returnflag <> 'A') AS n2,
           round(sum(rk) FILTER (WHERE l_returnflag = 'A')
             - count(*) FILTER (WHERE l_returnflag = 'A')
               * (count(*) FILTER (WHERE l_returnflag = 'A') + 1) / 2.0, 2) AS u_stat
         FROM r GROUP BY l_linestatus"""),

    // ---- A14: closed-form linear fit per group ------------------------------
    QuerySpec("a14_linear_fit", (s, d) =>
      Stats.linearFit(t(s, d, "lineitem"), Seq("l_returnflag"),
        "l_quantity", "l_extendedprice")
        .select(col("l_returnflag"), HouseRound(col("slope"), 4).as("slope"),
          HouseRound(col("intercept"), 4).as("intercept"), col("n")),
      s"""SELECT l_returnflag,
         ${HouseRound.sql("covar_samp(l_quantity, l_extendedprice) / var_samp(l_quantity)", 4)} AS slope,
         ${HouseRound.sql("""avg(l_extendedprice) - covar_samp(l_quantity, l_extendedprice)
           / var_samp(l_quantity) * avg(l_quantity)""", 4)} AS intercept,
         count(*) AS n
         FROM lineitem GROUP BY l_returnflag"""),

    // ---- A15: min/max/exact-median/argmin/argmax ----------------------------
    QuerySpec("a15_order_stats", (s, d) =>
      t(s, d, "events").groupBy(col("event_type"))
        .agg(
          round(min(col("value")), 4).as("min_v"),
          round(max(col("value")), 4).as("max_v"),
          round(expr("percentile(value, 0.5)"), 4).as("median_v"),
          // arg* with a composite struct ordering: bare min_by/max_by are
          // NONDETERMINISTIC under value ties (surfaced at sf0.1, where two
          // rows share the max) — the tiebreak is "smallest event_id", so
          // the struct orders by (value, id) for argmin and (value, -id)
          // for argmax, still one map-side-combinable pass
          min_by(col("event_id"),
            struct(col("value"), col("event_id"))).as("argmin_id"),
          max_by(col("event_id"),
            struct(col("value"), (-col("event_id")).as("nid"))).as("argmax_id")),
      """WITH s AS (SELECT event_type, round(min(value), 4) AS min_v,
             round(max(value), 4) AS max_v,
             round(quantile_cont(value, 0.5), 4) AS median_v,
             min(value) AS mn, max(value) AS mx
           FROM events GROUP BY event_type)
         SELECT event_type, min_v, max_v, median_v,
           (SELECT min(e.event_id) FROM events e
             WHERE e.event_type = s.event_type AND e.value = s.mn) AS argmin_id,
           (SELECT min(e.event_id) FROM events e
             WHERE e.event_type = s.event_type AND e.value = s.mx) AS argmax_id
         FROM s"""),

    // ---- A16: distinct count after rounding ---------------------------------
    QuerySpec("a16_distinct_rounded", (s, d) =>
      t(s, d, "events").groupBy(col("event_type"))
        .agg(countDistinct(round(col("value"), 2)).as("n_distinct"),
          count(lit(1)).as("n")),
      """SELECT event_type, count(DISTINCT round(value, 2)) AS n_distinct,
         count(*) AS n FROM events GROUP BY event_type"""),

    // ---- A17: UNION ALL accumulation then re-aggregate ----------------------
    QuerySpec("a17_union_agg", (s, d) => {
      val ev = t(s, d, "events")
      val a = ev.filter(col("value") >= 50).groupBy(col("event_type"))
        .agg(HouseRound(avg(col("value")), 4).as("mean_v")).withColumn("half", lit("hi"))
      val b = ev.filter(col("value") < 50).groupBy(col("event_type"))
        .agg(HouseRound(avg(col("value")), 4).as("mean_v")).withColumn("half", lit("lo"))
      a.unionByName(b)
    },
      s"""SELECT event_type, ${HouseRound.sql("avg(value)", 4)} AS mean_v, 'hi' AS half
         FROM events WHERE value >= 50 GROUP BY event_type
         UNION ALL
         SELECT event_type, ${HouseRound.sql("avg(value)", 4)} AS mean_v, 'lo' AS half
         FROM events WHERE value < 50 GROUP BY event_type"""),

    // ---- W1/W2: top-k per group by metric ------------------------------------
    QuerySpec("w1_topk_per_group", (s, d) =>
      Windows.topKPerGroup(
        t(s, d, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice"), 2).as("price")),
        Seq("l_orderkey"), "price", 2, tie = Seq("l_linenumber")),
      """WITH t AS (SELECT l_orderkey, l_linenumber,
           round(l_extendedprice, 2) AS price FROM lineitem)
         SELECT l_orderkey, l_linenumber, price,
           CAST(row_number() OVER (PARTITION BY l_orderkey
             ORDER BY price DESC, l_linenumber) AS INTEGER) AS rank_in_group
         FROM t QUALIFY rank_in_group <= 2"""),

    // ---- W3: rank-ordered scan: rank + running share of group total ---------
    QuerySpec("w3_rank_scan", (s, d) => {
      val w = Window.partitionBy(col("l_returnflag"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "lineitem")
        .withColumn("rnk", row_number().over(w))
        .withColumn("run_sum", round(sum(col("l_extendedprice")).over(wRun), 2))
        .where(col("rnk") <= 10)
        .select(col("l_returnflag"), col("rnk"), col("run_sum"),
          round(col("l_extendedprice"), 2).as("price"))
    },
      """SELECT l_returnflag, rnk, run_sum, price FROM (
           SELECT l_returnflag,
             CAST(row_number() OVER w AS INTEGER) AS rnk,
             round(sum(l_extendedprice) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW), 2) AS run_sum,
             round(l_extendedprice, 2) AS price
           FROM lineitem
           WINDOW w AS (PARTITION BY l_returnflag
             ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber))
         WHERE rnk <= 10"""),

    // ---- W5: median split ----------------------------------------------------
    QuerySpec("w5_median_split", (s, d) => {
      val w = Window.partitionBy(col("c_nationkey"))
      t(s, d, "customer")
        .withColumn("med", expr("percentile(c_acctbal, 0.5)").over(w))
        .select(col("c_custkey"),
          when(col("c_acctbal") >= col("med"), "high").otherwise("low").as("half"))
    },
      """SELECT c_custkey,
         CASE WHEN c_acctbal >= quantile_cont(c_acctbal, 0.5)
           OVER (PARTITION BY c_nationkey) THEN 'high' ELSE 'low' END AS half
         FROM customer"""),

    // ---- W7: second-largest distinct value per group -------------------------
    QuerySpec("w7_second_largest", (s, d) => {
      val distinctVals = t(s, d, "events")
        .select(col("event_type"), round(col("value"), 4).as("v")).distinct()
      val w = Window.partitionBy(col("event_type")).orderBy(col("v").desc)
      distinctVals.withColumn("dr", dense_rank().over(w))
        .where(col("dr") === 2).select(col("event_type"), col("v").as("second_v"))
    },
      """WITH dv AS (SELECT DISTINCT event_type, round(value, 4) AS v FROM events)
         SELECT event_type, v AS second_v FROM (
           SELECT event_type, v, dense_rank() OVER
             (PARTITION BY event_type ORDER BY v DESC) AS dr FROM dv)
         WHERE dr = 2"""),

    // ---- graft W: lag/lead over entity time order ----------------------------
    QuerySpec("w_lag_lead", (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, d, "events")
        .withColumn("prev_v", round(lag(col("value"), 1).over(w), 4))
        .withColumn("next_v", round(lead(col("value"), 1).over(w), 4))
        .select(col("event_id"), col("user_id"), col("prev_v"), col("next_v"))
    },
      """SELECT event_id, user_id,
         round(lag(value, 1) OVER w, 4) AS prev_v,
         round(lead(value, 1) OVER w, 4) AS next_v
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"""),

    // ---- graft W: rolling backfill (last non-null carried forward) -----------
    QuerySpec("w_backfill", (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "events")
        .withColumn("purchase_v",
          when(col("event_type") === "purchase", col("value")))
        .withColumn("last_purchase_v",
          round(last(col("purchase_v"), ignoreNulls = true).over(w), 4))
        .select(col("event_id"), col("user_id"), col("last_purchase_v"))
    },
      """SELECT event_id, user_id,
         round(last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS last_purchase_v
         FROM events"""),

    // ---- graft W: gap-based sessionization ------------------------------------
    QuerySpec("w_sessionize", (s, d) => {
      val ev = t(s, d, "events")
        .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
      Windows.sessionize(ev, "user_id", "ts_us", gapMs = 3600L * 1000000L,
          tie = Seq("event_id"))
        .select(col("event_id"), col("user_id"), col("session_idx"))
    },
      """WITH g AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
           epoch_us(ts) - lag(epoch_us(ts), 1) OVER
             (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap
           FROM events)
         SELECT event_id, user_id,
           CAST(sum(CASE WHEN gap IS NULL OR gap > 3600000000 THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
             AS BIGINT) AS session_idx
         FROM g"""),

    // ---- graft W: running (past-only) aggregate -------------------------------
    QuerySpec("w_running_sum", (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "events")
        .withColumn("run_sum", round(sum(col("value")).over(w), 4))
        .withColumn("run_n", count(lit(1)).over(w))
        .select(col("event_id"), col("user_id"), col("run_sum"), col("run_n"))
    },
      """SELECT event_id, user_id,
         round(sum(value) OVER w, 4) AS run_sum,
         count(*) OVER w AS run_n
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"""),

    // ---- F10/M6: leakage-safe z-score (train-only stats applied to all) ------
    QuerySpec("f10_zscore_trainonly", (s, d) =>
      Stats.zscoreTrainOnly(
        t(s, d, "lineitem"), Seq("l_returnflag"), "l_extendedprice",
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_linenumber"),
          // + 0.0 canonicalizes IEEE negative zero (-0.0 + 0.0 = 0.0); DuckDB
          // emits -0.0 for 2 rows at sf0.1 where Spark emits 0.0 and the
          // driver's hash is sign-sensitive (round-1 hash FAIL root cause)
          (HouseRound(col("l_extendedprice_z"), 4) + lit(0.0)).as("z")),
      s"""WITH stats AS (SELECT l_returnflag, avg(l_extendedprice) AS mu,
           stddev_samp(l_extendedprice) AS sigma
           FROM lineitem WHERE l_shipdate < TIMESTAMP '1997-01-01'
           GROUP BY l_returnflag)
         SELECT l.l_orderkey, l.l_linenumber,
           CASE WHEN s.sigma > 0
             THEN ${HouseRound.sql("(l.l_extendedprice - s.mu) / s.sigma", 4)} + 0.0 END AS z
         FROM lineitem l LEFT JOIN stats s ON l.l_returnflag = s.l_returnflag"""),

    // ---- R1: pivot long→wide via conditional aggregation ----------------------
    QuerySpec("r1_pivot_counts", (s, d) =>
      t(s, d, "orders").groupBy(col("o_orderpriority"))
        .agg(
          count(when(col("o_orderstatus") === "F", 1)).as("n_f"),
          count(when(col("o_orderstatus") === "O", 1)).as("n_o"),
          count(when(col("o_orderstatus") === "P", 1)).as("n_p")),
      """SELECT o_orderpriority,
         count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
         count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
         count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
         FROM orders GROUP BY o_orderpriority"""),

    // ---- R2: melt wide→long (unpivot) ------------------------------------------
    QuerySpec("r2_melt", (s, d) =>
      t(s, d, "supplier")
        .withColumn("acctbal", round(col("s_acctbal"), 2))
        .withColumn("nationkey", col("s_nationkey").cast("double"))
        .unpivot(Array(col("s_suppkey")), Array(col("acctbal"), col("nationkey")),
          "metric", "val"),
      """SELECT s_suppkey, 'acctbal' AS metric, round(s_acctbal, 2) AS val FROM supplier
         UNION ALL
         SELECT s_suppkey, 'nationkey' AS metric, CAST(s_nationkey AS DOUBLE) AS val
         FROM supplier"""))
}

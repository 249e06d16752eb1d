package graft

import org.apache.spark.sql.functions._

import graft.functions.HouseRound
import graft.operators.AsOf

/** Relational operator queries (SURVEY.md §2.2–§2.7) over the driver's
  * TPC-H-ish testdata, each [[QuerySpec]] in [[QueriesRel.specs]] carrying
  * its DuckDB oracle.
  *
  * Conventions shared with the oracles (driver hash-compares values after
  * sorting columns by name):
  *  - every aggregate/computed column is aliased identically on both sides;
  *  - doubles are rounded (4–6 dp) on BOTH sides so engine-order float
  *    summation differences cannot flip the hash;
  *  - timestamps are emitted as epoch micros (unix_micros / epoch_us);
  *  - integer sums are cast to BIGINT on both sides (DuckDB sums to HUGEINT).
  */
object QueriesRel {

  import QuerySpec.t

  val specs: Seq[QuerySpec] = Seq(
    // ---- S1/A5: flagship scan+aggregate (TPC-H Q1 shape) ------------------
    QuerySpec("q1_pricing_summary", (s, d) => {
      t(s, d, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          // Sums accumulate in DECIMAL, not DOUBLE: the cast recovers the
          // exact 2dp/4dp grid value per row (double ulp error << 5e-5), and
          // decimal addition is exact AND associative, so the rounded result
          // is identical at every partition layout and in the oracle engine.
          // A double sum here carries ~1e-4-scale order-dependent error at
          // sf0.1 magnitudes — enough to flip round(·, 2) when a group's
          // true sum lands on a half-cent boundary (the r4 failure class).
          round(sum(col("l_quantity").cast("decimal(18,4)")).cast("double"), 2).as("sum_qty"),
          round(sum(col("l_extendedprice").cast("decimal(18,4)")).cast("double"), 2).as("sum_base_price"),
          round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,4)")).cast("double"), 2).as("sum_disc_price"),
          HouseRound(avg(col("l_quantity")), 4).as("avg_qty"),
          HouseRound(avg(col("l_discount")), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
    },
      s"""SELECT l_returnflag, l_linestatus,
         round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_qty,
         round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_base_price,
         round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_disc_price,
         ${HouseRound.sql("CAST(avg(l_quantity) AS DOUBLE)", 4)} AS avg_qty,
         ${HouseRound.sql("CAST(avg(l_discount) AS DOUBLE)", 4)} AS avg_disc,
         count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
         GROUP BY l_returnflag, l_linestatus"""),

    // ---- S1: projection+filter pushed to the parquet scan -----------------
    QuerySpec("s1_scan_prune", (s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_quantity") > 45)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_quantity"), 2).as("qty")),
      """SELECT l_orderkey, l_linenumber, round(l_quantity, 2) AS qty
         FROM lineitem WHERE l_quantity > 45"""),

    // ---- P1/P3: projection + rename ---------------------------------------
    QuerySpec("p1_project_rename", (s, d) =>
      t(s, d, "part").select(col("p_partkey").as("pk"),
        lower(col("p_name")).as("name_lc"), col("p_size").as("size")),
      "SELECT p_partkey AS pk, lower(p_name) AS name_lc, p_size AS size FROM part"),

    // ---- P4: null-response filter -----------------------------------------
    QuerySpec("p4_null_filter", (s, d) =>
      t(s, d, "events")
        .filter(col("value").isNotNull && col("props").isNotNull)
        .select(col("event_id"), round(col("value"), 4).as("value")),
      """SELECT event_id, round(value, 4) AS value FROM events
         WHERE value IS NOT NULL AND props IS NOT NULL"""),

    // ---- P6: zero-variance feature filter ---------------------------------
    QuerySpec("p6_variance_filter", (s, d) =>
      t(s, d, "lineitem").groupBy(col("l_partkey"))
        .agg(HouseRound(var_samp(col("l_quantity")), 4).as("var_qty"),
          count(lit(1)).as("n"))
        .filter(col("var_qty") > 0),
      s"""SELECT l_partkey, ${HouseRound.sql("var_samp(l_quantity)", 4)} AS var_qty, count(*) AS n
         FROM lineitem GROUP BY l_partkey HAVING var_samp(l_quantity) > 0"""),

    // ---- P7: low-information feature filter -------------------------------
    QuerySpec("p7_low_info_filter", (s, d) =>
      t(s, d, "events").groupBy(col("event_type"))
        .agg(countDistinct(round(col("value"), 1)).as("n_distinct"))
        .filter(col("n_distinct") > 5),
      """SELECT event_type, count(DISTINCT round(value, 1)) AS n_distinct
         FROM events GROUP BY event_type HAVING count(DISTINCT round(value, 1)) > 5"""),

    // ---- P8: category NOT-IN filter ----------------------------------------
    QuerySpec("p8_notin_filter", (s, d) =>
      t(s, d, "customer")
        .filter(!col("c_mktsegment").isin("AUTOMOBILE", "BUILDING"))
        .select(col("c_custkey"), col("c_mktsegment")),
      """SELECT c_custkey, c_mktsegment FROM customer
         WHERE c_mktsegment NOT IN ('AUTOMOBILE', 'BUILDING')"""),

    // ---- P9: threshold predicate -------------------------------------------
    QuerySpec("p9_threshold_filter", (s, d) =>
      t(s, d, "part").filter(col("p_retailprice") < 950.0)
        .select(col("p_partkey"), round(col("p_retailprice"), 2).as("price")),
      """SELECT p_partkey, round(p_retailprice, 2) AS price FROM part
         WHERE p_retailprice < 950.0"""),

    // ---- P10: regex blacklist filter ---------------------------------------
    QuerySpec("p10_regex_filter", (s, d) =>
      t(s, d, "part").filter(!col("p_type").rlike("BRASS|COPPER"))
        .select(col("p_partkey"), col("p_type")),
      """SELECT p_partkey, p_type FROM part
         WHERE NOT regexp_matches(p_type, 'BRASS|COPPER')"""),

    // ---- P11/J5/J7: membership via broadcast left-semi join ----------------
    QuerySpec("p11_semi_join", (s, d) => {
      val rich = t(s, d, "customer").filter(col("c_acctbal") > 5000)
      t(s, d, "orders")
        .join(broadcast(rich), col("o_custkey") === col("c_custkey"), "left_semi")
        .select(col("o_orderkey"), col("o_custkey"))
    },
      """SELECT o_orderkey, o_custkey FROM orders WHERE o_custkey IN
         (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)"""),

    // ---- P12/J6: anti-membership join --------------------------------------
    QuerySpec("p12_anti_join", (s, d) =>
      t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name")),
      """SELECT c_custkey, c_name FROM customer WHERE c_custkey NOT IN
         (SELECT o_custkey FROM orders)"""),

    // ---- P14/F7: boolean mask recode ---------------------------------------
    QuerySpec("p14_mask_recode", (s, d) =>
      t(s, d, "orders").select(col("o_orderkey"),
        when(col("o_orderstatus") === "F", 1).otherwise(0).as("is_final"),
        when(col("o_totalprice") >= 150000, "big").otherwise("small").as("bucket")),
      """SELECT o_orderkey,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS is_final,
         CASE WHEN o_totalprice >= 150000 THEN 'big' ELSE 'small' END AS bucket
         FROM orders"""),

    // ---- P15: min-count group filter (HAVING) ------------------------------
    QuerySpec("p15_having_count", (s, d) =>
      t(s, d, "orders").groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"))
        .filter(col("n_orders") >= 12),
      """SELECT o_custkey, count(*) AS n_orders FROM orders
         GROUP BY o_custkey HAVING count(*) >= 12"""),

    // ---- J1: inner equi-join fact⋈fact -------------------------------------
    QuerySpec("j1_inner_join", (s, d) =>
      t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .filter(col("o_totalprice") > 400000)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice"), 2).as("price"), col("o_orderstatus")),
      """SELECT l_orderkey, l_linenumber, round(l_extendedprice, 2) AS price,
         o_orderstatus FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE o_totalprice > 400000"""),

    // ---- J2: composite-key join --------------------------------------------
    QuerySpec("j2_composite_join", (s, d) => {
      val li = t(s, d, "lineitem")
      val a = li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"))
      val b = li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(HouseRound(avg(col("l_discount")), 4).as("avg_disc"))
      a.join(b, Seq("l_returnflag", "l_linestatus"))
    },
      s"""WITH a AS (SELECT l_returnflag, l_linestatus,
                    round(CAST(sum(l_quantity) AS DOUBLE), 2) AS sum_qty
                    FROM lineitem GROUP BY 1, 2),
              b AS (SELECT l_returnflag, l_linestatus,
                    ${HouseRound.sql("CAST(avg(l_discount) AS DOUBLE)", 4)} AS avg_disc
                    FROM lineitem GROUP BY 1, 2)
         SELECT a.l_returnflag, a.l_linestatus, a.sum_qty, b.avg_disc
         FROM a JOIN b USING (l_returnflag, l_linestatus)"""),

    // ---- J3: key-aligned left lookup with missing-key fill -----------------
    QuerySpec("j3_left_lookup", (s, d) =>
      t(s, d, "orders")
        .join(t(s, d, "customer").filter(col("c_acctbal") > 9000),
          col("o_custkey") === col("c_custkey"), "left")
        .select(col("o_orderkey"),
          coalesce(col("c_name"), lit("missing")).as("cname")),
      """SELECT o_orderkey, coalesce(c_name, 'missing') AS cname
         FROM orders LEFT JOIN (SELECT * FROM customer WHERE c_acctbal > 9000) c
         ON o_custkey = c_custkey"""),

    // ---- J7: broadcast dim join --------------------------------------------
    QuerySpec("j7_broadcast_dim", (s, d) =>
      t(s, d, "nation")
        .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .select(col("n_name"), col("r_name")),
      "SELECT n_name, r_name FROM nation JOIN region ON n_regionkey = r_regionkey"),

    // ---- J8: as-of join (the engine core) on the events stream -------------
    // for each purchase, the most recent click of the same user at/earlier ts
    QuerySpec("j8_asof_join", (s, d) => {
      val ev = t(s, d, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          unix_micros(col("ts").cast("timestamp")).as("p_us"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), unix_micros(col("ts").cast("timestamp")).as("c_us"),
          col("event_id").as("click_id"), round(col("value"), 4).as("click_value"))
      AsOf.join(purchases, clicks, entity = "user_id", probeTime = "p_us",
          eventTime = "c_us", attach = Seq("click_id", "click_value"),
          tie = Some("click_id"))
        .select(col("purchase_id"), col("user_id"),
          col("asof_click_id").as("click_id"),
          col("asof_click_value").as("click_value"))
    },
      """WITH purchases AS (
           SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS p_us
           FROM events WHERE event_type = 'purchase'),
         clicks AS (
           SELECT user_id, epoch_us(ts) AS c_us, event_id AS click_id,
                  round(value, 4) AS click_value
           FROM events WHERE event_type = 'click')
         SELECT p.purchase_id, p.user_id, c.click_id, c.click_value
         FROM purchases p ASOF LEFT JOIN clicks c
         ON p.user_id = c.user_id AND p.p_us >= c.c_us"""),

    // ---- SET1/SET2/SET3 -----------------------------------------------------
    QuerySpec("set1_intersect", (s, d) =>
      t(s, d, "orders").select(col("o_custkey").as("custkey")).distinct()
        .intersect(t(s, d, "customer").filter(col("c_acctbal") > 3000)
          .select(col("c_custkey").as("custkey"))),
      """SELECT DISTINCT o_custkey AS custkey FROM orders
         INTERSECT
         SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 3000"""),

    QuerySpec("set2_except", (s, d) =>
      t(s, d, "customer").select(col("c_custkey").as("custkey")).distinct()
        .except(t(s, d, "orders").select(col("o_custkey").as("custkey"))),
      """SELECT DISTINCT c_custkey AS custkey FROM customer
         EXCEPT SELECT o_custkey AS custkey FROM orders"""),

    QuerySpec("set3_union_distinct", (s, d) =>
      t(s, d, "events").filter(col("value") > 90)
        .select(col("event_type"))
        .union(t(s, d, "events").filter(col("value") < 5).select(col("event_type")))
        .distinct(),
      """SELECT DISTINCT event_type FROM (
         SELECT event_type FROM events WHERE value > 90
         UNION ALL
         SELECT event_type FROM events WHERE value < 5)"""))
}

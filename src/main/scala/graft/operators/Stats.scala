package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Grouped statistical aggregations from the reference (SURVEY.md §2.4),
  * expressed as Spark partial+final hash aggregations and window functions —
  * no UDAFs, everything codegen'd and map-side-combinable.
  */
object Stats {

  /** Per-group Welch t-statistic between two classes of `value`
    * (`train_functions.R:82-88`): t = (m1-m2)/sqrt(v1/n1 + v2/n2).
    * Returns (group..., t_stat, n_1, n_2).
    */
  def welchT(df: DataFrame, group: Seq[String], classCol: String,
      classA: String, classB: String, value: String): DataFrame = {
    val g = df.filter(col(classCol).isin(classA, classB))
      .groupBy((group.map(col) :+ col(classCol)): _*)
      .agg(avg(col(value)).as("m"), var_samp(col(value)).as("v"), count(lit(1)).as("n"))
    val a = g.filter(col(classCol) === classA)
      .select((group.map(col) :+ col("m").as("m1") :+ col("v").as("v1") :+ col("n").as("n1")): _*)
    val b = g.filter(col(classCol) === classB)
      .select((group.map(col) :+ col("m").as("m2") :+ col("v").as("v2") :+ col("n").as("n2")): _*)
    a.join(b, group, "inner")
      .withColumn("t_stat",
        (col("m1") - col("m2")) / sqrt(col("v1") / col("n1") + col("v2") / col("n2")))
      .select((group.map(col) :+ col("t_stat")
        :+ col("n1") :+ col("n2")): _*)
  }

  /** Spearman rank correlation per group: Pearson corr of within-group ranks.
    * Average-rank tie handling (matches DuckDB/R `method="spearman"` when we
    * use rank + mean-of-ranks correction): here we use dense positional ranks
    * via `rank()` which averages ties by construction of corr over ranks.
    */
  /** Average ("fractional") rank of `c` within `group`: rank() gives
    * min-rank for ties; average rank = min rank + (peers-1)/2. The peer
    * count comes from a RANGE CURRENT ROW..CURRENT ROW frame over the SAME
    * ordered window as the rank — Spark folds both into one WindowExec, so
    * an average-ranked column costs exactly ONE shuffle+sort (a
    * partitionBy(group, c) tie window would add a second exchange).
    */
  private def avgRankCol(group: Seq[String], c: Column): Column = {
    val w = Window.partitionBy(group.map(col): _*).orderBy(c)
    val peers = w.rangeBetween(Window.currentRow, Window.currentRow)
    rank().over(w) + (count(lit(1)).over(peers) - 1) / 2.0
  }

  def spearman(df: DataFrame, group: Seq[String], x: String, y: String,
      as: String = "spearman"): DataFrame =
    df.withColumn("__rx", avgRankCol(group, col(x)))
      .withColumn("__ry", avgRankCol(group, col(y)))
      .groupBy(group.map(col): _*)
      .agg(corr(col("__rx"), col("__ry")).as(as))

  /** [[spearman]] twin for a GRID-valued x (a bounded value vocabulary:
    * quantities, star ratings, bucketed scores): the x-rank comes from a
    * map-side-combined (group, x) count aggregate — tiny by the grid
    * precondition — prefix-summed over that tiny table and broadcast back,
    * so the fact table pays ONE window sort (the continuous y) instead of
    * two. The average rank is algebraically the window form's own:
    * rank() = (rows strictly below) + 1 and the RANGE-frame peer count is
    * the grid cell count, so __rx = (lt + 1) + (cnt - 1)/2.0 is the same
    * double bit for bit (integers below 2^53). Beyond `maxGridRows` —
    * i.e. x was not grid-valued after all — falls back to the two-window
    * form rather than building a fact-sized broadcast. The grid aggregate
    * is Caches-persisted: the rail probe and the join both consume it.
    *
    * Scale note: the two-window form serializes each group into one
    * partition TWICE; at fact scale with few groups the second sort is a
    * straggler (guide §2.5). This twin removes the x sort outright — the
    * remaining y window is inherent to exact ranking.
    */
  def spearmanGridX(df: DataFrame, group: Seq[String], x: String, y: String,
      as: String = "spearman", maxGridRows: Int = 1 << 20): DataFrame = {
    val keys = group :+ x
    val grid = Caches.cache(
      df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__cnt")))
    if (grid.limit(maxGridRows + 1).count() > maxGridRows)
      return spearman(df, group, x, y, as)
    // exclusive prefix of counts in x order within each group, over the
    // TINY grid only (never the fact table)
    val wLt = Window.partitionBy(group.map(col): _*).orderBy(col(x))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = grid
      .withColumn("__lt", coalesce(sum(col("__cnt")).over(wLt), lit(0L)))
      .select((keys.map(c => col(c).as(s"__g_$c")) :+
        ((col("__lt") + lit(1L)).cast("double") +
          (col("__cnt") - lit(1L)) / lit(2.0)).as("__rx")): _*)
    // null-safe equality: a null group/x cell is a cell (the window form
    // ranks it; a bare equi-join would drop it)
    val cond = keys.map(c => col(c) <=> col(s"__g_$c")).reduce(_ && _)
    df.join(broadcast(ranked), cond)
      .withColumn("__ry", avgRankCol(group, col(y)))
      .groupBy(group.map(col): _*)
      .agg(corr(col("__rx"), col("__ry")).as(as))
  }

  /** Closed-form simple linear regression per group
    * (`helper/computeInteractionMatrix.R:66-67`): slope/intercept of y~x.
    */
  def linearFit(df: DataFrame, group: Seq[String], x: String, y: String): DataFrame =
    df.groupBy(group.map(col): _*)
      .agg(
        (covar_samp(col(x), col(y)) / var_samp(col(x))).as("slope"),
        (avg(col(y)) - covar_samp(col(x), col(y)) / var_samp(col(x)) * avg(col(x)))
          .as("intercept"),
        count(lit(1)).as("n"))

  /** Mean ± normal-approx confidence interval per group
    * (`Fig_supp_table.R:41-63`). z defaults to 1.96 (95%); use
    * [[meanCiLevel]] for an arbitrary confidence level via qnorm.
    */
  def meanCi(df: DataFrame, group: Seq[String], value: String, z: Double = 1.96): DataFrame =
    df.groupBy(group.map(col): _*)
      .agg(avg(col(value)).as("mean"), stddev_samp(col(value)).as("sd"),
        count(lit(1)).as("n"))
      .withColumn("ci_lo", col("mean") - lit(z) * col("sd") / sqrt(col("n")))
      .withColumn("ci_hi", col("mean") + lit(z) * col("sd") / sqrt(col("n")))

  /** meanCi at an arbitrary confidence level: z = qnorm(1 - (1-level)/2),
    * computed once on the driver (a scalar plan literal — reference analog:
    * `qnorm(0.975)` multipliers in `Fig_supp_table.R:48-50`).
    */
  def meanCiLevel(df: DataFrame, group: Seq[String], value: String,
      level: Double): DataFrame =
    meanCi(df, group, value, z = qnorm(1.0 - (1.0 - level) / 2.0))

  /** Inverse standard-normal CDF (quantile function), Acklam's rational
    * approximation (public algorithm; |relative error| < 1.15e-9 across
    * (0,1)). Deterministic scalar — used for CI multipliers, never in the
    * per-row hot path.
    */
  def qnorm(p: Double): Double = {
    require(p > 0.0 && p < 1.0, s"qnorm domain is (0,1), got $p")
    val a = Array(-3.969683028665376e+01, 2.209460984245205e+02,
      -2.759285104469687e+02, 1.383577518672690e+02,
      -3.066479806614716e+01, 2.506628277459239e+00)
    val b = Array(-5.447609879822406e+01, 1.615858368580409e+02,
      -1.556989798598866e+02, 6.680131188771972e+01, -1.328068155288572e+01)
    val c = Array(-7.784894002430293e-03, -3.223964580411365e-01,
      -2.400758277161838e+00, -2.549732539343734e+00,
      4.374664141464968e+00, 2.938163982698783e+00)
    val d = Array(7.784695709041462e-03, 3.224671290700398e-01,
      2.445134137142996e+00, 3.754408661907416e+00)
    val pl = 0.02425
    if (p < pl) {
      val q = math.sqrt(-2.0 * math.log(p))
      (((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
        ((((d(0) * q + d(1)) * q + d(2)) * q + d(3)) * q + 1.0)
    } else if (p <= 1.0 - pl) {
      val q = p - 0.5
      val r = q * q
      (((((a(0) * r + a(1)) * r + a(2)) * r + a(3)) * r + a(4)) * r + a(5)) * q /
        (((((b(0) * r + b(1)) * r + b(2)) * r + b(3)) * r + b(4)) * r + 1.0)
    } else {
      val q = math.sqrt(-2.0 * math.log(1.0 - p))
      -(((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
        ((((d(0) * q + d(1)) * q + d(2)) * q + d(3)) * q + 1.0)
    }
  }

  /** Kendall's tau-b per group (reference: EN notebook cell 13 `kendalltau`,
    * `az_ml_models.R:33-35`): collect the group's (x, y) pairs via a
    * map-side-combinable collect_list, then Knight's O(n log n) algorithm
    * (merge-sort discordance count) in a single typed pass.
    * tau_b = (C - D) / sqrt((n0 - n1)(n0 - n2)) with the scipy tie handling.
    * Scale note: per-group state is O(group size) — intended for the
    * reference's per-feature statistical groups, not fact-scale groups.
    * `maxGroup` is the hard rail for that intent: a group larger than it
    * fails FAST with a clear error instead of buffering an executor into
    * OOM (2M pairs ≈ 32 MB of doubles per group — already far beyond any
    * statistical group; fact-scale keys mean the wrong operator was picked).
    */
  def kendall(df: DataFrame, group: Seq[String], x: String, y: String,
      as: String = "kendall_tau", maxGroup: Int = 2000000): DataFrame = {
    val ktau = udaf(new KendallAgg(maxGroup),
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaDouble,
        org.apache.spark.sql.Encoders.scalaDouble))
    df.groupBy(group.map(col): _*)
      .agg(ktau(col(x).cast("double"), col(y).cast("double")).as(as),
        count(lit(1)).as("n"))
      .select((group.map(col) :+ col(as) :+ col("n")): _*)
  }

  /** Growable (x, y) pair buffer for [[KendallAgg]]; kryo-serialized between
    * partial and final aggregation.
    */
  final class KendallBuf(var xs: Array[Double], var ys: Array[Double],
      var n: Int) extends Serializable

  /** Typed Aggregator behind [[kendall]]: buffers the group's pairs with a
    * hard size rail checked ON EVERY INSERT — a fact-scale group fails fast
    * with a clear error instead of buffering an executor toward OOM (the
    * collect_list formulation only failed after the buffer was built).
    */
  private final class KendallAgg(bound: Int)
      extends org.apache.spark.sql.expressions.Aggregator[(Double, Double), KendallBuf, Double] {
    private def oversize(n: Int): Nothing =
      throw new IllegalStateException(
        s"Stats.kendall: group exceeds maxGroup=$bound rows (at $n). kendall " +
          "buffers each group in executor memory (Knight's algorithm is " +
          "inherently per-group); a group this size is fact-scale, not a " +
          "statistical group — pre-aggregate or raise maxGroup deliberately.")
    def zero: KendallBuf = new KendallBuf(new Array[Double](8), new Array[Double](8), 0)
    def reduce(b: KendallBuf, a: (Double, Double)): KendallBuf = {
      if (b.n >= bound) oversize(b.n + 1)
      if (b.n == b.xs.length) {
        val cap = b.xs.length * 2
        b.xs = java.util.Arrays.copyOf(b.xs, cap)
        b.ys = java.util.Arrays.copyOf(b.ys, cap)
      }
      b.xs(b.n) = a._1; b.ys(b.n) = a._2; b.n += 1
      b
    }
    def merge(a: KendallBuf, b: KendallBuf): KendallBuf = {
      if (a.n + b.n > bound) oversize(a.n + b.n)
      val xs = java.util.Arrays.copyOf(a.xs, a.n + b.n)
      val ys = java.util.Arrays.copyOf(a.ys, a.n + b.n)
      System.arraycopy(b.xs, 0, xs, a.n, b.n)
      System.arraycopy(b.ys, 0, ys, a.n, b.n)
      new KendallBuf(xs, ys, a.n + b.n)
    }
    def finish(b: KendallBuf): Double = {
      val n = b.n
      if (n < 2) Double.NaN
      else {
        val idx = (0 until n).sortBy(i => (b.xs(i), b.ys(i)))
        val xs = new Array[Double](n)
        val ys = new Array[Double](n)
        var k = 0
        while (k < n) { xs(k) = b.xs(idx(k)); ys(k) = b.ys(idx(k)); k += 1 }
        tauBSorted(xs, ys)
      }
    }
    def bufferEncoder: org.apache.spark.sql.Encoder[KendallBuf] =
      org.apache.spark.sql.Encoders.kryo[KendallBuf]
    def outputEncoder: org.apache.spark.sql.Encoder[Double] =
      org.apache.spark.sql.Encoders.scalaDouble
  }

  /** tau-b over arrays pre-sorted by (x, y): xtie/ytie/joint-tie run counts
    * plus merge-sort discordance (# pairs with x strictly ordered and y
    * strictly inverted).
    */
  private def tauBSorted(xs: Array[Double], ys: Array[Double]): Double = {
    val n = xs.length
    def tieSum(runEq: (Int, Int) => Boolean): Long = {
      var s = 0L; var i = 0
      while (i < n) {
        var j = i + 1
        while (j < n && runEq(i, j)) j += 1
        val t = (j - i).toLong
        s += t * (t - 1) / 2
        i = j
      }
      s
    }
    val xtie = tieSum((i, j) => xs(i) == xs(j))
    val ntie = tieSum((i, j) => xs(i) == xs(j) && ys(i) == ys(j))
    // ytie needs y-sorted order
    val ysorted = ys.clone().sorted
    var ytie = 0L
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n && ysorted(i) == ysorted(j)) j += 1
      val t = (j - i).toLong
      ytie += t * (t - 1) / 2
      i = j
    }
    // discordant pairs: merge-sort inversion count on ys (strict >)
    val buf = new Array[Double](n)
    def countInv(arr: Array[Double], lo: Int, hi: Int): Long = {
      if (hi - lo < 2) 0L
      else {
        val mid = (lo + hi) / 2
        var inv = countInv(arr, lo, mid) + countInv(arr, mid, hi)
        var a = lo; var b = mid; var o = lo
        while (a < mid && b < hi) {
          if (arr(b) < arr(a)) { inv += (mid - a).toLong; buf(o) = arr(b); b += 1 }
          else { buf(o) = arr(a); a += 1 }
          o += 1
        }
        while (a < mid) { buf(o) = arr(a); a += 1; o += 1 }
        while (b < hi) { buf(o) = arr(b); b += 1; o += 1 }
        System.arraycopy(buf, lo, arr, lo, hi - lo)
        inv
      }
    }
    val dis = countInv(ys.clone(), 0, n)
    val tot = n.toLong * (n - 1) / 2
    val denom = math.sqrt((tot - xtie).toDouble * (tot - ytie).toDouble)
    if (denom == 0.0) Double.NaN
    else (tot - xtie - ytie + ntie - 2 * dis) / denom
  }

  /** Leakage-safe z-score scaling (reference F10/M6,
    * `train_functions.R:144-146`): stats computed ONLY on rows where
    * `trainPred` holds (the "past"/train partition), then applied to ALL
    * rows via a broadcastable stats join — never refit on the apply side.
    */
  def zscoreTrainOnly(df: DataFrame, group: Seq[String], value: String,
      trainPred: Column): DataFrame = {
    val stats = df.filter(trainPred)
      .groupBy(group.map(col): _*)
      .agg(avg(col(value)).as("__mu"), stddev_samp(col(value)).as("__sigma"))
    df.join(broadcast(stats), group, "left")
      .withColumn(s"${value}_z",
        when(col("__sigma") > 0, (col(value) - col("__mu")) / col("__sigma")))
      .drop("__mu", "__sigma")
  }

  /** Error metrics between prediction and observation per group
    * (`az_ml_models.R:32-40`): rmse, mae, pearson.
    */
  def errorMetrics(df: DataFrame, group: Seq[String], pred: String, obs: String): DataFrame =
    df.groupBy(group.map(col): _*)
      .agg(
        sqrt(avg(pow(col(pred) - col(obs), 2))).as("rmse"),
        avg(abs(col(pred) - col(obs))).as("mae"),
        corr(col(pred), col(obs)).as("pearson"),
        count(lit(1)).as("n"))

  /** Wilcoxon rank-sum (Mann-Whitney U) statistic of `value` between two
    * classes, per group (`Fig-2C_D_plot_univariate.R:86`): U = R1 - n1(n1+1)/2
    * with average ranks over the pooled sample.
    */
  def rankSumU(df: DataFrame, group: Seq[String], classCol: String,
      classA: String, value: String): DataFrame = {
    df.withColumn("__r", avgRankCol(group, col(value)))
      .groupBy(group.map(col): _*)
      .agg(
        sum(when(col(classCol) === classA, col("__r"))).as("__r1"),
        count(when(col(classCol) === classA, 1)).as("n1"),
        count(when(col(classCol) =!= classA, 1)).as("n2"))
      .withColumn("u_stat", col("__r1") - col("n1") * (col("n1") + 1) / 2.0)
      .drop("__r1")
  }

  /** Two-sided normal-approximation p-value from a z column:
    * p = erfc(|z|/sqrt(2)), via the Abramowitz–Stegun 7.1.26 erf polynomial
    * (public formula, |abs err| < 1.5e-7) — pure column arithmetic, codegen'd,
    * and exactly re-expressible in ANSI SQL for the oracle.
    */
  def pTwoSided(z: Column): Column = {
    val x = abs(z) / math.sqrt(2.0)
    val t = lit(1.0) / (lit(1.0) + lit(0.3275911) * x)
    // Horner over t, multiplied by exp(-x^2): erfc(x) for x >= 0
    val poly = ((((lit(1.061405429) * t + lit(-1.453152027)) * t
      + lit(1.421413741)) * t + lit(-0.284496736)) * t + lit(0.254829592)) * t
    least(lit(1.0), poly * exp(-x * x))
  }

  /** Full Wilcoxon rank-sum (Mann–Whitney) test per group — the reference
    * consumes the p-value, not just U (`Fig-2C_D_plot_univariate.R:141-145`
    * `wilcox_test` + `add_significance`): normal approximation with the
    * standard tie-corrected variance and continuity correction (R
    * `wilcox.test` default `correct = TRUE`):
    * mu = n1 n2 / 2, sigma^2 = (n1 n2 / 12)((n+1) - sum(t^3 - t)/(n(n-1))),
    * z = (U - mu - sign(U - mu)/2) / sigma, p = erfc(|z|/sqrt 2).
    * The tie term is one extra map-side-combinable aggregation over
    * (group, value) — same shuffle key family, no new scan.
    */
  def rankSumTest(df: DataFrame, group: Seq[String], classCol: String,
      classA: String, value: String): DataFrame = {
    val u = rankSumU(df, group, classCol, classA, value)
    // the cube MUST run in double: a tie run over ~2.09M rows cubed in Long
    // silently wraps (ANSI off) and corrupts sigma exactly at fact scale;
    // the DuckDB oracle casts before cubing too, so the engines stay equal
    val ties = df.groupBy((group.map(col) :+ col(value)): _*)
      .agg(count(lit(1)).as("__t"))
      .groupBy(group.map(col): _*)
      .agg(sum(col("__t").cast("double") * col("__t") * col("__t") - col("__t"))
        .as("__tie"))
    // n1/n2 in double before the products for the same Long-wrap safety
    // as the tie cube (n1*n2 and n*(n-1) wrap at ~3e9-row groups)
    val n1d = col("n1").cast("double")
    val n2d = col("n2").cast("double")
    val n = n1d + n2d
    val mu = n1d * n2d / 2.0
    val sigma = sqrt(n1d * n2d / 12.0 *
      ((n + 1) - col("__tie") / (n * (n - 1))))
    val diff = col("u_stat") - mu
    val z = (diff - signum(diff) * 0.5) / sigma
    u.join(ties, group)
      .withColumn("z", z)
      .withColumn("p_value", pTwoSided(col("z")))
      .drop("__tie")
  }

  /** Exact two-sided Mann–Whitney p-value for the NO-TIES case (the
    * default R `wilcox.test` takes when both samples are < 50 and tie-free
    * — the reference's `rstatix::wilcox_test` path): counts rank-subsets by
    * the standard cwilcox recurrence c(u; m, n) = c(u-n; m-1, n) +
    * c(u; m, n-1), then p = min(1, 2·P(tail)) with R's exact tail split
    * (upper tail from u when U > mn/2). Driver/executor scalar — O(m·n·u)
    * memoized, fine for the statistical group sizes exact inference is
    * defined for.
    */
  def exactRankSumP(n1: Int, n2: Int, u: Double): Double = {
    require(n1 > 0 && n2 > 0, "exactRankSumP needs both samples non-empty")
    require(u == math.rint(u), s"U=$u is not integral — ties present; use the normal approximation")
    // boxed value type on purpose: a [Long, Double] map would unbox a miss
    // (null) to 0.0 and poison every count
    val memo = new java.util.HashMap[java.lang.Long, java.lang.Double]()
    def c(k: Int, m: Int, n: Int): Double = {
      if (k < 0 || k > m.toLong * n) 0.0
      else if (m == 0 || n == 0) { if (k == 0) 1.0 else 0.0 }
      else {
        val key = java.lang.Long.valueOf((k.toLong << 24) ^ (m.toLong << 12) ^ n.toLong)
        val hit = memo.get(key)
        if (hit ne null) hit.doubleValue()
        else {
          val v = c(k - n, m - 1, n) + c(k, m, n - 1)
          memo.put(key, java.lang.Double.valueOf(v))
          v
        }
      }
    }
    val mn = n1.toLong * n2
    val total = (1 to n1).foldLeft(1.0)((acc, i) => acc * (n2 + i) / i) // C(n1+n2, n1)
    val ui = math.rint(u).toLong
    val p0 =
      if (ui > mn / 2.0) { // upper tail: P(U >= u) = P(U <= mn - u) by symmetry
        (0L to (mn - ui)).map(k => c(k.toInt, n1, n2)).sum / total
      } else {
        (0L to ui).map(k => c(k.toInt, n1, n2)).sum / total
      }
    math.min(1.0, 2.0 * p0)
  }

  /** [[rankSumTest]] with R's default small-sample behavior: when both
    * classes have STRICTLY fewer than `maxExact` rows (R's `wilcox.test`
    * switches on `n.x < 50 && n.y < 50` — exactly 50 gets the
    * approximation) AND the pooled values are tie-free, the p-value is the
    * EXACT permutation p (via [[exactRankSumP]]); otherwise the
    * tie-corrected normal approximation. `method` records which was used
    * per group.
    */
  def rankSumTestExact(df: DataFrame, group: Seq[String], classCol: String,
      classA: String, value: String, maxExact: Int = 50): DataFrame = {
    val base = rankSumTest(df, group, classCol, classA, value)
    val ties = df.groupBy((group.map(col) :+ col(value)): _*)
      .agg(count(lit(1)).as("__t"))
      .groupBy(group.map(col): _*)
      .agg(max(col("__t")).as("__maxt"))
    val pe = udf((n1: Long, n2: Long, u: Double) =>
      exactRankSumP(n1.toInt, n2.toInt, u))
    val exactOk = col("n1") < maxExact && col("n2") < maxExact &&
      col("n1") > 0 && col("n2") > 0 && col("__maxt") === 1
    base.join(ties, group)
      .withColumn("method", when(exactOk, lit("exact")).otherwise(lit("normal")))
      .withColumn("p_value",
        when(exactOk, pe(col("n1"), col("n2"), col("u_stat")))
          .otherwise(col("p_value")))
      .drop("__maxt")
  }

  /** Paired Wilcoxon signed-rank test per group
    * (`Fig3_4_violin.R:96-100` `method = "wilcox.test", paired = TRUE`):
    * d = x - y per pair, zeros dropped (R's default zero handling), |d|
    * average-ranked within the group, W = sum of ranks where d > 0.
    * Normal approximation with tie correction and continuity correction:
    * mu = nr(nr+1)/4, sigma^2 = nr(nr+1)(2nr+1)/24 - sum(t^3 - t)/48,
    * z = (W - mu - sign(W - mu)/2)/sigma, p = erfc(|z|/sqrt 2).
    * Same shapes as [[rankSumTest]]: two windows + one grouped agg, all
    * keyed on the group columns.
    */
  def signedRank(df: DataFrame, group: Seq[String], x: String,
      y: String): DataFrame = {
    val d = df.withColumn("__d", col(x) - col(y))
      .where(col("__d") =!= 0.0)
      .withColumn("__ad", abs(col("__d")))
    // rank + peer count share ONE ordered window (see avgRankCol): the
    // whole ranking costs a single shuffle+sort
    val w = Window.partitionBy(group.map(col): _*).orderBy(col("__ad"))
    val peers = w.rangeBetween(Window.currentRow, Window.currentRow)
    val ranked = d
      .withColumn("__tc", count(lit(1)).over(peers))
      .withColumn("__r", rank().over(w) + (col("__tc") - 1) / 2.0)
    // each row of a size-t tie run contributes t^2 - 1; summed over the run
    // that is t^3 - t, so the group sum is exactly sum(t^3 - t) over runs
    val agg = ranked.groupBy(group.map(col): _*)
      .agg(
        sum(when(col("__d") > 0, col("__r")).otherwise(lit(0.0))).as("w_stat"),
        count(lit(1)).as("n_nonzero"),
        // double before squaring — same Long-wrap hazard as rankSumTest's
        // cube for fact-scale tie runs; matches the oracle's CAST
        sum(col("__tc").cast("double") * col("__tc") - 1).as("__tie"))
    // n in double BEFORE the cubic: nr*(nr+1)*(2nr+1) wraps Long at
    // nr ~ 1.67M nonzero diffs — earlier than the tie term's ~2.09M —
    // and a wrapped negative under sqrt yields silent NaN z/p (ANSI off)
    val nr = col("n_nonzero").cast("double")
    val mu = nr * (nr + 1) / 4.0
    val sigma = sqrt(nr * (nr + 1) * (nr * 2 + 1) / 24.0 - col("__tie") / 48.0)
    val diff = col("w_stat") - mu
    agg
      .withColumn("z", (diff - signum(diff) * 0.5) / sigma)
      .withColumn("p_value", pTwoSided(col("z")))
      .drop("__tie")
  }

  /** Derived statistics from a binary confusion matrix per group — the
    * reference consumes `confusionMatrix`'s accuracy/sensitivity/specificity/
    * kappa, not the raw counts (`crossvalidate.R:94`,
    * `train_functions.R:187`). `actual`/`predicted` are boolean columns
    * ("positive" = true). Pure conditional-count aggregation + column
    * arithmetic over the 2×2 — one map-side-combinable pass.
    */
  def confusionStats(df: DataFrame, group: Seq[String], actual: Column,
      predicted: Column): DataFrame = {
    val agg = df.groupBy(group.map(col): _*)
      .agg(
        count(when(actual && predicted, 1)).as("tp"),
        count(when(!actual && predicted, 1)).as("fp"),
        count(when(actual && !predicted, 1)).as("fn"),
        count(when(!actual && !predicted, 1)).as("tn"))
    val n = (col("tp") + col("fp") + col("fn") + col("tn")).cast("double")
    val po = (col("tp") + col("tn")) / n
    val pe = ((col("tp") + col("fp")) * (col("tp") + col("fn"))
      + (col("fn") + col("tn")) * (col("fp") + col("tn"))) / (n * n)
    agg
      .withColumn("accuracy", po)
      .withColumn("sensitivity", col("tp") / (col("tp") + col("fn")))
      .withColumn("specificity", col("tn") / (col("tn") + col("fp")))
      .withColumn("precision", col("tp") / (col("tp") + col("fp")))
      .withColumn("kappa", (po - pe) / (lit(1.0) - pe))
  }

  /** Multi-class confusion statistics per group — caret's `confusionMatrix`
    * on a k-level factor (the reference's interaction coding carries the
    * 3-level resistant/intermediate/sensitive factor into it,
    * `helper/computeInteractionMatrix.R:57,155-162`, consumed at
    * `crossvalidate.R:94`): one row per (group, class) with the one-vs-rest
    * sensitivity/specificity ("Statistics by Class") plus the group-level
    * overall accuracy and multi-class Cohen's kappa
    * (po = sum_k tp_k / n, pe = sum_k n_actual_k·n_predicted_k / n²,
    * kappa = (po − pe)/(1 − pe)) repeated on each class row. Also caret's
    * remaining by-class columns: precision (pos pred value, null when the
    * class is never predicted — caret's NA), f1 (= 2·tp/(n_actual +
    * n_predicted) when tp > 0; null when tp = 0, which is exactly caret's
    * NA surface there — precision NA for a never-predicted class, recall
    * NA for a predicted-only class, and P = R = 0 → 0/0 → NA otherwise),
    * and balanced_accuracy ((sensitivity + specificity)/2,
    * null-propagating like caret's NA).
    *
    * Scale shape: ONE map-side-combinable aggregation over the fact table
    * (k² cells per group); everything after operates on cell counts —
    * three tiny re-aggregations, two coalescing joins, and a window over
    * the ≤k class rows per group. The expected-agreement numerator
    * Σ n_actual_k·n_predicted_k sums in decimal(38,0): Long overflows at
    * n ~ 10^12 × k-class margins (10^24-scale products) and a double sum
    * is partial-aggregation-ORDER-sensitive — round 4 measured exactly
    * that, a different partition count flipping a 4-dp rounding boundary
    * of kappa. Decimal is both exact and associative, so kappa is
    * bit-identical at any parallelism.
    */
  def confusionMulti(df: DataFrame, group: Seq[String], actual: Column,
      predicted: Column): DataFrame = {
    val g = group.map(col)
    val cells = df.groupBy((g :+ actual.as("__a") :+ predicted.as("__p")): _*)
      .agg(count(lit(1)).as("__n"))
    val key = group :+ "cls"
    val actuals = cells.groupBy((g :+ col("__a").as("cls")): _*)
      .agg(sum("__n").as("n_actual"))
    val preds = cells.groupBy((g :+ col("__p").as("cls")): _*)
      .agg(sum("__n").as("n_predicted"))
    val tps = cells.where(col("__a") === col("__p"))
      .select((g :+ col("__a").as("cls") :+ col("__n").as("tp")): _*)
    val totals = cells.groupBy(g: _*)
      .agg(sum("__n").as("__ntot"),
        sum(when(col("__a") === col("__p"), col("__n")).otherwise(lit(0L)))
          .as("__diag"))
    val wG = org.apache.spark.sql.expressions.Window
      .partitionBy(group.map(col): _*)
    val n = col("__ntot").cast("double")
    val po = col("__diag") / n
    val pe = sum((col("n_actual").cast("decimal(19,0)") *
        col("n_predicted").cast("decimal(19,0)")).cast("decimal(38,0)"))
      .over(wG).cast("double") / (n * n)
    actuals
      .join(preds, key, "full_outer")
      .join(tps, key, "left_outer")
      .na.fill(0L, Seq("n_actual", "n_predicted", "tp"))
      .join(totals, group)
      .withColumn("sensitivity",
        when(col("n_actual") > 0, col("tp") / col("n_actual").cast("double")))
      .withColumn("specificity",
        when(col("__ntot") > col("n_actual"),
          (col("__ntot") - col("n_actual") - col("n_predicted") + col("tp")) /
            (col("__ntot") - col("n_actual")).cast("double")))
      .withColumn("precision",
        when(col("n_predicted") > 0, col("tp") / col("n_predicted").cast("double")))
      .withColumn("f1",
        when(col("tp") > 0, lit(2.0) * col("tp") /
          (col("n_actual") + col("n_predicted")).cast("double")))
      .withColumn("balanced_accuracy",
        (col("sensitivity") + col("specificity")) / 2.0)
      .withColumn("accuracy", po)
      .withColumn("kappa", (po - pe) / (lit(1.0) - pe))
      .drop("__ntot", "__diag")
  }

  /** rstatix `add_significance` star labels (the reference annotates every
    * wilcox p with them, `Fig-2C_D_plot_univariate.R:87,145`): **** ≤ 1e-4,
    * *** ≤ 1e-3, ** ≤ 0.01, * ≤ 0.05, ns otherwise. Null p → null.
    */
  def significance(p: Column): Column =
    when(p.isNull, lit(null).cast("string"))
      .when(p <= 1e-4, "****").when(p <= 1e-3, "***")
      .when(p <= 0.01, "**").when(p <= 0.05, "*")
      .otherwise("ns")

  /** Multiple-testing adjustment of a p-value column within each `family`
    * — R's `p.adjust` semantics (the reference's per-drug wilcox sweep
    * calls `adjust_pvalue(method = "bonferroni")`,
    * `Fig-2C_D_plot_univariate.R:144`), for the three standard methods:
    *
    *  - `bonferroni`: min(1, m·p) — pure column arithmetic;
    *  - `holm` (step-down): sort ascending, running MAX of (m−i+1)·p_(i);
    *  - `hochberg` (step-up twin): sort descending, running MIN of
    *    (m−i+1)·p_(i) — under the descending order that weight is just the
    *    descending row number;
    *  - `BH`/`fdr` (step-up): sort descending, running MIN of m/i·p_(i);
    *  - `BY`: BH under arbitrary dependence — the same running min scaled
    *    by the family's harmonic number c(m)=Σ1/i (cummin commutes with a
    *    positive constant, so the scale applies after; c(m) is a Σ1/rank
    *    window sum over the family, rank-order-invariant);
    *  - `none`: the identity, for parity with R's call surface.
    *
    * All ordered methods are one window over the family, capped at 1.
    * Tied p-values converge to R's value by the running-extreme
    * construction regardless of tiebreak order. Null p follows R's NA
    * contract: excluded from m and from every rank (nulls sort last, m
    * counts non-null only), adjusted value null — a null must neither
    * steal a rank (deflating real adjustments anticonservatively) nor
    * inherit a neighbor's running extreme. `hommel` is deliberately
    * not offered: its closed-testing loop is O(m²) per family and not
    * window-expressible; R itself documents hochberg as the near-identical
    * (slightly conservative) substitute under the same validity condition.
    *
    * Scale shape: families are statistical (one row per already-aggregated
    * test), so the window sorts test RESULTS, never fact rows; m comes
    * from the same window (no extra shuffle — count over the family frame
    * shares the partition).
    */
  def adjustPValues(df: DataFrame, family: Seq[String], p: String,
      method: String = "BH", as: String = "p_adj"): DataFrame = {
    val fam = Window.partitionBy(family.map(col): _*)
    // R's NA contract: nulls sort LAST under both orders, so non-null rows
    // keep ranks 1..m with m = count(p) (non-null only); the final mask
    // returns null for null p instead of the inherited running extreme
    def masked(out: DataFrame): DataFrame = out.withColumn(as,
      when(col(p).isNull, lit(null).cast("double")).otherwise(col(as)))
    method.toLowerCase match {
      case "bonferroni" =>
        // masked: least() skips nulls, so least(1, null·m) would yield 1
        masked(df.withColumn(as,
          least(lit(1.0), col(p) * count(col(p)).over(fam).cast("double"))))
      case "holm" =>
        // rank first, THEN the running extreme over the same ordered window
        // (a window expression cannot nest inside another); both fold into
        // one WindowExec — same partition, same order
        val wAsc = fam.orderBy(col(p).asc_nulls_last)
        masked(df.withColumn("__m", count(col(p)).over(fam).cast("double"))
          .withColumn("__w",
            (col("__m") - row_number().over(wAsc) + 1) * col(p))
          .withColumn(as, least(lit(1.0), max(col("__w")).over(
            wAsc.rowsBetween(Window.unboundedPreceding, Window.currentRow))))
          .drop("__m", "__w"))
      case "bh" | "fdr" =>
        // ascending rank i = m - r + 1 under the p-DESCENDING order; adj =
        // running min of m/i·p from the largest p down (R's cummin)
        val wDesc = fam.orderBy(col(p).desc_nulls_last)
        masked(df.withColumn("__m", count(col(p)).over(fam).cast("double"))
          .withColumn("__w",
            col(p) * col("__m") / (col("__m") - row_number().over(wDesc) + 1))
          .withColumn(as, least(lit(1.0), min(col("__w")).over(
            wDesc.rowsBetween(Window.unboundedPreceding, Window.currentRow))))
          .drop("__m", "__w"))
      case "hochberg" =>
        // (m−i+1) under the descending order IS the descending row number
        val wDesc = fam.orderBy(col(p).desc_nulls_last)
        masked(df.withColumn("__w", row_number().over(wDesc) * col(p))
          .withColumn(as, least(lit(1.0), min(col("__w")).over(
            wDesc.rowsBetween(Window.unboundedPreceding, Window.currentRow))))
          .drop("__w"))
      case "by" =>
        // BH's running min times c(m)=Σ1/i; the harmonic sum is Σ1/rank
        // over the NON-NULL ranks (any permutation of 1..m sums the same,
        // so the descending row number serves both roles)
        val wDesc = fam.orderBy(col(p).desc_nulls_last)
        masked(df.withColumn("__m", count(col(p)).over(fam).cast("double"))
          .withColumn("__r", row_number().over(wDesc).cast("double"))
          .withColumn("__c",
            sum(when(col(p).isNotNull, lit(1.0) / col("__r"))).over(fam))
          .withColumn("__w",
            col(p) * col("__m") / (col("__m") - col("__r") + 1))
          .withColumn(as, least(lit(1.0), col("__c") * min(col("__w")).over(
            wDesc.rowsBetween(Window.unboundedPreceding, Window.currentRow))))
          .drop("__m", "__r", "__c", "__w"))
      case "none" =>
        df.withColumn(as, col(p).cast("double"))
      case other => throw new IllegalArgumentException(
        s"adjustPValues: unknown method '$other' " +
          "(bonferroni | holm | hochberg | BH/fdr | BY | none; hommel is " +
          "deliberately unsupported — O(m²) closed testing, use hochberg)")
    }
  }

  /** z-normalized error metrics (`az_ml_make_table.R:30-36`): both pred and
    * obs standardized with the TRAIN-only distribution of obs (leakage-safe,
    * same contract as [[zscoreTrainOnly]]), then [[errorMetrics]] over the
    * standardized pair — rmse_z is scale-free (rmse / train sigma), pearson
    * is unchanged by the affine map (reported for cross-checking).
    */
  def zRmse(df: DataFrame, group: Seq[String], pred: String, obs: String,
      trainPred: Column): DataFrame = {
    val stats = df.filter(trainPred)
      .groupBy(group.map(col): _*)
      .agg(avg(col(obs)).as("__mu"), stddev_samp(col(obs)).as("__sigma"))
    val z = df.join(broadcast(stats), group)
      .where(col("__sigma") > 0)
      .withColumn("__pz", (col(pred) - col("__mu")) / col("__sigma"))
      .withColumn("__oz", (col(obs) - col("__mu")) / col("__sigma"))
    errorMetrics(z, group, "__pz", "__oz")
      .withColumnRenamed("rmse", "rmse_z")
      .withColumnRenamed("mae", "mae_z")
  }
}

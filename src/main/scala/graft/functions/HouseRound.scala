package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{lit, round}

/** The cross-engine float policy, defined once: an order-sensitive double
  * (a sum, mean or ratio whose last ulp depends on evaluation order) is
  * emitted as `round(x + 1.7e-8, d)`, HALF_UP, by the Spark columns, the
  * typed kernels and the DuckDB oracles alike.
  *
  * Why an epsilon: the same sum taken in token order in a kernel, in
  * partial-aggregation order in Spark and in join order in a SQL oracle
  * differs in the last ulp, and a value within an ulp of a rounding
  * boundary would then round up on one engine and down on the other. A
  * constant far above an ulp and far below the rounding step moves such
  * values off the boundary. Why this value: it is NOT on the value grid. An
  * epsilon that is a multiple of the grid (1e-7 at 6 dp) maps on-grid
  * values (e.g. a mean of 6-dp numbers landing on x.xxxxxx4) EXACTLY onto
  * the boundary and lets engine noise pick the side again: observed once in
  * 44k feature values at +1e-7, and on a 4-dp kappa in an oracle run.
  *
  * A change here changes every engine at once: the Spark, kernel and
  * oracle forms below are the only spellings of the policy.
  */
object HouseRound {

  private val Eps = 1.7e-8

  /** The Spark form: exactly the tree `round(c + lit(1.7e-8), places)`. */
  def apply(c: Column, places: Int): Column = round(c + lit(Eps), places)

  /** Spark's `Round` on a double, replayed for typed kernels (its codegen
    * executes exactly this: BigDecimal.valueOf → setScale(HALF_UP) →
    * doubleValue). No epsilon: for values that are not order-sensitive.
    */
  def halfUp(x: Double, places: Int): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(places, java.math.RoundingMode.HALF_UP).doubleValue()

  /** The kernel form: [[apply]]'s value for a double `x`. */
  def double(x: Double, places: Int): Double = halfUp(x + Eps, places)

  /** The DuckDB oracle form: `round((expr) + 1.7e-8, places)`. */
  def sql(expr: String, places: Int): String = s"round(($expr) + 1.7e-8, $places)"
}

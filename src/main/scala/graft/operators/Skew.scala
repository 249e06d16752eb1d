package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Explicit skew handling (BASELINE.json north_star: "skew is handled
  * explicitly via key salting on hot image_id prefixes plus AQE skew-join
  * splitting").
  *
  * Two mechanisms, composable:
  *  - AQE skew-join splitting: enabled via session conf
  *    (`spark.sql.adaptive.skewJoin.enabled=true`, on by default in the
  *    engine's sessions) — splits oversized sort-merge partitions at runtime.
  *  - Explicit salting for the case AQE can't fix (a single hot key joined
  *    to a broadcast-ineligible dim): [[saltedJoin]] below. Salting is
  *    semantics-preserving by construction and asserted so in
  *    SkewStreamSpec.
  */
object Skew {

  /** Salted equi-join: the skewed FACT side gets a deterministic per-row salt
    * in [0, S); the dim side is replicated S times; the join key becomes
    * (key, salt). Results are identical to the unsalted join, but the hot
    * key's rows spread across S reducers.
    *
    * The salt must be a pure function of the row (never rand()) so retries
    * and N-vs-4N runs stay deterministic: pass a unique column (e.g. seq).
    */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String,
      uniqueCol: String, salts: Int, joinType: String = "inner"): DataFrame = {
    val salted = fact.withColumn("__salt",
      pmod(xxhash64(col(uniqueCol)), lit(salts)).cast("int"))
    val replicated = dim.withColumn("__salt",
      explode(array((0 until salts).map(lit(_)): _*)))
    salted.join(replicated, Seq(key, "__salt"), joinType).drop("__salt")
  }
}

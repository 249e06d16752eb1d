package graft

import org.apache.spark.sql.DataFrame

/** Cross-engine oracle dumps (the discipline from QueriesCorpus, factored):
  * engine-local intermediates that DuckDB cannot recompute (xxhash64
  * signatures, counter-based PRNG draws, hyperplane weights) are written to
  * [[Dir]] during `graft.Verify`, and the oracle SQL replays ALL
  * downstream semantics (bucketing topology, joins, verification math) over
  * the dumps. Disabled outside Verify so benchmarks never pay the write.
  */
object Dumps {
  /** The one directory every oracle dump lives under: `target/graft_dumps`
    * of the working directory, absolute because the oracle SQL interpolates
    * it and runs in another process.
    */
  val Dir: String = java.nio.file.Paths.get("target", "graft_dumps").toAbsolutePath.toString

  @volatile var enabled = false

  /** Write `df` as a single-file parquet dump (tiny tables only). */
  def write(df: => DataFrame, name: String): Unit =
    if (enabled)
      df.coalesce(1).write.mode("overwrite").parquet(s"$Dir/$name.parquet")
}

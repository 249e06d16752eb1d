package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
import scala.collection.immutable.VectorMap
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json for the DuckDB compare (tools/compare.py) and
  * verify_errors.json for the queries that failed. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = SparkEntry.cpus
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    Dumps.enabled = true // oracle dumps are part of the Verify contract only
    runQueries(spark, sfDir, outDir, SparkEntry.queries)
    writeOracleSql(outDir, SparkEntry.oracleSql)
    spark.stop()
  }

  /** Runs each query, in map order, into `outDir/<name>` (one parquet file)
    * and writes `outDir/verify_errors.json`: name -> message of every query
    * that threw, `{}` when all pass. Returns that record.
    */
  def runQueries(spark: SparkSession, sfDir: String, outDir: String,
      queries: Map[String, (SparkSession, String) => DataFrame]): Map[String, String] = {
    val errors = queries.toSeq.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name failed: $msg")
        Some(name -> msg)
      } finally graft.operators.Caches.releaseAll()
    }
    val record = VectorMap.from(errors)
    Files.write(Paths.get(outDir, "verify_errors.json"), Json.mapper.writeValueAsBytes(record))
    record
  }

  /** `outDir/oracle_sql.json`: query name -> oracle SQL, one JSON object.
    * Every control character in the SQL is escaped; a raw tab or CR would
    * make a strict reader reject the file and lose every oracle at once.
    */
  def writeOracleSql(outDir: String, sql: Map[String, String]): Unit =
    Files.write(Paths.get(outDir, "oracle_sql.json"), Json.mapper.writeValueAsBytes(sql))
}

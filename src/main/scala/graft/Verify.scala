package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    Dumps.enabled = true // oracle dumps are part of the Verify contract only
    SparkEntry.queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally graft.operators.Caches.releaseAll()
    }
    writeOracleSql(outDir, SparkEntry.oracleSql)
    spark.stop()
  }

  /** `outDir/oracle_sql.json`: query name -> oracle SQL, one JSON object.
    * Every control character in the SQL is escaped; a raw tab or CR would
    * make a strict reader reject the file and lose every oracle at once.
    */
  def writeOracleSql(outDir: String, sql: Map[String, String]): Unit =
    Files.write(Paths.get(outDir, "oracle_sql.json"), Json.mapper.writeValueAsBytes(sql))
}

package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What one run was asked to do, and where it may write. */
final case class RunConf(workload: String, seed: Long, seconds: Int,
    trace: Boolean, work: Path, testdata: String, source: String)

/** What a workload hands back: the metrics the run line reports and the
  * detail the artifact keeps.
  */
final case class Outcome(metrics: Map[String, (Double, String)], detail: Map[String, Any])

/** Shared plumbing of the three workloads: sessions, the hash sink, timing
  * and the correctness tally.
  */
final class Ctx(val conf: RunConf) {
  val tracer = new Tracer(s"${conf.workload}-${conf.seed}")
  val t0Ns: Long = System.nanoTime()
  private var attemptedN = 0
  private val problemsB = scala.collection.mutable.ArrayBuffer.empty[String]
  val listener: Option[StageStats] = if (conf.trace) Some(new StageStats) else None
  val sessionConf = scala.collection.mutable.LinkedHashMap.empty[String, Map[String, String]]

  def attempted: Int = attemptedN
  def problems: Seq[String] = problemsB.toSeq

  /** Run one operation (a query, batch, lookup or pass), counting it
    * attempted, and failed if it throws.
    */
  def attempt[T](what: String)(body: => T): Option[T] = {
    attemptedN += 1
    try Some(body)
    catch {
      case e: Exception =>
        fail(s"$what threw ${e.getClass.getName}: ${e.getMessage}")
        None
    }
  }

  /** Mark an attempted operation whose output was wrong as failed. */
  def expect(ok: Boolean, what: => String): Unit = if (!ok) fail(what)

  /** A check of the whole run's output, itself counted as one operation. */
  def check(ok: Boolean, what: => String): Unit = {
    attemptedN += 1
    expect(ok, what)
  }

  private def fail(what: String): Unit = {
    problemsB += what
    System.err.println(s"[perfbench] FAILED: $what")
  }

  /** A path under the work directory, its parent created. */
  def path(name: String): String = {
    val p = conf.work.resolve(name)
    Files.createDirectories(p.getParent)
    p.toString
  }

  /** The session every workload runs on: fixed 128 shuffle partitions, AQE
    * on, and partition coalescing as the workload needs. Scratch and
    * warehouse live under the run's work directory.
    */
  def session(cores: Int, coalesce: Boolean): SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val settings = Map(
      "spark.master" -> s"local[$cores]",
      "spark.sql.shuffle.partitions" -> "128",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> coalesce.toString,
      "spark.sql.files.maxPartitionBytes" -> "33554432",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.local.dir" -> Files.createDirectories(conf.work.resolve("spark-local")).toString,
      "spark.sql.warehouse.dir" -> conf.work.resolve("warehouse").toString,
      "spark.ui.enabled" -> "false")
    sessionConf(s"local[$cores]") = settings
    val b = SparkSession.builder().appName(s"perfbench-${conf.workload}")
    settings.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Run `body` with spans and the stage listener on or off; off outside a
    * traced run.
    */
  def tracing[T](spark: SparkSession, on: Boolean)(body: => T): T = {
    val really = on && conf.trace
    tracer.active = really
    listener.foreach(l =>
      if (really) spark.sparkContext.addSparkListener(l)
      else spark.sparkContext.removeSparkListener(l))
    try body
    finally {
      tracer.active = false
      listener.foreach(spark.sparkContext.removeSparkListener)
    }
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds used so far by all of this JVM's threads. */
  def cpuS: Double = os.getProcessCpuTime / 1e9

  /** (wall seconds, CPU seconds, result) of `body`. */
  def measured[T](body: => T): (Double, Double, T) = {
    val c = cpuS
    val (w, r) = timed(body)
    (w, cpuS - c, r)
  }

  def timed[T](body: => T): (Double, T) = {
    val t = System.nanoTime()
    val r = body
    ((System.nanoTime() - t) / 1e9, r)
  }

  def label(spark: SparkSession, what: String): Unit =
    spark.sparkContext.setJobDescription(what)
}

object Ctx {

  /** `graft.Bench`'s sink: hash-aggregate every output column, so no column
    * can be pruned away, into (rows, xor of row hashes).
    */
  def hashSink(df: DataFrame): (Long, Long) = {
    val h = df.columns.map(c => xxhash64(col(c))).reduce(_ bitwiseXOR _)
    val r = df.select(h.as("__h")).agg(count(lit(1)), expr("bit_xor(__h)")).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  def noopSink(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}

object Main {

  val Workloads: Map[String, Ctx => Outcome] = Map(
    "corpus_backfill" -> Backfill.run,
    "curation_suite" -> Curation.run,
    "ingest_pit" -> Ingest.run)

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(name)
    require(i >= 0 && i + 1 < args.length, s"missing $name")
    args(i + 1)
  }

  /** Exits 0 after printing the result line, 1 without one on any error
    * (Spark's own threads would otherwise keep a failed JVM alive).
    */
  def main(args: Array[String]): Unit = {
    val code =
      try { runOnce(args); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }

  private def runOnce(args: Array[String]): Unit = {
    val conf = RunConf(arg(args, "--workload"), arg(args, "--seed").toLong,
      arg(args, "--seconds").toInt, arg(args, "--trace") == "1",
      Paths.get(arg(args, "--work")).toAbsolutePath, arg(args, "--testdata"),
      arg(args, "--source"))
    val run = Workloads.getOrElse(conf.workload, throw new IllegalArgumentException(
      s"unknown workload ${conf.workload}; known: ${Workloads.keys.toSeq.sorted.mkString(", ")}"))
    require(conf.seconds >= 1, "--seconds must be at least 1")
    val ctx = new Ctx(conf)
    val out = run(ctx)
    SparkSession.getActiveSession.foreach(_.stop())

    val rss = peakRssMb()
    val metrics = out.metrics ++ (if (conf.trace) Map.empty
      else Map("peak_rss_mb" -> (rss, "MB")))
    val attempted = math.max(ctx.attempted, 1)
    val failed = ctx.problems.size
    val artifact = Map(
      "workload" -> conf.workload, "seed" -> conf.seed, "seconds" -> conf.seconds,
      "trace" -> conf.trace, "box" -> box(conf), "sessions" -> ctx.sessionConf.toMap,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "failed_ops_frac" -> failed.toDouble / attempted,
      "peak_rss_mb" -> rss, "problems" -> ctx.problems, "detail" -> out.detail)
    val name = s"${conf.workload}-seed${conf.seed}-trace${if (conf.trace) 1 else 0}.json"
    val file = Paths.get(ctx.path(s"results/$name"))
    Files.write(file, Json.write(artifact).getBytes(StandardCharsets.UTF_8))
    println(s"artifact: $file")
    println(f"failed_ops_frac: ${failed.toDouble / attempted}%.4f ($failed of $attempted)")
    out.detail.get("report").foreach { case r: Seq[_] => r.foreach(l => println(l)) case _ => }
    println(Json.write(Map(
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })))
  }

  /** The box and the build this run measured. */
  def box(conf: RunConf): Map[String, Any] = {
    val memKb = scala.util.Try {
      scala.io.Source.fromFile("/proc/meminfo").getLines()
        .find(_.startsWith("MemTotal:")).get.split("\\s+")(1).toLong
    }.getOrElse(-1L)
    Map("nproc" -> Runtime.getRuntime.availableProcessors,
      "mem_total_kb" -> memKb,
      "jdk" -> System.getProperty("java.version"),
      "spark" -> org.apache.spark.SPARK_VERSION,
      "source" -> conf.source,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20))
  }

  /** The JVM's peak resident set (VmHWM), in MiB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
}

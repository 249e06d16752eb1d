package graft

import java.nio.file.{Files, Paths}

/** Round-6 optimization harness beside [[Bench]]:
  * per-query isolation through Bench's own session, headline list, corpus
  * table and hash sink, plus `.explain("formatted")` plan dumps for the
  * plans/r06 evidence files.
  *
  * Usage (sbt):
  *   runMain graft.BenchExtra explain <outdir> [suffix] [q1,q2,...]
  *   runMain graft.BenchExtra time [q1,q2,...]
  *   runMain graft.BenchExtra noop [q1,q2,...]
  *   runMain graft.BenchExtra corpus [rows]
  *
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  *      SPARK_GRAFT_CPUS (default 32), SPARK_GRAFT_BENCH_DRAWS (default 3).
  */
object BenchExtra {

  def main(args: Array[String]): Unit = {
    val mode = if (args.nonEmpty) args(0) else "time"
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val draws = sys.env.getOrElse("SPARK_GRAFT_BENCH_DRAWS", "3").toInt
    // corpus mode matches Bench's headline session (coalescing OFF);
    // query modes match Bench part 1 (coalescing ON)
    val spark = Bench.session(cores, coalesce = args.headOption.forall(_ != "corpus"))

    def queriesOf(arg: Option[String]): Seq[String] =
      arg.map(_.split(",").toSeq).getOrElse(Bench.HeadlineQueries)

    mode match {
      case "explain" =>
        val outDir = args(1)
        val suffix = if (args.length > 2) args(2) else "before"
        val qs = queriesOf(if (args.length > 3) Some(args(3)) else None)
        Files.createDirectories(Paths.get(outDir))
        qs.foreach { name =>
          try {
            val df = SparkEntry.queries(name)(spark, sfDir)
            val plan = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), plan)
            System.err.println(s"[explain] wrote ${name}_$suffix.txt")
          } catch { case e: Throwable =>
            System.err.println(s"[explain] $name FAILED: ${e.getMessage}")
          } finally graft.operators.Caches.releaseAll()
        }

      case "time" | "noop" =>
        val qs = queriesOf(if (args.length > 1) Some(args(1)) else None)
        val results = qs.map { name =>
          val fn = SparkEntry.queries(name)
          def once(): Double = {
            val t0 = System.nanoTime()
            try {
              val df = fn(spark, sfDir)
              if (mode == "noop")
                df.write.format("noop").mode("overwrite").save()
              else Bench.hashSink(df)
            } finally graft.operators.Caches.releaseAll()
            (System.nanoTime() - t0) / 1e9
          }
          spark.sparkContext.setJobDescription(s"bench-extra: $name")
          val dt = try {
            val wt = once()
            val d = (1 to draws).map(_ => once()).min
            System.err.println(f"[bench-extra] $name%-24s $d%8.3f s (warm $wt%.2f)")
            d
          } catch { case e: Throwable =>
            System.err.println(s"[bench-extra] $name FAILED: ${e.getMessage}")
            Double.NaN
          }
          name -> dt
        }
        val qsJson = results.map { case (k, v) =>
          if (v.isNaN) "\"" + k + "\":\"err\"" else "\"" + k + f"\":$v%.3f"
        }.mkString("{", ",", "}")
        println(s"""{"bench_extra":"$mode","sf":"$sfDir","queries":$qsJson}""")

      case "corpus" =>
        val rows = if (args.length > 1) args(1).toLong else 12000000L
        val path = Bench.corpusTable(spark, rows)
        // same timed job + session config as Bench's part-2 headline
        spark.sparkContext.setJobDescription("bench-extra: corpus feature job")
        val ts = (1 to (draws + 1)).map { _ =>
          val (dt, n, dg) = Bench.corpusRun(spark, path, rows)
          System.err.println(f"[bench-extra] corpus $dt%.2f s rows=$n digest=$dg")
          dt
        }
        println(f"""{"bench_extra":"corpus","rows":$rows,"min_sec":${ts.tail.min}%.2f,"draws":${ts.mkString("[", ",", "]")}}""")

      case other =>
        System.err.println(s"unknown mode $other")
        sys.exit(2)
    }
    spark.stop()
  }
}

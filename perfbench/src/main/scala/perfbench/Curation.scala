package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** curation_suite: the 31 headline queries of `graft.Bench` over the fixed
  * seed-42 testdata, each hashed by Bench's sink, on local[4] with AQE
  * coalescing on. The input is fixed, so the seed is not used; every query
  * hash must equal the one recorded in `curation_expected.json`.
  */
object Curation {

  val Tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Expected (rows, digest) per query, recorded from the engine over
    * `input`; a run over any other input stops.
    */
  def expected(input: String): Map[String, (Long, Long)] = {
    val in = Option(getClass.getResourceAsStream("/perfbench/curation_expected.json"))
      .getOrElse(throw new IllegalStateException("curation_expected.json is not on the classpath"))
    try {
      val node = Json.read(new String(in.readAllBytes(), "UTF-8"))
      require(node.get("input").asText() == input,
        s"expected hashes are for ${node.get("input").asText()}, not $input")
      node.get("queries").fields().asScala.map { e =>
        e.getKey -> (e.getValue.get("rows").asLong(), e.getValue.get("digest").asText().toLong)
      }.toMap
    } finally in.close()
  }

  /** The query list, after checking the family table against the engine;
    * any mismatch stops the run.
    */
  def queries(): Seq[String] = {
    val head = Families.headline()
    val bad = Families.problems(head, graft.SparkEntry.queries.keySet)
    if (bad.nonEmpty)
      throw new IllegalStateException("query registry check failed: " + bad.mkString("; "))
    head
  }

  /** One query through the sink: (wall s, CPU s, (rows, digest)). */
  def once(ctx: Ctx, spark: SparkSession, q: String): (Double, Double, (Long, Long)) = {
    val fn = graft.SparkEntry.queries(q)
    ctx.label(spark, s"query $q")
    ctx.measured(ctx.tracer.span("operators", q) {
      try Ctx.hashSink(fn(spark, ctx.conf.testdata))
      finally graft.operators.Caches.releaseAll()
    })
  }

  def run(ctx: Ctx): Outcome = {
    val qs = queries()
    val want = expected(ctx.conf.testdata)
    val spark = ctx.session(4, coalesce = true)
    // set-up: open every input table and count it
    val rowsOf = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val setups = ctx.tracing(spark, on = true)((1 to 3).map { _ =>
      val (w, c, _) = ctx.measured(ctx.tracer.span("operators", "open inputs") {
        Tables.foreach(t => rowsOf(t) = spark.read.parquet(s"${ctx.conf.testdata}/$t.parquet").count())
      })
      (w, c)
    })

    val seen = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Long)]
    // CPU seconds per query of the pass being run
    var cpu = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def run1(q: String): Option[Double] =
      ctx.attempt(s"query $q") {
        val (t, c, h) = once(ctx, spark, q)
        seen(q) = h
        cpu(q) = c
        ctx.expect(want.get(q).contains(h), s"query $q hash $h != expected ${want.get(q)}")
        t
      }

    ctx.listener.foreach(_.clear())
    val end = System.nanoTime() + ctx.conf.seconds * 1000000000L
    val passes, cpuPasses = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    // (traced, untraced) seconds of the queries a traced run runs both ways
    val twins = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    if (!ctx.conf.trace)
      while (passes.isEmpty || (ctx.problems.isEmpty && System.nanoTime() < end)) {
        cpu = scala.collection.mutable.LinkedHashMap.empty
        passes += qs.flatMap(q => run1(q).map(q -> _)).toMap
        cpuPasses += cpu.toMap
      }
    else // every query traced; every third also untraced, alternating which goes first
      passes += qs.zipWithIndex.flatMap { case (q, i) =>
        def on() = ctx.tracing(spark, on = true)(run1(q))
        if (i % 3 != 0) on().map(q -> _)
        else {
          val (t, u) = if (i % 2 == 0) { val u = run1(q); (on(), u) } else { val t = on(); (t, run1(q)) }
          for (a <- t; b <- u) twins += ((a, b))
          t.map(q -> _)
        }
      }.toMap
    val stages = ctx.listener.map(_.stages()).getOrElse(Nil)

    val fam = Families.familyOf
    def famSum(p: Map[String, Double], f: String): Double =
      p.collect { case (q, t) if fam(q) == f => t }.sum
    val totals = passes.map(_.values.sum).toSeq
    val families = Families.All.map(_._1).map(f => f -> Stats.median(passes.map(famSum(_, f)).toSeq))
    val cpuTotals = cpuPasses.map(_.values.sum).toSeq
    val perQuery = qs.flatMap { q =>
      val ts = passes.flatMap(_.get(q)).toSeq
      if (ts.isEmpty) None else Some(q -> Stats.median(ts))
    }
    val report = Seq(f"curation_suite input=${ctx.conf.testdata} passes=${passes.size}",
      f"  suite_s               ${Stats.median(totals)}%.4f s") ++
      families.map { case (f, v) => f"  suite_${f}_s${" " * (14 - f.length)}$v%.4f s" } ++
      (if (cpuTotals.isEmpty) Nil else Seq(
        f"  suite_cpu_s           ${Stats.median(cpuTotals)}%.4f s (JVM CPU)",
        f"  setup_s               ${Stats.median(setups.map(_._2))}%.4f s (JVM CPU; wall ${Stats.median(setups.map(_._1))}%.4f s)"))
    val detail = scala.collection.mutable.LinkedHashMap[String, Any](
      "report" -> report, "input" -> ctx.conf.testdata, "input_rows" -> rowsOf.toMap,
      "setup_wall_s" -> setups.map(_._1), "setup_cpu_s" -> setups.map(_._2),
      "suite_s" -> totals, "suite_cpu_s" -> cpuTotals,
      "query_cpu_s" -> cpuPasses.headOption.getOrElse(Map.empty),
      "families_s" -> families.toMap, "query_s" -> perQuery.toMap,
      "hashes" -> seen.map { case (q, (n, d)) => q -> Map("rows" -> n, "digest" -> d.toString) }.toMap)
    val metrics =
      if (ctx.conf.trace) {
        detail ++= perQuery.map { case (q, t) => s"operators.${q}_s" -> t }
        Layers.engine(ctx, stages, totals.sum, 4, Seq(twins.map(_._1).sum),
          Seq(twins.map(_._2).sum), detail)
      }
      else Map("setup_s" -> (Stats.median(setups.map(_._2)), "s"),
        "op_cpu_s" -> (Stats.median(cpuTotals), "s"),
        "aux_cpu_s" -> (Stats.median(cpuPasses.map(p => famSum(p, "dedup_sim")).toSeq), "s"))
    Outcome(metrics, detail.toMap)
  }
}

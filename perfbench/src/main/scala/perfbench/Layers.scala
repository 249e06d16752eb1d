package perfbench

import scala.collection.mutable

/** The traced run's per-layer output. The run line carries the engine
  * counters every workload has; the artifact keeps the spans, the stages,
  * each layer's self time and the workload's own layer metrics.
  */
object Layers {

  val Units: Map[String, String] = Map(
    "spark.executor_run_s" -> "s", "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_write_bytes" -> "B", "spark.shuffle_read_bytes" -> "B",
    "spark.spill_bytes" -> "B", "spark.tasks" -> "count", "spark.stages" -> "count",
    "spark.task_skew" -> "ratio", "spark.unaccounted_wall_s" -> "s",
    "trace.overhead_s" -> "s")

  /** `tracedS`/`plainS`: times of the same operation with tracing on and
    * off, alternated within the traced run; their median difference is the
    * tracing overhead. `wallS` is the wall time of the traced operations.
    */
  def engine(ctx: Ctx, stages: Seq[StageRecord], wallS: Double, cores: Int,
      tracedS: Seq[Double], plainS: Seq[Double],
      detail: mutable.Map[String, Any]): Map[String, (Double, String)] = {
    val spans = ctx.tracer.spans
    detail("stages") = StageStats.toRecords(stages)
    detail("spans") = Trace.toRecords(spans, ctx.t0Ns)
    detail("layer_self_s") = Trace.layerSelfS(spans)
    detail("trace_overhead") = Map("traced_s" -> tracedS, "untraced_s" -> plainS)
    val m = StageStats.totals(stages, wallS, cores) +
      ("trace.overhead_s" -> (Stats.median(tracedS) - Stats.median(plainS)))
    m.map { case (k, v) => k -> (v, Units(k)) }
  }
}

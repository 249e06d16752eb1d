package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** One finished stage attempt, with the task metrics summed over its tasks.
  * `ops` are the physical operators whose SQL metrics the stage updated,
  * which is how a stage is attributed to a step of a plan. `label` is the
  * job description set by the benchmark when the stage was submitted.
  */
final case class StageRecord(stageId: Int, attempt: Int, label: String,
    tasks: Int, wallMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
    shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long,
    taskMs: Seq[Long], ops: Set[String]) {
  /** max / median task duration; 1 for a one-task stage. */
  def skew: Double = {
    val s = taskMs.sorted
    if (s.isEmpty) 1.0
    else {
      val med = if (s.length % 2 == 1) s(s.length / 2).toDouble
        else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
      s.last / math.max(med, 1.0)
    }
  }
}

/** Listener that keeps the engine's own per-stage counters in memory. It is
  * attached only in the traced run. Spark delivers events on its listener
  * thread; the lock guards the reads the benchmark makes from its own.
  */
final class StageStats extends SparkListener {
  private val records = ArrayBuffer.empty[StageRecord]
  private val taskMs = mutable.HashMap.empty[(Int, Int), ArrayBuffer[Long]]
  private val labels = mutable.HashMap.empty[(Int, Int), String]
  private val accOp = mutable.HashMap.empty[Long, String]
  @volatile private var lastEventNs = System.nanoTime()

  private def collectOps(p: SparkPlanInfo): Unit = {
    p.metrics.foreach(m => accOp(m.accumulatorId) = p.nodeName)
    p.children.foreach(collectOps)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart => collectOps(s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate => collectOps(u.sparkPlanInfo)
      case _ =>
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    labels((e.stageInfo.stageId, e.stageInfo.attemptNumber())) =
      Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.job.description"))).getOrElse("")
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskInfo != null && e.taskInfo.successful)
      taskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), ArrayBuffer.empty) +=
        e.taskInfo.duration
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    lastEventNs = System.nanoTime()
    val si = e.stageInfo
    val k = (si.stageId, si.attemptNumber())
    val m = si.taskMetrics
    val wall = (for (a <- si.submissionTime; b <- si.completionTime) yield b - a).getOrElse(0L)
    val ops = si.accumulables.keys.flatMap(accOp.get).toSet
    records += StageRecord(si.stageId, si.attemptNumber(),
      labels.remove(k).getOrElse(""), si.numTasks, wall,
      if (m == null) 0L else m.executorRunTime,
      if (m == null) 0L else m.executorCpuTime,
      if (m == null) 0L else m.jvmGCTime,
      if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled,
      taskMs.remove(k).map(_.toSeq).getOrElse(Nil), ops)
  }

  /** Stages completed so far, after the listener thread has been quiet for
    * `quietMs` (it delivers events asynchronously), waiting at most 10 s.
    */
  def stages(quietMs: Long = 300): Seq[StageRecord] = {
    val deadline = System.nanoTime() + 10000000000L
    while (System.nanoTime() - lastEventNs < quietMs * 1000000L &&
      System.nanoTime() < deadline) Thread.sleep(50)
    synchronized(records.toSeq)
  }

  def clear(): Unit = synchronized(records.clear())
}

object StageStats {

  /** Engine totals over `stages`; `wallS` is the traced window's wall time
    * and `cores` the executor threads, for the time no task covered.
    */
  def totals(stages: Seq[StageRecord], wallS: Double, cores: Int): Map[String, Double] = {
    val runS = stages.map(_.runMs).sum / 1e3
    val longest = if (stages.isEmpty) None else Some(stages.maxBy(_.runMs))
    Map(
      "spark.executor_run_s" -> runS,
      "spark.executor_cpu_s" -> stages.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> stages.map(_.gcMs).sum / 1e3,
      "spark.shuffle_write_bytes" -> stages.map(_.shuffleWriteBytes).sum.toDouble,
      "spark.shuffle_read_bytes" -> stages.map(_.shuffleReadBytes).sum.toDouble,
      "spark.spill_bytes" -> stages.map(_.spillBytes).sum.toDouble,
      "spark.tasks" -> stages.map(_.tasks).sum.toDouble,
      "spark.stages" -> stages.size.toDouble,
      "spark.task_skew" -> longest.map(_.skew).getOrElse(1.0),
      "spark.unaccounted_wall_s" -> (wallS - runS / cores))
  }

  def toRecords(stages: Seq[StageRecord]): Seq[Map[String, Any]] = stages.map(s =>
    Map("stage" -> s.stageId, "attempt" -> s.attempt, "label" -> s.label,
      "tasks" -> s.tasks, "wall_s" -> s.wallMs / 1e3, "run_s" -> s.runMs / 1e3,
      "cpu_s" -> s.cpuNs / 1e9, "gc_s" -> s.gcMs / 1e3,
      "shuffle_read_bytes" -> s.shuffleReadBytes,
      "shuffle_write_bytes" -> s.shuffleWriteBytes, "spill_bytes" -> s.spillBytes,
      "task_skew" -> s.skew, "ops" -> s.ops.toSeq.sorted))
}

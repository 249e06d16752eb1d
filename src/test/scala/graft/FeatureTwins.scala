package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.corpus.Corpus
import graft.functions.HouseRound

/** The plain-window formulation of the temporal features: lag, running sum,
  * last and `avg` straight over the (entity; time, seq) window, with no
  * carry. `FeaturePipeline.features` computes the same columns as the
  * carry-free case of its local-window + boundary-repair algebra; this is
  * the independent reference the equivalence specs compare it with
  * (GoldenFeatureSpec). Its body is the reference and does not change.
  */
object FeatureTwins {

  /** The columns [[plainWindows]] recomputes. */
  val Temporal: Seq[String] = Seq("phash_prev_hamming", "dt_prev_ms", "session_idx",
    "session_pos", "quality_filled", "running_quality_mean")

  /** `feats` (a feature table) with its [[Temporal]] columns recomputed by
    * the plain windows from its own scalar columns.
    */
  def plainWindows(feats: DataFrame, gapMs: Long = Corpus.SessionGapMs): DataFrame = {
    val scalar = feats.drop(Temporal: _*)

    // --- one shared window layout for every temporal feature ---------------
    val w = Window.partitionBy(col("entity_id")).orderBy(col("event_ms"), col("seq"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)

    scalar
      .withColumn("phash_prev", lag(col("phash"), 1).over(w))
      .withColumn("phash_prev_hamming",
        graft.functions.HammingDistance.hamming(col("phash"), col("phash_prev")))
      .withColumn("dt_prev_ms", col("event_ms") - lag(col("event_ms"), 1).over(w))
      .withColumn("__new",
        when(col("dt_prev_ms").isNull || col("dt_prev_ms") > gapMs, 1L).otherwise(0L))
      .withColumn("session_idx", sum(col("__new")).over(wRun) - 1L)
      .withColumn("__rn", row_number().over(w))
      .withColumn("session_pos",
        col("__rn") - last(when(col("__new") === 1L, col("__rn")), ignoreNulls = true).over(wRun))
      .withColumn("quality_filled", last(col("sparse_quality"), ignoreNulls = true).over(wRun))
      // running mean is an order-sensitive double sum
      .withColumn("running_quality_mean",
        HouseRound(avg(col("quality")).over(wRun), 6))
      // event_time duplicates event_ms (ms-precision timestamp) — not carried
      .drop("__new", "__rn", "phash_prev", "bytes", "caption", "fmt", "event_time")
  }
}

package graft.operators

import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Session cache registry for operator-internal persists.
  *
  * Several operators materialize an intermediate consumed by MULTIPLE
  * downstream exchanges (the dedup inverted index, skew-safe phase-1):
  * without a persist, Spark recomputes the full upstream lineage once per
  * consumer (measured 5x recompute of the n-gram index in ngramJaccard).
  * At warehouse scale these intermediates would be materialized tables;
  * in-session they are registered here so callers that loop over many
  * queries (Verify, Bench) can release them deterministically between
  * invocations — `unpersist(blocking = true)`, because lazily-released
  * blocks compete with the next persist for storage memory.
  */
object Caches {

  private val registered = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
  private val broadcasts =
    scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.broadcast.Broadcast[_]]

  /** Persist and register `df`; returns the persisted frame. */
  def cache(df: DataFrame,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame =
    synchronized {
      val c = df.persist(level)
      registered += c
      c
    }

  /** Broadcast `v` and register the handle for release: the kernel fast
    * paths (TF-IDF / NLL vocabularies, NB weights, over-threshold line
    * sets) ship value broadcasts into UDF closures, and a bare
    * `sparkContext.broadcast` leaks its executor blocks until the driver
    * GCs the handle — across a many-query session those blocks accumulate
    * against execution memory (guide §5). `releaseAll` unpersists them
    * (NOT destroy: an unpersisted broadcast transparently re-ships if the
    * plan is re-executed, so callers keep lazy-re-execution semantics).
    */
  def broadcast[T: scala.reflect.ClassTag](
      sc: org.apache.spark.SparkContext, v: T)
      : org.apache.spark.broadcast.Broadcast[T] = synchronized {
    val b = sc.broadcast(v)
    broadcasts += b
    b
  }

  /** Unpersist every registered frame and broadcast. A failed unpersist
    * of one does not stop the rest; a fatal error (OOM, interrupt) does.
    */
  def releaseAll(): Unit = synchronized {
    registered.foreach(df =>
      try df.unpersist(blocking = true) catch { case NonFatal(_) => () })
    registered.clear()
    broadcasts.foreach(b =>
      try b.unpersist(blocking = true) catch { case NonFatal(_) => () })
    broadcasts.clear()
  }
}

package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed call into a layer. `parent` is the id of the enclosing span, or
  * -1 at the top. Times are `System.nanoTime` readings.
  */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    run: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. The benchmark wraps each call it makes into an
  * engine layer in [[span]]; nothing is written until the run ends. While
  * inactive, [[span]] only runs the body, so traced and untraced operations
  * execute the same calls.
  */
final class Tracer(val run: String) {
  var active = false
  private val done = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  def span[T](layer: String, name: String)(body: => T): T =
    if (!active) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        done += Span(id, parent, layer, name, run, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  def spans: Seq[Span] = done.toSeq.sortBy(_.id)
}

object Trace {

  /** Self time of every span: its duration minus the part of its interval
    * that its direct children cover (overlapping children count once, and a
    * child reaching outside its parent is clipped to the parent).
    */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = union(children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a })
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** Total length of the union of half-open intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Self seconds summed per layer. */
  def layerSelfS(spans: Seq[Span]): Map[String, Double] = {
    val self = selfNs(spans)
    spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum / 1e9 }
  }

  /** Spans as plain maps, for the run artifact. */
  def toRecords(spans: Seq[Span], t0Ns: Long): Seq[Map[String, Any]] = {
    val self = selfNs(spans)
    spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer,
      "name" -> s.name, "run" -> s.run,
      "start_s" -> (s.startNs - t0Ns) / 1e9, "end_s" -> (s.endNs - t0Ns) / 1e9,
      "self_s" -> self(s.id) / 1e9))
  }
}

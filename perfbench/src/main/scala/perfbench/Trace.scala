package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed interval. Every span of one operation carries the same
  * `op`; `parent` is -1 for a root. Times are epoch microseconds, so
  * harness spans and listener job spans share one clock.
  */
final case class Span(
    id: Int, parent: Int, op: Int, name: String, startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

/** In-memory span store, written out once when the run ends. When
  * disabled, `span` only runs its body: untraced runs keep no spans.
  * Thread-safe, because the listener adds job spans from its own thread.
  */
final class Tracer(val enabled: Boolean) {
  private val buf = ArrayBuffer.empty[Span]
  private var lastId = 0
  private val originUs = System.currentTimeMillis() * 1000
  private val originNs = System.nanoTime()

  def nowUs: Long = originUs + (System.nanoTime() - originNs) / 1000

  def newId(): Int = synchronized { lastId += 1; lastId }

  def add(s: Span): Unit = if (enabled) synchronized { buf += s }

  def spans: Vector[Span] = synchronized(buf.toVector)

  /** Moves the job spans hanging off `parent` under the child whose
    * interval holds the job's start: the pipeline's stages are known
    * only after its call returns.
    */
  def adopt(parent: Int, kids: Seq[Span]): Unit = synchronized {
    for (i <- buf.indices) {
      val s = buf(i)
      if (s.parent == parent && s.name.startsWith("job "))
        kids.find(k => s.startUs >= k.startUs && s.startUs < k.endUs)
          .foreach(k => buf(i) = s.copy(parent = k.id))
    }
  }

  def span[T](name: String, parent: Int, op: Int)(body: Int => T): T =
    if (!enabled) body(-1)
    else {
      val id = newId()
      val start = nowUs
      try body(id) finally add(Span(id, parent, op, name, start, nowUs))
    }
}

object Tracer {

  /** Self time of every span: its duration minus the part of that
    * interval its children cover. Children may overlap (concurrent
    * jobs), so the covered part is the union of their clipped intervals.
    */
  def selfTimesUs(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val clipped = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)))
        .filter { case (a, b) => b > a }
      s.id -> (s.durUs - unionLength(clipped))
    }.toMap
  }

  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.sortBy(_._1).foreach { case (a, b) =>
      if (a > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = a
        curEnd = b
      } else if (b > curEnd) curEnd = b
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }
}

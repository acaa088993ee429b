package perfbench

import scala.collection.mutable

/** One timed interval. `layer` names what ran inside it; `parent` is 0 for
  * a root span. Times are milliseconds since the recorder was created. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
    startMs: Double, durMs: Double, attrs: Map[String, Any] = Map.empty)

/** In-memory span recorder: spans are kept until the run ends and are
  * written out once, so recording costs one buffer append. */
final class Trace {
  private val t0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0L

  def nowMs: Double = (System.nanoTime() - t0) / 1e6

  def newId(): Long = synchronized { nextId += 1; nextId }

  def add(s: Span): Unit = synchronized { spans += s }

  /** Times `f` as a span under `parent`. */
  def span[T](parent: Long, name: String, layer: String)(f: => T): T = {
    val start = nowMs
    val out = f
    add(Span(newId(), parent, name, layer, start, nowMs - start))
    out
  }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Self time (duration minus the time covered by direct children) summed
    * per layer. */
  def selfMsByLayer: Map[String, Double] = {
    val ss = all
    val childMs = ss.groupMapReduce(_.parent)(_.durMs)(_ + _)
    ss.groupMapReduce(_.layer)(s => s.durMs - childMs.getOrElse(s.id, 0.0))(_ + _)
  }

  def toJson: Seq[Map[String, Any]] = all.map { s =>
    Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
      "start_ms" -> s.startMs, "dur_ms" -> s.durMs) ++ s.attrs
  }
}

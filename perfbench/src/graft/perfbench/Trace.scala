package graft.perfbench

import scala.collection.mutable

/** In-memory spans, written out once when the run ends. Every span of one
  * run shares `traceId`; `parent` is the id of the enclosing span (0 = root).
  * Disabled tracers record nothing, so the untraced run pays one branch per
  * call.
  */
final class Tracer(val enabled: Boolean, val traceId: String) {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long,
      endNs: Long, attrs: mutable.LinkedHashMap[String, Any])

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var current = 0
  private var nextId = 1

  /** Runs `body` inside a span; `attrs` of the returned span may be filled
    * by the caller afterwards (listener-derived counts). */
  def span[T](name: String)(body: mutable.LinkedHashMap[String, Any] => T): T = {
    if (!enabled) return body(mutable.LinkedHashMap.empty)
    val id = nextId
    nextId += 1
    val parent = current
    current = id
    val attrs = mutable.LinkedHashMap.empty[String, Any]
    val t0 = System.nanoTime()
    try body(attrs)
    finally {
      spans += Span(id, parent, name, t0, System.nanoTime(), attrs)
      current = parent
    }
  }

  /** A span without attributes whose interval was measured elsewhere. */
  def record(name: String, startNs: Long, endNs: Long): Unit =
    if (enabled) {
      spans += Span(nextId, current, name, startNs, endNs, NoAttrs)
      nextId += 1
    }

  private val NoAttrs = mutable.LinkedHashMap.empty[String, Any]

  def size: Int = spans.length

  def writeJsonl(path: String): Unit = if (enabled) {
    val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(path))
    try spans.sortBy(_.id).foreach { s =>
      w.write(Main.json.writeValueAsString(mutable.LinkedHashMap[String, Any](
        "trace" -> traceId, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "attrs" -> s.attrs)))
      w.newLine()
    } finally w.close()
  }
}

package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed call into a layer. `request` groups the spans of one
  * request (a query batch, an ingest round, a pipeline query). */
final case class Span(id: Int, parent: Int, name: String, request: Long,
    startNs: Long, endNs: Long)

/** Spans kept in memory and written out once at the end. Disabled, a span
  * only runs its body. */
final class Spans(enabled: Boolean) {
  private val done = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 0

  def apply[T](name: String, request: Long = -1L)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val t0 = System.nanoTime()
      try body
      finally {
        done += Span(id, parent, name, request, t0, System.nanoTime())
        open = open.tail
      }
    }

  def all: Seq[Span] = done.sortBy(_.id).toSeq

  /** Self time per span name (ms): each span's duration minus the part of
    * its interval its children cover. Children of one span never overlap
    * (calls are made one at a time), so that part is their summed length. */
  def selfMs: Map[String, Double] = {
    val childNs = done.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(s => s.endNs - s.startNs).sum }
    done.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map(s => (s.endNs - s.startNs) - childNs.getOrElse(s.id, 0L)).sum / 1e6 }
  }

  /** JSON lines: one span per line, then one self-time summary line. */
  def write(path: java.nio.file.Path): Unit = {
    val t0 = done.map(_.startNs).minOption.getOrElse(0L)
    val lines = all.map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","request":${s.request},""" +
        f""""start_ms":${(s.startNs - t0) / 1e6}%.3f,"end_ms":${(s.endNs - t0) / 1e6}%.3f}"""
    } :+ selfMs.toSeq.sortBy(_._1)
      .map { case (n, ms) => f""""$n":$ms%.3f""" }
      .mkString("""{"self_ms":{""", ",", "}}")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

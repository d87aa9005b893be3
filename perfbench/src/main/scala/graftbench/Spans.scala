package graftbench

import scala.collection.mutable

/** In-memory span tree of one traced run, written once when the run ends.
  * Times are wall-clock microseconds since the epoch.
  */
final class Spans {
  import Spans._

  private val spans = mutable.ArrayBuffer.empty[Span]

  def add(parent: Int, kind: String, name: String, startUs: Long, endUs: Long,
      attrs: (String, Any)*): Int = synchronized {
    spans += Span(spans.size, parent, kind, name, startUs, endUs, attrs)
    spans.size - 1
  }

  def end(id: Int, endUs: Long): Unit = synchronized {
    spans(id) = spans(id).copy(endUs = endUs)
  }

  /** A span's own time: its duration minus the part covered by its
    * children (children that overlap each other are merged first).
    */
  def selfUs: Array[Long] = synchronized {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var total = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      covered.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) total += curB - curA
      math.max(0L, s.endUs - s.startUs - total)
    }.toArray
  }

  /** Total self time per span kind, in seconds. */
  def selfSecondsByKind: Map[String, Double] = synchronized {
    val self = selfUs
    spans.groupBy(_.kind).map { case (k, ss) => k -> ss.map(s => self(s.id)).sum / 1e6 }
  }

  def write(path: java.nio.file.Path): Unit = synchronized {
    val self = selfUs
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.foreach { s =>
      w.write(Json.obj(Seq[(String, Any)](
        "id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "start_us" -> s.startUs, "dur_us" -> (s.endUs - s.startUs),
        "self_us" -> self(s.id)) ++ s.attrs: _*))
      w.newLine()
    } finally w.close()
  }
}

object Spans {
  final case class Span(id: Int, parent: Int, kind: String, name: String,
      startUs: Long, endUs: Long, attrs: Seq[(String, Any)])
  val Root: Int = -1
}

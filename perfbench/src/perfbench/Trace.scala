package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

/** In-memory span log: name, start, end and parent at each layer
  * boundary the benchmark crosses, with counts attached where the work
  * happens. Written out once, at the end of a traced run, with each
  * span's self time (its duration minus the part its children cover).
  */
final class Trace {
  final case class Span(id: Int, parent: Int, name: String, startMs: Double,
                        var endMs: Double, attrs: mutable.LinkedHashMap[String, Any])

  private val spans = mutable.ArrayBuffer.empty[Span]

  def open(name: String, parent: Int = -1, startMs: Double = Util.nowMs): Int =
    synchronized {
      val id = spans.size
      spans += Span(id, parent, name, startMs, Double.NaN, mutable.LinkedHashMap.empty)
      id
    }

  def close(id: Int, endMs: Double = Util.nowMs): Unit =
    synchronized { spans(id).endMs = endMs }

  def span(name: String, parent: Int, startMs: Double, endMs: Double,
           attrs: (String, Any)*): Int = {
    val id = open(name, parent, startMs)
    close(id, endMs)
    annotate(id, attrs: _*)
    id
  }

  def annotate(id: Int, attrs: (String, Any)*): Unit =
    synchronized { spans(id).attrs ++= attrs }

  def write(path: Path): Unit = synchronized {
    val kids = spans.groupBy(_.parent)
    val rows = spans.map { s =>
      val children = kids.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs)).toSeq
      val dur = s.endMs - s.startMs
      mutable.LinkedHashMap[String, Any](
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.startMs, "dur_ms" -> dur,
        "self_ms" -> (dur - Util.covered(children, s.startMs, s.endMs)),
        "attrs" -> s.attrs)
    }
    Files.createDirectories(path.getParent)
    Files.writeString(path, rows.map(Util.json).mkString("[\n", ",\n", "\n]\n"))
  }
}

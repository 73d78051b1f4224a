package etlbench

import java.nio.file.{Files, Paths}

/** Minimal JSON writer for the harness's result and span files. */
object Json {

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case i: Harness.Iter =>
      render(Map("kind" -> i.kind, "seconds" -> i.seconds, "digests" -> i.digests,
        "error" -> i.error, "alloc_mb" -> i.allocMb))
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append("\\u%04x".format(c.toInt))
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def write(path: String, v: Any): Unit = {
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.write(p, render(v).getBytes("UTF-8"))
  }

  /** Every recorded span: name, layer, parent, start/end (seconds from the
    * first span), self time and the Spark jobs filed under it. */
  def writeSpans(path: String, t: Tracer): Unit = {
    val t0 = t.spans.headOption.map(_.start).getOrElse(0L)
    write(path, t.spans.map { s =>
      Map("id" -> s.id, "name" -> s.name, "layer" -> s.layer, "parent" -> s.parent,
        "start_s" -> (s.start - t0) / 1e9, "end_s" -> (s.end - t0) / 1e9,
        "self_s" -> t.selfSeconds(s), "count" -> s.count,
        "jobs" -> t.sparkOf(s).jobs)
    })
  }
}

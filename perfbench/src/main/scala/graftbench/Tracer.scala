package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

/** One timed call into a layer: `parent` is the id of the enclosing
  * span (-1 at the top), `pass` the pass the call belongs to.
  */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
    parent: Int, pass: Int) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder for the traced run. Spans are recorded by
  * the harness around each layer's public call; nothing is written
  * until [[write]] at exit.
  */
final class Tracer {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var pass = -1

  def beginPass(p: Int): Unit = pass = p

  def span[T](name: String)(body: => T): T = {
    val id = spans.length
    val parent = stack.headOption.getOrElse(-1)
    spans += Span(id, name, System.nanoTime(), 0L, parent, pass)
    stack = id :: stack
    try body
    finally {
      stack = stack.tail
      spans(id) = spans(id).copy(endNs = System.nanoTime())
    }
  }

  /** Median duration of the spans called `name`. */
  def medianSeconds(name: String): Double =
    Window.median(spans.filter(_.name == name).map(_.seconds).toSeq)

  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val origin = spans.headOption.map(_.startNs).getOrElse(0L)
    val lines = spans.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","start_us":${(s.startNs - origin) / 1000},""" +
        s""""end_us":${(s.endNs - origin) / 1000},"parent":${s.parent},"pass":${s.pass}}"""
    }
    Files.write(path, lines.mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
  }
}

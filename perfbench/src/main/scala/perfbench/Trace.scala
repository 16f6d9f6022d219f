package perfbench

import scala.collection.mutable.ArrayBuffer

/** One traced interval. `op` names the operation it belongs to (a pass, a
  * trigger or a probe); `parent` is the id of the enclosing span, -1 for the
  * root. Times are epoch nanoseconds.
  */
final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int, op: String) {
  def ms: Double = (end - start) / 1e6
}

/** In-memory span recorder. Spans nest through a per-thread stack; spans
  * built from Spark's own progress reports are added with explicit times
  * and parent. Nothing is written until [[Tracer.writeJson]].
  */
final class Tracer {
  private val spans = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  @volatile var enabled = false
  @volatile var op = "setup"

  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis() * 1000000L
  def now(): Long = epochBase + (System.nanoTime() - nanoBase)

  def current: Int = stack.get.headOption.getOrElse(-1)

  def add(name: String, start: Long, end: Long, parent: Int, op: String): Int =
    spans.synchronized {
      val id = spans.size
      spans += Span(id, name, start, end, parent, op)
      id
    }

  /** Set the end of an open span (added with end 0). */
  def close(id: Int, end: Long = now()): Unit =
    spans.synchronized { spans(id) = spans(id).copy(end = end) }

  /** Attach the parentless spans of operation `op` to `parent`. */
  def adopt(op: String, parent: Int): Unit = spans.synchronized {
    spans.indices.foreach { i =>
      val s = spans(i)
      if (s.op == op && s.parent < 0 && s.id != parent && s.name != "run")
        spans(i) = s.copy(parent = parent)
    }
  }

  /** Run `body` inside a span named `name` (a no-op wrapper when disabled). */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = current
      val id = add(name, now(), 0L, parent, op)
      stack.set(id :: stack.get)
      try body
      finally {
        stack.set(stack.get.tail)
        close(id)
      }
    }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  def named(name: String): Seq[Span] = all.filter(_.name == name)

  /** Self time of every span name under `root`: each instant of the root's
    * interval is charged to the deepest span covering it, so the values
    * (root included, under its own name) sum exactly to the root's length.
    */
  def selfTimes(root: Span): Map[String, Double] = {
    val ss = all.filter(s => s.start < root.end && s.end > root.start)
    val byId = ss.map(s => s.id -> s).toMap
    def depth(s: Span): Int =
      if (s.id == root.id || s.parent < 0) 0
      else 1 + byId.get(s.parent).map(depth).getOrElse(0)
    val depths = ss.map(s => s.id -> depth(s)).toMap
    val cuts = (ss.flatMap(s => Seq(s.start, s.end)) ++ Seq(root.start, root.end))
      .filter(t => t >= root.start && t <= root.end).distinct.sorted
    val out = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    cuts.sliding(2).foreach {
      case Seq(a, b) if b > a =>
        val covering = ss.filter(s => s.start <= a && s.end >= b)
        val leaf = covering.maxBy(s => (depths(s.id), s.start))
        out(leaf.name) += (b - a) / 1e6
      case _ =>
    }
    out.toMap
  }

  def writeJson(path: String, extra: Map[String, Any]): Unit = {
    val sb = new StringBuilder("{\"spans\": [\n")
    sb ++= all.map { s =>
      s"""{"id": ${s.id}, "name": "${s.name}", "start_ns": ${s.start}, "end_ns": ${s.end}, """ +
        s""""parent": ${s.parent}, "op": "${s.op}"}"""
    }.mkString(",\n")
    sb ++= "]"
    extra.foreach { case (k, v) => sb ++= s""",\n"$k": ${Json.value(v)}""" }
    sb ++= "}\n"
    java.nio.file.Files.write(java.nio.file.Paths.get(path), sb.toString.getBytes("UTF-8"))
  }
}

/** Minimal JSON rendering for the result and trace files. */
object Json {
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k.toString) + ": " + value(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ", ", "]")
    case other => value(other.toString)
  }
}

package perfbench

import scala.collection.mutable

/** A timed call from the benchmark into one public function of an
  * engine module. `op` is the timed operation it ran under (-1 during
  * set-up), `parent` the enclosing span (-1 at top level). */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
                      parent: Int, op: Long)

/** Span recorder. Off in the measured (untraced) runs, where `span`
  * is a plain call; on in traced runs, where spans are kept in memory
  * and written out once the run ends. Single-client: every span opens
  * and closes on the benchmark's own thread. */
object Trace {
  @volatile var enabled = false
  @volatile var currentOp: Long = -1L
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = stack.headOption.getOrElse(-1)
      stack.push(id)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.pop()
        synchronized { spans += Span(id, name, t0, t1, parent, currentOp) }
      }
    }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Milliseconds per (op, span name), summed over repeated calls. */
  def msByOp: Map[Long, Map[String, Double]] =
    all.filter(_.op >= 0).groupBy(_.op).map { case (op, ss) =>
      op -> ss.groupMapReduce(_.name)(s => (s.endNs - s.startNs) / 1e6)(_ + _)
    }

  def writeJson(path: java.nio.file.Path, t0Ns: Long): Unit = {
    val sb = new StringBuilder("[\n")
    all.sortBy(_.startNs).zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(",\n")
      sb.append(s"""{"id":${s.id},"name":${Json.str(s.name)},"start_ms":${(s.startNs - t0Ns) / 1e6},""" +
        s""""end_ms":${(s.endNs - t0Ns) / 1e6},"parent":${s.parent},"op":${s.op}}""")
    }
    sb.append("\n]\n")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed call into a layer. `parent` is the id of the span that caused
  * it (-1 at the top); all spans of one operation share `op`.
  */
final case class Span(id: Int, parent: Int, op: Long, name: String,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Disabled, it runs the body and records nothing,
  * so the untraced run pays one branch per call. Spans opened on a thread
  * with no open span (a streaming query's own thread) hang under the
  * client's current operation span.
  */
final class Tracer {
  @volatile var enabled = false
  @volatile private var op = 0L
  @volatile private var opSpan = -1
  private val spans = ArrayBuffer[Span]()
  private var nextId = 0
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }

  /** Open the span of client operation number `n`. */
  def operation[T](name: String, n: Long)(body: => T): T =
    if (!enabled) body
    else {
      op = n
      span(name) {
        opSpan = stack.get.head
        try body finally opSpan = -1
      }
    }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = stack.get.headOption.getOrElse(opSpan)
      val myOp = op
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        synchronized { spans += Span(id, parent, myOp, name, t0, t1) }
      }
    }

  def all: Seq[Span] = synchronized(spans.toList)
}

object Spans {

  /** Self time of every span: its duration minus the part of its interval
    * that its children cover (overlapping children are counted once).
    */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else if (b > curB) curB = b
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** Per span name: (count, total seconds, total self seconds). */
  def byName(spans: Seq[Span]): Seq[(String, Int, Double, Double)] = {
    val self = selfNs(spans)
    spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) =>
      (n, ss.size, ss.map(_.durNs).sum / 1e9, ss.map(s => self(s.id)).sum / 1e9)
    }
  }

  def toJson(spans: Seq[Span]): String = {
    val self = selfNs(spans)
    spans.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":${Json.str(s.name)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ns":${self(s.id)}}"""
    }.mkString("[\n", ",\n", "\n]\n")
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

  def num(x: Double): String = {
    require(!x.isNaN && !x.isInfinite, s"metric value $x is not a finite number")
    java.lang.Double.toString(x)
  }
}

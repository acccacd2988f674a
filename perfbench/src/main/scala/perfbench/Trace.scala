package perfbench

import scala.collection.mutable

/** One timed interval at a layer boundary. Times are `System.nanoTime`. */
final case class Span(id: Int, parent: Int, name: String, iter: Int,
                      start: Long, end: Long) {
  def dur: Long = end - start
}

/** Span recorder. Untraced iterations use [[Spans.Off]], which only runs the
  * body; traced ones record every span in memory, and the run writes them
  * out when it ends. */
sealed trait Spans {
  def apply[A](name: String)(body: => A): A
}

object Spans {
  object Off extends Spans {
    def apply[A](name: String)(body: => A): A = body
  }
}

final class Tracer extends Spans {
  private val done = mutable.ArrayBuffer.empty[Span]
  private val leaves = mutable.Set.empty[Int]
  private var open = List.empty[(Int, String, Long)]
  private var nextId = 1
  var iter = 0

  def apply[A](name: String)(body: => A): A = {
    val id = nextId
    nextId += 1
    open = (id, name, System.nanoTime()) :: open
    try body
    finally {
      val end = System.nanoTime()
      val (_, _, start) = open.head
      open = open.tail
      done += Span(id, open.headOption.map(_._1).getOrElse(0), name, iter, start, end)
    }
  }

  /** Record an interval measured elsewhere (a Spark job) under the innermost
    * span of the current iteration that contains its start; such intervals
    * are leaves, never parents. */
  def addChild(name: String, start: Long, end: Long): Span = {
    val parent = done.iterator
      .filter(s => s.iter == iter && !leaves(s.id) && s.start <= start && start < s.end)
      .maxByOption(_.start).map(_.id).getOrElse(0)
    val s = Span(nextId, parent, name, iter, start, end)
    leaves += s.id
    nextId += 1
    done += s
    s
  }

  def spans: Seq[Span] = done.toSeq

  def children(s: Span): Seq[Span] = done.filter(_.parent == s.id).toSeq

  /** The span's duration minus the part of it that its children cover. */
  def selfTime(s: Span): Long = Tracer.selfTime(s, children(s))

  def write(path: String): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try done.sortBy(_.start).foreach { s =>
      out.println(Json(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "iter" -> s.iter, "start_ns" -> s.start, "end_ns" -> s.end)))
    } finally out.close()
  }
}

object Tracer {
  def selfTime(s: Span, children: Seq[Span]): Long =
    s.dur - Stats.unionLength(children.map(c =>
      (math.max(c.start, s.start), math.min(c.end, s.end))))
}

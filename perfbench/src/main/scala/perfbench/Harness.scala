package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** One attempted operation. `sec` is None when the op failed: a failed op
  * is never a timing sample.
  */
final case class Op(id: Int, kind: String, sec: Option[Double], error: Option[String],
    info: Map[String, Any])

/** Runs the timed operations of one workload, one at a time on the
  * calling thread (the benchmark's single client).
  */
final class Ops(tracer: Tracer) {
  val done = ArrayBuffer.empty[Op]

  /** Times `body`, then checks its result with `check` after the clock
    * has stopped. An op whose body throws, or whose check returns an
    * error, is recorded as failed and its time is dropped.
    */
  def run[A](kind: String, info: Map[String, Any] = Map.empty)(body: => A)(
      check: A => Option[String]): Option[A] = {
    val id = done.size
    val t0 = System.nanoTime()
    val res = try Right(tracer.span(kind, id)(body)) catch { case NonFatal(e) => Left(e) }
    val sec = (System.nanoTime() - t0) / 1e9
    val err = res match {
      case Left(e) => Some(describe(e))
      case Right(a) => try check(a) catch { case NonFatal(e) => Some("check threw " + describe(e)) }
    }
    done += Op(id, kind, if (err.isEmpty) Some(sec) else None, err, info)
    if (err.isEmpty) res.toOption else None
  }

  def attempted: Int = done.size
  def failed: Int = done.count(_.error.isDefined)

  private def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
}

/** In-memory spans around the benchmark's calls into the engine. Disabled,
  * `span` only runs its body.
  */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Int, name: String, parent: Int, opId: Int, startMs: Long,
      startNs: Long, var endMs: Long = -1L, var endNs: Long = -1L) {
    def sec: Double = (endNs - startNs) / 1e9
  }

  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  def span[A](name: String, opId: Int = -1)(body: => A): A =
    if (!enabled) body
    else {
      val parent = stack.headOption
      val s = Span(spans.size, name, parent.fold(-1)(_.id),
        if (opId >= 0) opId else parent.fold(-1)(_.opId),
        System.currentTimeMillis(), System.nanoTime())
      spans += s
      stack = s :: stack
      try body
      finally {
        s.endMs = System.currentTimeMillis()
        s.endNs = System.nanoTime()
        stack = stack.tail
      }
    }

  /** The innermost span open at wall-clock `ms`: the client is one thread,
    * so open spans nest and the innermost one is unique.
    */
  def spanAt(ms: Long): Option[Span] = {
    var best: Option[Span] = None
    spans.foreach { s =>
      if (s.startMs <= ms && (s.endMs < 0 || ms <= s.endMs)) best = Some(s)
    }
    best
  }

  /** Span ids of `root` and every span below it. */
  def subtree(root: Span): Set[Int] = {
    val ids = scala.collection.mutable.Set(root.id)
    spans.foreach(s => if (ids(s.parent)) ids += s.id)
    ids.toSet
  }
}

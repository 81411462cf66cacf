package graft.perfbench

import scala.collection.mutable.ArrayBuffer

/** One recorded span: a named interval with the span that caused it
  * (`parent` = 0 for a root) and the run it belongs to. Times are
  * `System.nanoTime` values.
  */
final case class Span(id: Long, name: String, start: Long, end: Long,
    parent: Long, run: String) {
  def durNs: Long = end - start
}

/** In-memory span recorder. Spans are recorded only while [[on]] is set,
  * around the benchmark's own calls into each layer; they are kept in
  * memory and written out once, when the run ends.
  */
object Trace {
  @volatile var on: Boolean = false
  @volatile var run: String = "untraced"

  private val spans = ArrayBuffer[Span]()
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1L)
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  /** Time `body` as span `name`, nested under the innermost open span of
    * this thread. A no-op wrapper while tracing is off.
    */
  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = nextId.getAndIncrement()
      val parent = stack.get().headOption.getOrElse(0L)
      stack.set(id :: stack.get())
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get().tail)
        spans.synchronized { spans += Span(id, name, t0, t1, parent, run) }
      }
    }

  /** Record an already-measured span (e.g. one rebuilt from streaming
    * progress); returns its id so children can point at it.
    */
  def add(name: String, start: Long, end: Long, parent: Long = 0L): Long =
    if (!on) 0L
    else {
      val id = nextId.getAndIncrement()
      spans.synchronized { spans += Span(id, name, start, end, parent, run) }
      id
    }

  def all: Seq[Span] = spans.synchronized(spans.toSeq)

  def reset(): Unit = spans.synchronized(spans.clear())

  /** Self time per span id: duration minus the part of the span's interval
    * its children cover (children of one span never overlap here: they
    * are recorded sequentially by one thread or laid end to end).
    */
  def selfNs(ss: Seq[Span]): Map[Long, Long] = {
    val kids = ss.groupBy(_.parent)
    ss.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map { c =>
        math.max(0L, math.min(c.end, s.end) - math.max(c.start, s.start))
      }.sum
      s.id -> math.max(0L, s.durNs - covered)
    }.toMap
  }

  /** Total self time of every span named `name`, in ms. */
  def selfMs(ss: Seq[Span], name: String): Double = {
    val self = selfNs(ss)
    ss.filter(_.name == name).map(s => self(s.id)).sum / 1e6
  }

  /** Write spans as JSON lines (one span per line) with self times. */
  def write(path: java.nio.file.Path, ss: Seq[Span]): Unit = {
    val self = selfNs(ss)
    val lines = ss.sortBy(_.start).map { s =>
      s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.start},""" +
        s""""end_ns":${s.end},"parent":${s.parent},"run":"${s.run}",""" +
        s""""self_ns":${self(s.id)}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One timed call into a layer: `parent` is the span that caused it (0 =
  * none) and `op` the benchmark operation it belongs to.
  */
final case class Span(id: Long, name: String, start: Long, end: Long,
    parent: Long, op: Long, phase: String) {
  def nanos: Long = end - start
}

/** Where a span recorded on another thread (a frontend worker, the origin)
  * should hang: the operation and parent span bound to a routing key.
  */
final case class SpanCtx(op: Long, parent: Long, phase: String)

/** In-memory span store. Spans are kept until the run ends and then
  * written out as one JSON line each. A disabled trace records nothing,
  * so untraced runs pay only a branch per call site.
  */
final class Trace(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ctx = new ConcurrentHashMap[String, SpanCtx]()

  def newId(): Long = ids.incrementAndGet()

  def add(s: Span): Unit = if (enabled) spans.add(s)

  /** Time `body` as a span; the body receives the span's id so nested
    * calls can name it as their parent.
    */
  def span[T](name: String, parent: Long, op: Long, phase: String = "")(body: Long => T): T = {
    val id = newId()
    val t0 = System.nanoTime()
    try body(id)
    finally add(Span(id, name, t0, System.nanoTime(), parent, op, phase))
  }

  def bind(key: String, c: SpanCtx): Unit = if (enabled) ctx.put(key, c)
  def unbind(key: String): Unit = if (enabled) ctx.remove(key)
  def lookup(keys: String*): SpanCtx =
    keys.iterator.map(k => ctx.get(k)).find(_ != null).getOrElse(SpanCtx(0, 0, ""))

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time of `s`: its duration minus the union of its children. */
  def selfNanos(s: Span, children: Seq[Span]): Long =
    s.nanos - Util.unionLength(children.map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
      .filter { case (a, b) => b > a })

  def write(path: Path, extra: Seq[String]): Unit = {
    Files.createDirectories(path.getParent)
    val w = Files.newBufferedWriter(path)
    try {
      extra.foreach { l => w.write(l); w.write('\n') }
      all.sortBy(_.start).foreach { s =>
        w.write(s"""{"span":${s.id},"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end},""" +
          s""""parent":${s.parent},"op":${s.op},"phase":"${s.phase}"}""")
        w.write('\n')
      }
    } finally w.close()
  }

}

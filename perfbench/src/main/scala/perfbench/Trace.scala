package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One timed interval at a layer boundary. `parent` is the id of the span
  * that was open on the same thread when this one started (0 = none);
  * `request` groups the spans of one benchmark call.
  */
final case class Span(
    id: Long, parent: Long, request: Long, name: String, op: String,
    startNs: Long, endNs: Long, thread: String)

/** In-memory span recorder. Disabled, `span` only runs its body, so an
  * untraced phase pays one branch per boundary.
  */
final class Tracer {
  @volatile var enabled = false
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val open = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val currentRequest = ThreadLocal.withInitial[Long](() => 0L)

  def newRequest(): Long = {
    val r = ids.incrementAndGet(); currentRequest.set(r); r
  }

  def span[T](name: String, op: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val stack = open.get()
      val parent = stack.headOption.getOrElse(0L)
      open.set(id :: stack)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open.set(stack)
        spans.add(Span(id, parent, currentRequest.get(), name, op, t0, t1,
          Thread.currentThread().getName))
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)
}

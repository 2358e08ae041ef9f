package nrtbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext

/** One timed call into a layer, recorded around a public API call from
  * the benchmark's side. `attrs` carries counts measured at the same
  * boundary (files added by a merge, rows a load moved, ...).
  */
final case class Span(
    id: Long, name: String, parent: Long, thread: String,
    startNs: Long, endNs: Long, attrs: Map[String, Double]) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Disabled, `span` is a plain call: the
  * untraced run pays nothing but a branch. Enabled, each span names
  * itself in a SparkContext local property so [[SparkWork]] can charge
  * the Spark jobs it submits to it; the innermost open span on a thread
  * wins.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val ids = new AtomicLong(0L)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  private val pendingAttrs = new ThreadLocal[List[mutable.Map[String, Double]]] {
    override def initialValue() = Nil
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body else timed(name, setProperty = true, None)(body)

  /** A span whose parent was opened on another thread (a loader's pool
    * thread working for the run that started it).
    */
  def spanUnder[T](parent: Long, name: String)(body: => T): T =
    if (!enabled) body else timed(name, setProperty = true, Some(parent))(body)

  /** The innermost open span of this thread, 0 if none. */
  def current: Long = stack.get().headOption.getOrElse(0L)

  /** A span that does not name itself to Spark: used around stream
    * starts, whose query threads would otherwise inherit the property
    * and charge every later micro-batch to the start call.
    */
  def spanQuiet[T](name: String)(body: => T): T =
    if (!enabled) body else {
      val prev = sc.getLocalProperty(Tracer.Key)
      sc.setLocalProperty(Tracer.Key, null)
      try timed(name, setProperty = false, None)(body)
      finally sc.setLocalProperty(Tracer.Key, prev)
    }

  /** Attach a count to the innermost open span of this thread. */
  def attr(key: String, value: Double): Unit =
    if (enabled) pendingAttrs.get().headOption.foreach(m => m(key) = m.getOrElse(key, 0.0) + value)

  private def timed[T](name: String, setProperty: Boolean, under: Option[Long])(body: => T): T = {
    val id = ids.incrementAndGet()
    val parent = under.getOrElse(current)
    val prevProp = sc.getLocalProperty(Tracer.Key)
    val attrs = mutable.Map.empty[String, Double]
    stack.set(id :: stack.get())
    pendingAttrs.set(attrs :: pendingAttrs.get())
    if (setProperty) sc.setLocalProperty(Tracer.Key, id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      if (setProperty) sc.setLocalProperty(Tracer.Key, prevProp)
      stack.set(stack.get().tail)
      pendingAttrs.set(pendingAttrs.get().tail)
      done.add(Span(id, name, parent, Thread.currentThread().getName, t0, t1, attrs.toMap))
    }
  }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.startNs)
}

object Tracer {
  val Key = "nrtbench.span"
}

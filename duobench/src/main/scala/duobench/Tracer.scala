package duobench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One recorded span in duo's own span schema (`id`, `parent_id`,
  * `trace_id`, `name`, `process_id`, `start`, `end`, `tags`; times are
  * epoch microseconds). `startNs`/`endNs` keep the monotonic clock the
  * self times are computed from.
  */
final case class TSpan(id: Long, parentId: Option[Long], traceId: Long,
    name: String, processId: String, startNs: Long, endNs: Long,
    tags: Map[String, String]) {
  def durNs: Long = endNs - startNs
}

/** Spans around the layer calls a route handler makes. A request's
  * span is the root; every layer call inside it is a child. Disabled,
  * a span is just its body. Spans stay in memory until [[spans]] is
  * read at the end of a run.
  */
final class Tracer(val enabled: Boolean, processId: String = "duobench-0") {
  private val recorded = new ConcurrentLinkedQueue[TSpan]
  import Tracer.Open
  private val ids = new AtomicLong(1L)
  private val stack = ThreadLocal.withInitial[List[Open]](() => Nil)
  private val lastRoot = ThreadLocal.withInitial[java.lang.Long](() => 0L)

  /** Run `body` inside a span named `name`, a child of this thread's
    * current span, or a new trace's root when there is none.
    */
  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val parent = stack.get.headOption
      val id = ids.getAndIncrement()
      val open = Open(id, parent.map(_.traceId).getOrElse(id),
        scala.collection.mutable.Map.empty)
      stack.set(open :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        if (parent.isEmpty) lastRoot.set(id)
        recorded.add(TSpan(id, parent.map(_.id), open.traceId, name,
          processId, t0, t1, open.tags.toMap))
      }
    }

  /** Tag this thread's innermost open span. */
  def tag(key: String, value: Any): Unit =
    if (enabled) stack.get.headOption.foreach(_.tags(key) = value.toString)

  /** The id of the root span this thread closed last (0 when none). */
  def lastRootId: Long = if (enabled) lastRoot.get.longValue else 0L

  /** The id of this thread's innermost open span (0 when none). */
  def currentId: Long = if (enabled) stack.get.headOption.map(_.id).getOrElse(0L) else 0L

  def spans: Seq[TSpan] = recorded.asScala.toSeq

  /** Spans as JSON lines in duo's span schema. */
  def toJsonLines(epochOffsetNs: Long): Iterator[String] = spans.iterator.map { s =>
    def us(ns: Long) = (ns + epochOffsetNs) / 1000L
    val tags = s.tags.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }
      .mkString("{", ",", "}")
    s"""{"id":${s.id},"parent_id":${s.parentId.map(_.toString).getOrElse("null")},""" +
      s""""trace_id":${s.traceId},"name":"${esc(s.name)}",""" +
      s""""process_id":"${esc(s.processId)}","start":${us(s.startNs)},""" +
      s""""end":${us(s.endNs)},"tags":"${esc(tags)}"}"""
  }

  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
}

object Tracer {
  private final case class Open(id: Long, traceId: Long,
      tags: scala.collection.mutable.Map[String, String])

  /** Per-trace self times: a span's duration minus its children's.
    * `byLayer` sums the self time of every non-root span by name; the
    * root's own self time is the `remainder` no layer claims. The two
    * add up to the root's duration exactly, so nothing is dropped.
    */
  final case class Breakdown(root: TSpan, byLayer: Map[String, Long],
      remainderNs: Long) {
    def totalNs: Long = root.durNs
    def attributedNs: Long = byLayer.values.sum
  }

  def breakdowns(spans: Seq[TSpan]): Seq[Breakdown] = {
    val children = spans.filter(_.parentId.isDefined).groupBy(_.parentId.get)
    def self(s: TSpan): Long =
      s.durNs - children.getOrElse(s.id, Nil).map(_.durNs).sum
    spans.groupBy(_.traceId).values.flatMap { tr =>
      tr.find(_.parentId.isEmpty).map { root =>
        val layers = tr.filter(_.parentId.isDefined)
          .groupMapReduce(_.name)(self)(_ + _)
        Breakdown(root, layers, self(root))
      }
    }.toSeq.sortBy(_.root.startNs)
  }
}

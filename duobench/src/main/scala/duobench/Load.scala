package duobench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** One timed call. `dueNs` is when the call was due: for a closed-loop
  * client, the moment its previous answer arrived. Latency runs from the
  * due time, so time the client lost before sending is charged to the
  * call, never hidden.
  */
final case class Outcome(client: Int, call: Call, dueNs: Long, sentNs: Long,
    doneNs: Long, answer: Option[Answer], error: Option[String], rootSpan: Long = 0L) {
  def route: String = call.route
  def ok: Boolean = error.isEmpty
  def latencyMs: Double = (doneNs - dueNs) / 1e6
  def lateMs: Double = (sentNs - dueNs) / 1e6
}

/** Outcomes of one pass and the rules for counting them. */
final class Tally {
  private val all = new ConcurrentLinkedQueue[Outcome]

  def add(o: Outcome): Unit = all.add(o)
  def outcomes: Seq[Outcome] = all.asScala.toSeq.sortBy(_.dueNs)

  def attempted: Int = all.size
  def failed: Int = all.asScala.count(!_.ok)

  /** Latencies of the successful calls of one route: a failed call is
    * never a sample, so it can never count as a fast one.
    */
  def latencies(route: String): Seq[Double] =
    all.asScala.iterator.filter(o => o.ok && o.route == route).map(_.latencyMs).toSeq

  def errors: Seq[String] = all.asScala.iterator
    .flatMap(o => o.error.map(e => s"${o.route}: $e")).toSeq
}

object Load {

  /** Call `f`, record the outcome, return the answer when it passed
    * `check`. A thrown exception or a failed check is a failed call.
    * The call is done when `f` returns: checking the answer is the
    * benchmark's work, not the program's.
    */
  def timed(tally: Tally, client: Int, call: Call, dueNs: Long,
      check: Answer => Option[String], spanOf: => Long = 0L)(f: => Answer): Option[Answer] = {
    val sent = System.nanoTime()
    val answer = try Right(f) catch { case NonFatal(e) => Left(e.toString) }
    val done = System.nanoTime()
    val error = answer.fold(Some(_), check)
    tally.add(Outcome(client, call, dueNs, sent, done, answer.toOption, error, spanOf))
    if (error.isEmpty) answer.toOption else None
  }

  /** Closed loop: `clients` threads, each sending its next call as soon
    * as the previous answer is in, until `deadlineNs`.
    */
  def closedLoop(clients: Int, deadlineNs: Long)(client: Int => () => Unit): Unit = {
    val threads = (0 until clients).map { c =>
      val step = client(c)
      val t = new Thread(() => while (System.nanoTime() < deadlineNs) step(),
        s"duobench-client-$c")
      t.start()
      t
    }
    threads.foreach(_.join())
  }
}

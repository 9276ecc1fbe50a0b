package duobench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler._

/** Spark work per traced request, from a listener the benchmark
  * registers. A request is named by the local property [[Key]] set on
  * the thread that runs it; its jobs, stages and tasks are charged to
  * that name.
  */
final class SparkProbe extends SparkListener {

  final class Work {
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var taskBusyMs = 0L
    @volatile var schedWaitMs = 0L
    @volatile var shuffleBytes = 0L
    @volatile var rowsRead = 0L
  }

  private val work = new ConcurrentHashMap[String, Work]
  private val stageOwner = new ConcurrentHashMap[Int, String]
  private val stageSubmit = new ConcurrentHashMap[Int, Long]
  private val stageLastLaunch = new ConcurrentHashMap[Int, Long]
  @volatile private var started = 0
  @volatile private var ended = 0

  private def of(req: String): Work = work.computeIfAbsent(req, _ => new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    started += 1
    Option(e.properties).flatMap(p => Option(p.getProperty(SparkProbe.Key)))
      .foreach { req =>
        of(req).jobs += 1
        e.stageIds.foreach(s => stageOwner.put(s, req))
      }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { ended += 1 }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t => stageSubmit.put(e.stageInfo.stageId, t))

  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    stageLastLaunch.merge(e.stageId, e.taskInfo.launchTime, (a, b) => math.max(a, b))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    Option(stageOwner.get(e.stageId)).foreach { req =>
      val w = of(req)
      w.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        w.taskBusyMs += m.executorRunTime
        w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        w.rowsRead += m.inputMetrics.recordsRead
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    Option(stageOwner.get(id)).foreach { req =>
      val w = of(req)
      w.stages += 1
      // how long the stage waited until its last task was launched
      for (s <- Option(stageSubmit.get(id)); l <- Option(stageLastLaunch.get(id)))
        w.schedWaitMs += math.max(0L, l - s)
    }
  }

  /** Wait until every job the listener bus has announced has ended and
    * no new job starts for a short quiet period (events arrive
    * asynchronously).
    */
  def drain(maxWaitMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + maxWaitMs
    var lastStarted = -1
    while (System.currentTimeMillis() < deadline &&
        (started != ended || started != lastStarted)) {
      lastStarted = started
      Thread.sleep(200L)
    }
  }

  def workOf(req: String): Option[Work] = Option(work.get(req))
}

object SparkProbe {
  val Key = "duobench.request"
}

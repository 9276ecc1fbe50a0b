package duobench

import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.DuoEngine
import graft.ingest.SpanRecord
import graft.model.TagValue
import graft.query.{LogQueries, TraceQueries}

/** One closed-loop client's request stream: its own seeded random
  * source plus what it saw in its previous answers.
  */
final class ClientState(val id: Int, val rnd: Random) {
  var lastTraceIds: Vector[String] = Vector.empty
  /** Calls this client has made so far. */
  var calls = 0
  /** Searches this client has made so far: its place in the rotation. */
  var searches = 0
}

/** A workload: the store it builds, the calls its clients make, and
  * which routes its end-to-end metrics read.
  *
  * Everything is derived from the seed: the data, each client's call
  * stream and the write schedule. Nothing reads the wall clock except
  * to time calls.
  */
abstract class Workload(val seed: Long) {
  def name: String
  /** Route of `main_p50_ms`. */
  def mainRoute: String
  /** Second route, summarized next to the main one in the run log. */
  def sideRoute: String
  /** Read route whose traced calls give the per-layer read metrics. */
  def layerRoute: String
  /** Closed-loop clients: one. Each call then has every core to
    * itself, so its latency is the program's, not the interleaving of
    * concurrent calls on Spark's FIFO scheduler.
    */
  val clients: Int = 1

  protected val gen = new Gen(seed)
  val anchorUs: Long = gen.anchorUs
  /** The engine's clock: the end of the generated range, fixed. */
  def nowUs: Long

  /** JSON bytes of everything the store is fed (data + ingest). */
  @volatile var inputBytes: Long = 0L

  def truth: Truth

  /** Build the store: ingest, flush and maintain, each in its span. */
  def build(spark: SparkSession, engine: DuoEngine, tracer: Tracer): Unit

  def next(c: ClientState): Call

  def observe(c: ClientState, call: Call, a: Answer): Unit = call match {
    case Call.Traces(_) => c.lastTraceIds = Answers.traceIds(a.body)
    case _ => ()
  }

  /** Calls made before timing, inside set-up. */
  def warmup: Seq[Call]

  /** One measured pass of `seconds` over `ch`. */
  def run(spark: SparkSession, engine: DuoEngine, ch: Channel, tracer: Tracer,
      tally: Tally, seconds: Double): Unit =
    closedClients(ch, tracer, tally, clients, System.nanoTime() + (seconds * 1e9).toLong)

  protected def clientState(c: Int): ClientState =
    new ClientState(c, new Random(seed * 7919L + 101L * (c + 1)))

  protected def closedClients(ch: Channel, tracer: Tracer, tally: Tally, n: Int,
      deadlineNs: Long): Unit =
    Load.closedLoop(n, deadlineNs) { c =>
      val st = clientState(c)
      var due = System.nanoTime()
      () => {
        val call = next(st)
        Load.timed(tally, c, call, due, a => Answers.check(call, a, truth),
          tracer.lastRootId)(ch.call(call)).foreach(a => observe(st, call, a))
        due = System.nanoTime()
      }
    }

  // ---- shared building blocks ----

  protected def register(engine: DuoEngine, services: Seq[String]): Unit =
    services.foreach(s => (0 until Gen.ProcessesPerService).foreach { _ =>
      engine.processes.register(s, Map("host" -> TagValue.str(s"$s.local"),
        "pid" -> TagValue.i64(s.length * 100L))): Unit
    })

  protected def ingest(spark: SparkSession, engine: DuoEngine, tracer: Tracer,
      spans: Seq[SpanRecord], logs: Seq[LogRow]): Unit = {
    inputBytes += spans.map(Workload.spanBytes).sum + logs.map(_.json.length.toLong).sum
    val frame = Gen.logFrame(spark, logs)
    tracer.span("op.ingest")(tracer.span("engine.ingest")(engine.ingestBatch(spans, frame)))
  }

  protected def flush(engine: DuoEngine, tracer: Tracer): Unit =
    tracer.span("op.flush")(tracer.span("engine.flush")(engine.flush()))

  protected def maintain(engine: DuoEngine, tracer: Tracer): Unit =
    tracer.span("op.maintain")(tracer.span("engine.maintain")(engine.maintain(): Unit))

  protected def pick[A](rnd: Random, xs: Seq[A]): A = xs(rnd.nextInt(xs.size))
}

object Workload {
  val Names: Seq[String] = Seq("trace_search", "log_search")

  /** Cores the engine's Spark runs on: all of them, at most four. */
  val Cores: Int = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors()))

  def apply(name: String, seed: Long): Workload = name match {
    case "trace_search" => new TraceSearch(seed)
    case "log_search" => new LogSearch(seed)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected ${Names.mkString(", ")})")
  }

  /** Rough JSON size of a span record (the store-efficiency baseline). */
  def spanBytes(r: SpanRecord): Long =
    (96 + r.name.length + r.process_id.length +
      r.tags.map { case (k, v) => k.length + v.jsonToken.length + 4 }.sum).toLong
}

/** Trace search and drill-down over a cold store of minute partitions
  * with a hot tail in the memory view. The searches are a dashboard's
  * two panels, refreshed over and over, and drill-downs open one of the
  * newest traces of the previous answer: a working set that set-up
  * warms completely, so every measured call finds the engine's
  * cold-read memo and Spark's code caches filled. It measures the warm
  * cost of the trace routes.
  */
final class TraceSearch(seed: Long) extends Workload(seed) {
  val name = "trace_search"
  val mainRoute = "traces"
  val sideRoute = "trace_id"
  val layerRoute = "traces"

  private val Minutes = 30
  private val TracesN = 600
  val nowUs: Long = anchorUs + Minutes * Gen.MinuteUs
  private val hotFromUs = nowUs - Gen.MinuteUs

  private val traces = Vector.fill(TracesN)(gen.trace(anchorUs, nowUs))
    .sortBy(_.spans.head.start)

  /** Four fixed searches over 15-minute windows (the reference's
    * default window length), one per service, spread evenly over the
    * range, the last one reaching into the hot tail. Two are plain, one
    * names an operation and one a minimum duration.
    */
  private val deck: Vector[TraceQueries.TraceSearchParams] =
    Gen.Services.toVector.zipWithIndex.map { case (svc, i) =>
      val start = anchorUs + i * (Minutes - 15) * Gen.MinuteUs / (Gen.Services.size - 1)
      TraceQueries.TraceSearchParams(svc,
        operation = if (i == 2) Some(Gen.Ops(svc).head) else None,
        startUs = Some(start), endUs = Some(start + 15 * Gen.MinuteUs),
        minDurationUs = if (i == 3) Some(2000L) else None)
    }

  val truth: Truth = Truth(Gen.Services.toSet, Gen.Ops.map { case (k, v) => k -> v.toSet },
    traces.map(t => graft.api.Jaeger.renderId(t.traceId) -> t.spans.size).toMap)

  def build(spark: SparkSession, engine: DuoEngine, tracer: Tracer): Unit = {
    register(engine, Gen.Services)
    val (cold, hot) = traces.partition(_.spans.head.start < hotFromUs)
    ingest(spark, engine, tracer, cold.flatMap(_.spans), cold.flatMap(_.logs))
    flush(engine, tracer)
    maintain(engine, tracer)
    ingest(spark, engine, tracer, hot.flatMap(_.spans), hot.flatMap(_.logs))
  }

  /** 70% searches, cycling through the deck, 25% drill-downs into one
    * of the three newest traces of the previous answer, 5% service and
    * operation lists, in a fixed rotation so every run has the same mix.
    */
  def next(c: ClientState): Call = {
    c.calls += 1
    if (c.calls % 20 == 10)
      if (c.calls % 40 == 10) Call.Operations(pick(c.rnd, Gen.Services)) else Call.Services()
    else if (c.calls % 4 != 0 || c.lastTraceIds.isEmpty) {
      c.searches += 1
      Call.Traces(deck((c.id + c.searches) % deck.size))
    } else Call.TraceById(c.lastTraceIds(c.rnd.nextInt(math.min(3, c.lastTraceIds.size))))
  }

  /** The whole working set: every search of the deck and a drill-down. */
  def warmup: Seq[Call] = deck.map(Call.Traces(_)) :+
    Call.TraceById(graft.api.Jaeger.renderId(traces.last.traceId))
}

/** Log search and facet stats over a log store of minute partitions
  * (one flush, then a maintenance pass) whose hot tail arrives as JSON
  * through `POST /api/ingest/logs` and adds four dynamic columns: cold
  * files and the memory view carry different schemas. Every search
  * window is new, so the engine's cold-read memo misses and each call
  * plans its read of the store anew.
  */
final class LogSearch(seed: Long) extends Workload(seed) {
  val name = "log_search"
  val mainRoute = "logs"
  val sideRoute = "stats"
  val layerRoute = "logs"

  private val Minutes = 30
  private val ColdLogs = 6000
  private val HotBatches = 2
  private val HotLogs = 200
  val nowUs: Long = anchorUs + Minutes * Gen.MinuteUs

  private def logs(n: Int, fields: Seq[String]): Seq[LogRow] = Seq.fill(n) {
    val svc = Gen.Services(gen.rnd.nextInt(Gen.Services.size))
    val t = anchorUs + (gen.rnd.nextDouble() * (nowUs - anchorUs)).toLong
    gen.log(gen.processOf(svc), t, dynFields = fields)
  }

  /** The cold batch carries two dynamic fields; the hot JSON batches
    * carry all six, each batch with one malformed line.
    */
  private val cold = logs(ColdLogs, Gen.DynFields.take(2))
  private val hot = Seq.fill(HotBatches)(
    Call.Ingest(logs(HotLogs, Gen.DynFields).map(_.json) :+ "{\"time\": 1, broken", bad = 1))

  val truth: Truth = Truth(Gen.Services.toSet, Map.empty, Map.empty)

  def build(spark: SparkSession, engine: DuoEngine, tracer: Tracer): Unit = {
    register(engine, Gen.Services)
    ingest(spark, engine, tracer, Nil, cold)
    flush(engine, tracer)
    maintain(engine, tracer)
    // traced runs replay the route in-process; untraced ones go over HTTP
    val api = if (tracer.enabled) None else Some(new graft.api.HttpApi(engine))
    api.foreach(_.start())
    try {
      val ch = api.map(a => new HttpChannel(a.boundPort, Main.DeadlineMs): Channel)
        .getOrElse(new InProcessChannel(engine, tracer))
      hot.foreach { c =>
        inputBytes += c.lines.map(_.length.toLong).sum
        Answers.check(c, ch.call(c), truth).foreach(e =>
          throw new IllegalStateException(s"hot-tail ingest failed: $e"))
      }
    } finally api.foreach(_.stop())
  }

  private val statFields = Seq("level", "target", "region", "tenant", "cache_hit", "user_id")

  /** A 5-minute window starting anywhere in the range at microsecond
    * grain, so windows practically never repeat.
    */
  private def window(rnd: Random): (Long, Long) = {
    val len = 5L * Gen.MinuteUs
    val s = anchorUs + (rnd.nextDouble() * (nowUs - anchorUs - len)).toLong
    (s, s + len)
  }

  /** Log search expressions: SQL filters on base and dynamic columns,
    * and free text that is not SQL and so falls back to ILIKE.
    */
  private val exprs: Seq[String] = Seq(
    "level = 'ERROR'", "level IN ('WARN', 'ERROR')", "line > 200",
    "region = 'eu-west'", "user_id < 500", "latency_ms > 250.0",
    "cache_hit = true", "tenant = 'acme' AND level <> 'DEBUG'",
    "timeout", "connection refused", "target = 'db::pool' OR line < 20")

  /** The `k`-th log search of a client: expressions in rotation, a
    * quarter of the searches paged with `skip=50`.
    */
  private def logSearch(rnd: Random, exprs: Seq[String], k: Int): Call = {
    val (s, e) = window(rnd)
    Call.Logs(LogQueries.LogSearchParams(pick(rnd, Gen.Services), Some(s), Some(e),
      Some(exprs(k % exprs.size)), skip = if (k % 4 == 3) 50 else 0))
  }

  /** The `k`-th field stats call: fields in rotation, every third one
    * filtered.
    */
  private def fieldStats(rnd: Random, k: Int): Call = {
    val (s, e) = window(rnd)
    Call.Stats(statFields(k % statFields.size), LogQueries.LogSearchParams(
      pick(rnd, Gen.Services), Some(s), Some(e),
      if (k % 3 == 2) Some("level <> 'DEBUG'") else None))
  }

  /** In a fixed rotation of 20 calls: 12 log searches (60%), 7 field
    * stats (35%), and a schema or services call (5%).
    */
  def next(c: ClientState): Call = {
    val k = c.calls
    c.calls += 1
    val round = k / 20
    k % 20 match {
      case i if i < 12 => logSearch(c.rnd, exprs :+ "attempt > 2", c.id + round * 12 + i)
      case i if i < 19 => fieldStats(c.rnd, c.id + round * 7 + i - 12)
      case _ => if (round % 2 == 0) Call.Schema() else Call.Services()
    }
  }

  def warmup: Seq[Call] = {
    val st = clientState(-1)
    Seq(logSearch(st.rnd, exprs, 0), fieldStats(st.rnd, 0))
  }
}

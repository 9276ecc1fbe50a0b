package duobench

import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, Row}
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.DuoEngine
import graft.api.{ArrowSchemaJson, Jaeger}
import graft.model.Span
import graft.query.{LogQueries, TraceQueries}

/** A request with every parameter fixed: what one client sends. */
sealed trait Call {
  def route: String
  /** Whether the answer depends only on the store's contents (and so
    * must equal a recomputation over the same engine).
    */
  def pure: Boolean = true
}

object Call {
  final case class Services() extends Call { val route = "services" }
  final case class Operations(service: String) extends Call { val route = "operations" }
  final case class Traces(p: TraceQueries.TraceSearchParams) extends Call { val route = "traces" }
  final case class TraceById(id: String) extends Call { val route = "trace_id" }
  final case class Logs(p: LogQueries.LogSearchParams) extends Call { val route = "logs" }
  final case class Stats(field: String, p: LogQueries.LogSearchParams) extends Call {
    val route = "stats"
  }
  final case class Schema() extends Call { val route = "schema"; override def pure = false }
  /** A batch of JSON log lines, `bad` of them malformed. */
  final case class Ingest(lines: Seq[String], bad: Int) extends Call {
    val route = "ingest"; override def pure = false
  }

  private def enc(s: String) = URLEncoder.encode(s, UTF_8)

  private def window(start: Option[Long], end: Option[Long]): Seq[(String, String)] =
    start.map("start" -> _.toString).toSeq ++ end.map("end" -> _.toString)

  private def logParams(p: LogQueries.LogSearchParams): Seq[(String, String)] =
    Seq("service" -> p.service) ++ window(p.startUs, p.endUs) ++
      p.expr.map("expr" -> _) ++
      (if (p.skip != 0) Seq("skip" -> p.skip.toString) else Nil) ++
      Seq("limit" -> p.limit.toString)

  /** Method, path with query string, and body of the HTTP form. */
  def http(c: Call): (String, String, Option[String]) = {
    def get(path: String, q: Seq[(String, String)] = Nil) =
      ("GET", path + (if (q.isEmpty) "" else q.map { case (k, v) =>
        s"${enc(k)}=${enc(v)}" }.mkString("?", "&", "")), None)
    c match {
      case Services() => get("/api/services")
      case Operations(s) => get(s"/api/services/${enc(s)}/operations")
      case Traces(p) => get("/api/traces", Seq("service" -> p.service) ++
        p.operation.map("operation" -> _) ++ window(p.startUs, p.endUs) ++
        p.minDurationUs.map(m => "minDuration" -> s"${m}us") ++
        Seq("limit" -> p.limit.toString))
      case TraceById(id) => get(s"/api/traces/$id")
      case Logs(p) => get("/api/logs", logParams(p))
      case Stats(f, p) => get(s"/api/logs/stats/${enc(f)}",
        Seq("service" -> p.service) ++ window(p.startUs, p.endUs) ++
          p.expr.map("expr" -> _))
      case Schema() => get("/api/logs/schema")
      case Ingest(lines, _) => ("POST", "/api/ingest/logs", Some(lines.mkString("\n")))
    }
  }
}

/** An answer: status and body. */
final case class Answer(status: Int, body: String)

/** Where a client sends its calls. */
trait Channel {
  def call(c: Call): Answer
}

/** Real HTTP with the JDK client, one connection pool per channel. */
final class HttpChannel(port: Int, timeoutMs: Long) extends Channel {
  private val client = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(java.time.Duration.ofMillis(timeoutMs))
    .build()

  def call(c: Call): Answer = {
    val (method, path, body) = Call.http(c)
    val b = HttpRequest.newBuilder(java.net.URI.create(s"http://127.0.0.1:$port$path"))
      .timeout(java.time.Duration.ofMillis(timeoutMs))
    val req = body match {
      case Some(text) => b.POST(HttpRequest.BodyPublishers.ofString(text)).build()
      case None => b.method(method, HttpRequest.BodyPublishers.noBody()).build()
    }
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    Answer(resp.statusCode(), resp.body())
  }
}

/** The same calls in-process: the public engine, query and rendering
  * functions each route handler of `graft.api.HttpApi` calls, each
  * wrapped in a span of its layer. The rendering mirrors the handler's
  * private row-to-JSON helpers.
  */
final class InProcessChannel(engine: DuoEngine, tracer: Tracer) extends Channel {
  import Call._
  private val spark = engine.spark

  def call(c: Call): Answer = tracer.span(s"route.${c.route}") {
    val sc = spark.sparkContext
    sc.setLocalProperty(SparkProbe.Key, tracer.currentId.toString)
    try {
      val body = c match {
        case Services() =>
          val names = tracer.span("engine.meta")(engine.services())
          render(Jaeger.renderNames(names))
        case Operations(s) =>
          val df = tracer.span("query.build")(
            LogQueries.spanNames(table(engine.spanTable()), s))
          val rows = run(df)
          render(Jaeger.renderNames(rows.map(_.getString(0)).toSeq))
        case Traces(p) =>
          val spans = table(engine.spanTable(p.startUs, p.endUs))
          val logs = table(engine.logTable(p.startUs, p.endUs))
          traces(tracer.span("query.build")(TraceQueries.filterTraces(spark, spans, logs, p)))
        case TraceById(id) =>
          val spans = table(engine.spanTable())
          val logs = table(engine.logTable())
          traces(tracer.span("query.build")(
            TraceQueries.getTrace(spark, spans, logs, java.lang.Long.parseUnsignedLong(id))))
        case Logs(p) => logs(p)
        case Stats(f, p) =>
          val t = table(engine.logTable(p.startUs, p.endUs))
          tracer.span("query.build")(LogQueries.fieldStats(t, f, p)) match {
            case None => return Answer(404, s"Field $f not exists")
            case Some(df) =>
              val rows = run(df)
              render(JsonMethods.compact(JsonMethods.render(JArray(rows.toList.map { r =>
                JObject("value" -> InProcessChannel.value(r.get(0), f == "trace_id" || f == "span_id"),
                  "count" -> JLong(r.getLong(1)))
              }))))
          }
        case Schema() =>
          val s = tracer.span("engine.meta")(engine.currentLogSchema)
          render(ArrowSchemaJson.toJson(s))
        case Ingest(lines, _) =>
          val kept = lines.map(_.trim).filter(_.nonEmpty)
          val malformed = tracer.span("engine.ingest")(engine.ingestJsonLogs(kept))
          render(s"""{"accepted":${kept.size - malformed},"malformed":$malformed}""")
      }
      Answer(200, body)
    } finally sc.setLocalProperty(SparkProbe.Key, null)
  }

  private def table(df: => DataFrame): DataFrame = tracer.span("engine.table")(df)

  private def render(body: => String): String = tracer.span("api.render")(body)

  private def run(df: DataFrame): Array[Row] = {
    tracer.span("spark.plan")(df.queryExecution.executedPlan)
    val rows = tracer.span("spark.exec")(df.collect())
    if (tracer.enabled) {
      tracer.tag("rows", rows.length)
      tracer.tag("files", ScanFiles(df))
    }
    rows
  }

  private def logs(p: LogQueries.LogSearchParams): String = {
    val t = table(engine.logTable(p.startUs, p.endUs))
    val df = tracer.span("query.build")(LogQueries.search(t, p))
    val cols = df.columns.toSeq
    val rows = run(df)
    render(JsonMethods.compact(JsonMethods.render(
      JArray(rows.toList.map(r => InProcessChannel.logJson(cols, r))))))
  }

  private def traces(df: DataFrame): String = {
    val rows = run(df)
    render {
      val procs = engine.processes.all
      Jaeger.renderTraces(rows.toSeq.map { row =>
        val tid = row.getAs[Long]("trace_id")
        val spans = row.getAs[scala.collection.Seq[Row]]("spans").toSeq.map { s =>
          Span(s.getAs[Long]("id"),
            Option(s.getAs[java.lang.Long]("parent_id")).map(_.longValue()), tid,
            s.getAs[String]("name"), s.getAs[String]("process_id"),
            s.getAs[Long]("start"),
            Option(s.getAs[java.lang.Long]("end")).map(_.longValue()),
            Option(s.getAs[String]("tags")))
        }
        Jaeger.toJaegerTrace(tid, spans, procs)
      })
    }
  }
}

/** Parquet files an executed query read, from its scans' metrics. */
object ScanFiles extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  def apply(df: DataFrame): Long =
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
}

object InProcessChannel {
  private val logBaseOrder = Seq("process_id", "span_id", "trace_id", "level",
    "target", "file", "line", "time", "message")

  def value(v: Any, unsigned: Boolean): JValue = v match {
    case null => JNull
    case l: java.lang.Long if unsigned && l < 0L =>
      JInt(BigInt(java.lang.Long.toUnsignedString(l)))
    case s: String => JString(s)
    case l: java.lang.Long => JLong(l)
    case i: java.lang.Integer => JInt(BigInt(i.intValue()))
    case d: java.lang.Double => JDouble(d)
    case b: java.lang.Boolean => JBool(b)
    case other => JString(String.valueOf(other))
  }

  /** A log row in the route's wire shape: base fields in order, then
    * the non-null dynamic fields.
    */
  def logJson(cols: Seq[String], r: Row): JValue = {
    def v(n: String): JValue = cols.indexOf(n) match {
      case -1 => JNull
      case i => value(r.get(i), n == "trace_id" || n == "span_id")
    }
    val dynamic = cols.filterNot(logBaseOrder.contains).map(n => n -> v(n))
      .filter(_._2 != JNull)
    JObject((logBaseOrder.map(n => n -> v(n)) ++ dynamic).toList)
  }
}

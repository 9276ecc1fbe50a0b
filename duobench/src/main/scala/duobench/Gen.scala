package duobench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.ingest.SpanRecord
import graft.model.{Schemas, TagValue}

/** One generated log event: the base columns plus dynamic fields. */
final case class LogRow(processId: String, time: Long, traceId: Option[Long],
    spanId: Option[Long], level: String, target: String, file: String,
    line: Int, message: String, dyn: Map[String, Any]) {

  /** The event as one JSON line, the body format of
    * `POST /api/ingest/logs`.
    */
  def json: String = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val base = Seq("process_id" -> q(processId), "time" -> time.toString,
      "level" -> q(level), "target" -> q(target), "file" -> q(file),
      "line" -> line.toString, "message" -> q(message)) ++
      traceId.map("trace_id" -> _.toString) ++ spanId.map("span_id" -> _.toString)
    val dynamic = dyn.toSeq.sortBy(_._1).map {
      case (k, s: String) => k -> q(s)
      case (k, v) => k -> v.toString
    }
    (base ++ dynamic).map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
  }
}

/** One generated trace: its span records and the logs its spans emit. */
final case class GenTrace(traceId: Long, spans: Seq[SpanRecord], logs: Seq[LogRow])

/** Seeded synthetic telemetry. The same seed gives the same data; all
  * times hang off [[Gen.anchorUs]], never the wall clock.
  */
final class Gen(seed: Long) {
  import Gen._

  val rnd = new Random(seed)
  val anchorUs: Long = Gen.anchorUs(seed)
  private var seq = 0L

  private def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.size))
  private def id(): Long = rnd.nextLong() >>> 1

  def processOf(service: String): String = s"$service-${rnd.nextInt(ProcessesPerService)}"

  /** Random words from a fixed vocabulary. */
  def message(): String = Seq.fill(3 + rnd.nextInt(4))(pick(Words)).mkString(" ")

  def level(): String = {
    val r = rnd.nextDouble()
    if (r < 0.04) "ERROR" else if (r < 0.14) "WARN" else if (r < 0.64) "INFO" else "DEBUG"
  }

  def dynValue(field: String): Any = field match {
    case "user_id" => rnd.nextInt(5000).toLong
    case "region" => pick(Regions)
    case "latency_ms" => math.round(rnd.nextDouble() * 50000.0) / 100.0
    case "cache_hit" => rnd.nextBoolean()
    case "tenant" => pick(Tenants)
    case "attempt" => (1 + rnd.nextInt(4)).toLong
    case other => sys.error(s"unknown dynamic field $other")
  }

  /** A log event at `time`; each of `dynFields` is set with
    * probability 0.7.
    */
  def log(processId: String, time: Long, traceId: Option[Long] = None,
      spanId: Option[Long] = None, dynFields: Seq[String] = Nil): LogRow =
    LogRow(processId, time, traceId, spanId, level(), pick(Targets), pick(Files),
      1 + rnd.nextInt(400), message(),
      dynFields.filter(_ => rnd.nextDouble() < 0.7).map(f => f -> dynValue(f)).toMap)

  /** A trace whose root starts uniformly in [fromUs, toUs): a root span
    * of `service` (random when None) and 2–5 children across services,
    * each span emitting 0–2 logs.
    */
  def trace(fromUs: Long, toUs: Long, service: Option[String] = None): GenTrace = {
    val svc = service.getOrElse(pick(Services))
    val tid = id()
    val rootStart = fromUs + (rnd.nextDouble() * (toUs - fromUs - 2000000L)).toLong
    val rootDur = 1000L + (math.exp(rnd.nextDouble() * 6.5) * 100.0).toLong
    def rec(sid: Long, parent: Option[Long], s: String, start: Long, dur: Long) = {
      seq += 1
      val tags = Map(
        "component" -> TagValue.str(pick(Seq("http", "grpc", "db", "cache"))),
        "busy" -> TagValue.u64(dur * 600L),
        "status" -> TagValue.i64(if (rnd.nextDouble() < 0.03) 500L else 200L)) ++
        (if (rnd.nextDouble() < 0.02) Map("error" -> TagValue.bool(true)) else Map.empty)
      SpanRecord(seq, sid, parent, tid, pick(Ops(s)), processOf(s), start,
        Some(start + dur), tags)
    }
    val root = rec(id(), None, svc, rootStart, rootDur)
    val children = (1 to 2 + rnd.nextInt(4)).foldLeft(Vector(root)) { (acc, _) =>
      val parent = pick(acc)
      val pStart = parent.start
      val pEnd = parent.end.get
      val start = pStart + (rnd.nextDouble() * (pEnd - pStart) * 0.5).toLong
      val dur = math.max(10L, (rnd.nextDouble() * (pEnd - start)).toLong)
      val s = if (rnd.nextBoolean()) svc else pick(Services)
      acc :+ rec(id(), Some(parent.id), s, start, dur)
    }
    val logs = children.flatMap { sp =>
      Seq.fill(rnd.nextInt(3)) {
        val t = sp.start + (rnd.nextDouble() * (sp.end.get - sp.start)).toLong
        log(sp.process_id, t, Some(tid), Some(sp.id))
      }
    }
    GenTrace(tid, children, logs)
  }
}

object Gen {
  val Services: Seq[String] = Seq("api", "cart", "pay", "stock")
  val ProcessesPerService = 2
  val Ops: Map[String, Seq[String]] = Map(
    "api" -> Seq("home", "search", "checkout", "login"),
    "cart" -> Seq("add", "remove", "view", "merge"),
    "pay" -> Seq("authorize", "capture", "refund", "verify"),
    "stock" -> Seq("reserve", "release", "count", "lookup"))
  val Words: Seq[String] = Seq("connection", "timeout", "retry", "cache", "miss",
    "hit", "user", "order", "queue", "flush", "commit", "slow", "request",
    "backend", "token", "session", "refused", "reset", "upstream", "payload")
  val Targets: Seq[String] = Seq("http::server", "db::pool", "cache::lru",
    "queue::worker", "auth::jwt")
  val Files: Seq[String] = Seq("src/server.rs", "src/db.rs", "src/cache.rs",
    "src/queue.rs", "src/auth.rs")
  val Regions: Seq[String] = Seq("eu-west", "eu-north", "us-east", "us-west", "ap-south")
  val Tenants: Seq[String] = Seq("acme", "globex", "initech", "umbrella", "hooli", "stark")

  /** Dynamic log fields, in the order batches introduce them. */
  val DynFields: Seq[String] =
    Seq("user_id", "region", "latency_ms", "cache_hit", "tenant", "attempt")

  val MinuteUs: Long = 60L * 1000000L

  /** 02:00 UTC on a day of 2026 picked by the seed: every workload's
    * range (at most a few hours) stays inside one date partition.
    */
  def anchorUs(seed: Long): Long =
    1767225600000000L + Math.floorMod(seed, 365L) * 86400000000L + 120L * MinuteUs

  private def dynType(field: String): DataType = field match {
    case "user_id" | "attempt" => LongType
    case "latency_ms" => DoubleType
    case "cache_hit" => BooleanType
    case _ => StringType
  }

  /** Logs as a DataFrame in the base log schema plus the dynamic fields
    * any of them carries.
    */
  def logFrame(spark: SparkSession, logs: Seq[LogRow]): DataFrame = {
    val dyn = DynFields.filter(f => logs.exists(_.dyn.contains(f)))
    val schema = StructType(Schemas.logBase.fields ++
      dyn.map(f => StructField(f, dynType(f), nullable = true)))
    val rows = logs.map { l =>
      Row.fromSeq(Seq(l.processId, l.time,
        l.traceId.map(java.lang.Long.valueOf).orNull,
        l.spanId.map(java.lang.Long.valueOf).orNull,
        l.level, l.target, l.file, l.line, l.message) ++
        dyn.map(f => l.dyn.getOrElse(f, null)))
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }
}

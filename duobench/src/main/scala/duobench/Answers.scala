package duobench

import org.json4s._
import org.json4s.jackson.JsonMethods

/** What the generator knows to be true of the data it wrote. */
final case class Truth(
    services: Set[String],
    opsOf: Map[String, Set[String]],
    spansOfTrace: Map[String, Int])

/** Answer checks and digests. A check returns the reason an answer is
  * wrong, or None. A digest is the canonical content of an answer, so
  * two answers to one call compare equal exactly when they carry the
  * same traces, logs or counts.
  */
object Answers {
  import Call._

  def parse(body: String): Option[JValue] = JsonMethods.parseOpt(body)

  private def arr(j: JValue, field: String): List[JValue] = j \ field match {
    case JArray(xs) => xs
    case _ => Nil
  }
  private def str(j: JValue): String = j match {
    case JString(s) => s
    case JNull | JNothing => ""
    case other => JsonMethods.compact(JsonMethods.render(other))
  }
  private def num(j: JValue): BigInt = j match {
    case JInt(n) => n
    case JLong(n) => BigInt(n)
    case _ => BigInt(-1)
  }

  def check(c: Call, a: Answer, truth: Truth): Option[String] =
    if (a.status != 200) Some(s"status ${a.status}")
    else parse(a.body) match {
      case None => Some("unparseable body")
      case Some(j) => checkJson(c, j, truth)
    }

  private def fail(ok: Boolean, why: => String): Option[String] =
    if (ok) None else Some(why)

  private def checkJson(c: Call, j: JValue, truth: Truth): Option[String] = c match {
    case Traces(p) =>
      val ts = arr(j, "data")
      fail(ts.size <= p.limit, s"${ts.size} traces > limit ${p.limit}").orElse(
        ts.iterator.flatMap { t =>
          val roots = arr(t, "spans").filter(s => arr(s, "references").isEmpty)
          val procs = t \ "processes"
          val ok = roots.exists { r =>
            val svc = str(procs \ str(r \ "processID") \ "serviceName")
            val start = num(r \ "startTime").toLong
            svc == p.service &&
              p.operation.forall(_ == str(r \ "operationName")) &&
              p.startUs.forall(start >= _) && p.endUs.forall(start <= _) &&
              p.minDurationUs.forall(num(r \ "duration") >= _)
          }
          fail(ok, s"trace ${str(t \ "traceID")} has no root matching the search")
        }.nextOption())
    case TraceById(id) =>
      arr(j, "data") match {
        case List(t) if str(t \ "traceID") == id =>
          truth.spansOfTrace.get(id) match {
            case Some(n) if n != arr(t, "spans").size =>
              Some(s"trace $id has ${arr(t, "spans").size} spans, wrote $n")
            case _ => None
          }
        case ts => Some(s"trace $id answered ${ts.size} traces")
      }
    case Operations(s) =>
      val names = arr(j, "data").map(str).toSet
      fail(names.nonEmpty && names.subsetOf(truth.opsOf.getOrElse(s, Set.empty)),
        s"operations of $s: $names")
    case Services() =>
      val names = arr(j, "data").map(str).toSet
      fail(names == truth.services, s"services: $names")
    case Logs(p) =>
      j match {
        case JArray(rows) =>
          val times = rows.map(r => num(r \ "time").toLong)
          fail(rows.size <= p.limit &&
            rows.forall(r => str(r \ "process_id").startsWith(p.service)) &&
            times.forall(t => p.startUs.forall(t >= _) && p.endUs.forall(t <= _)) &&
            times.zip(times.drop(1)).forall { case (a, b) => a >= b },
            s"logs answer breaks service/window/order/limit (${p.service}, ${rows.size} rows)")
        case _ => Some("logs answer is not an array")
      }
    case Stats(_, _) =>
      j match {
        case JArray(items) =>
          val counts = items.map(i => num(i \ "count"))
          fail(items.size <= 20 && counts.forall(_ > 0) &&
            counts.zip(counts.drop(1)).forall { case (a, b) => a >= b },
            s"stats not a top-20 histogram: $counts")
        case _ => Some("stats answer is not an array")
      }
    case Schema() => fail(arr(j, "fields").nonEmpty, "schema without fields")
    case Ingest(lines, bad) =>
      val accepted = num(j \ "accepted")
      val malformed = num(j \ "malformed")
      fail(accepted + malformed == lines.size && malformed == bad,
        s"ingest of ${lines.size} lines ($bad bad): accepted $accepted malformed $malformed")
  }

  /** Trace ids of a trace-search answer. */
  def traceIds(body: String): Vector[String] =
    parse(body).toVector.flatMap(j => arr(j, "data").map(t => str(t \ "traceID")))

  def digest(c: Call, body: String): String = parse(body) match {
    case None => body
    case Some(j) => c match {
      case Traces(_) | TraceById(_) =>
        arr(j, "data").map(t => str(t \ "traceID") + ":" +
          arr(t, "spans").map(s => str(s \ "spanID")).sorted.mkString(","))
          .sorted.mkString(";")
      case Operations(_) | Services() => arr(j, "data").map(str).mkString(",")
      case Logs(_) => j match {
        case JArray(rows) => rows.map(r => Seq("time", "process_id", "span_id", "message")
          .map(f => str(r \ f)).mkString("|")).mkString(";")
        case _ => body
      }
      case Stats(_, _) => j match {
        case JArray(items) => items.map(i => str(i \ "value") + "=" + num(i \ "count"))
          .mkString(";")
        case _ => body
      }
      case Schema() => arr(j, "fields").map(f => str(f \ "name")).mkString(",")
      case Ingest(_, _) => body
    }
  }
}

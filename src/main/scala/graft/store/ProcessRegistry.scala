package graft.store

import scala.collection.mutable

import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.model.{Process, TagValue}

/** Process registry (duo/src/memory.rs:60-80,141-148): tiny JSON file of
  * registered processes, grouped by service name; registration assigns
  * "{service}-{n}" with n = current count for that service
  * (duo/src/memory.rs:112). Driver-side plain-file IO — this is metadata,
  * not data (SURVEY §1.5).
  *
  * Tags are TYPED (string/u64/i64/bool, the wire oneof) and persisted as
  * real JSON values via a real JSON codec (json4s), so tag text
  * containing braces, quotes, or escape sequences round-trips. Like the
  * reference (which stores serde_json::Value), the u64-vs-i64 split is
  * not observable in JSON: on reload, in-range integers come back as
  * i64, out-of-Long-range unsigned values as u64 bit patterns — the
  * Jaeger edge renders both as "int64" either way.
  *
  * IO goes through `StoreFs` so the registry file lives wherever the
  * store root does (S5: local path, HDFS, or object-store URI alike).
  */
final class ProcessRegistry(path: String) {

  private val procs = mutable.LinkedHashMap.empty[String, Process]
  load()

  /** Register a new process for `service`, persist, return its id. */
  def register(service: String, tags: Map[String, TagValue]): String =
    this.synchronized {
      val n = procs.valuesIterator.count(_.serviceName == service)
      val id = s"$service-$n"
      procs(id) = Process(id, service, tags)
      persist()
      id
    }

  def all: Seq[Process] = this.synchronized(procs.values.toSeq)

  def byService(service: String): Seq[Process] =
    this.synchronized(procs.values.filter(_.serviceName == service).toSeq)

  private[graft] def tagJson(v: TagValue): JValue =
    v.boolVal.map(JBool(_))
      .orElse(v.u64Val.map(u => JInt(BigInt(java.lang.Long.toUnsignedString(u)))))
      .orElse(v.i64Val.map(i => JInt(BigInt(i))))
      .getOrElse(JString(v.strVal.getOrElse("")))

  private def tagFromJson(j: JValue): TagValue = j match {
    case JBool(b) => TagValue.bool(b)
    case JInt(n) if n.isValidLong => TagValue.i64(n.toLong)
    case JInt(n) => TagValue.u64(n.toLong) // BigInt.toLong keeps the low 64 bits
    case JLong(n) => TagValue.i64(n)
    case JString(s) => TagValue.str(s)
    case other => TagValue.str(JsonMethods.compact(JsonMethods.render(other)))
  }

  private def persist(): Unit = {
    val ast = JArray(procs.values.toList.map { p =>
      JObject(
        "id" -> JString(p.id),
        "serviceName" -> JString(p.serviceName),
        "tags" -> JObject(p.tags.toList.sortBy(_._1)
          .map { case (k, v) => k -> tagJson(v) }))
    })
    StoreFs.writeString(path, JsonMethods.compact(JsonMethods.render(ast)))
  }

  private def load(): Unit = {
    StoreFs.readString(path).foreach { text =>
      JsonMethods.parseOpt(text).foreach {
        case JArray(entries) => entries.foreach {
          case JObject(fields) =>
            val m = fields.toMap
            (m.get("id"), m.get("serviceName")) match {
              case (Some(JString(id)), Some(JString(svc))) =>
                val tags = m.get("tags") match {
                  case Some(JObject(tf)) =>
                    tf.map { case (k, v) => k -> tagFromJson(v) }.toMap
                  case _ => Map.empty[String, TagValue]
                }
                procs(id) = Process(id, svc, tags)
              case _ => ()
            }
          case _ => ()
        }
        case _ => ()
      }
    }
  }
}

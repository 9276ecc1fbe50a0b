package graft.api

import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.DuoEngine
import graft.model.Span
import graft.query.{LogQueries, TraceQueries}

/** The reference's HTTP query façade (duo/src/web/mod.rs:72-82) over a
  * [[graft.DuoEngine]], on the JDK's built-in `HttpServer` — ZERO
  * added dependencies, which is what makes an HTTP layer possible in
  * this engine-scoped library at all. Routes and their wire shapes
  * follow the reference handler by handler:
  *
  *   - `GET /api/traces?service&operation&limit&start&end&minDuration&maxDuration`
  *     → JaegerData envelope of assembled traces (duo/src/web/trace.rs:36-41)
  *   - `GET /api/traces/:id` → envelope of `[trace]` / `[]`; a
  *     non-numeric id is 404 (trace.rs:62-78)
  *   - `GET /api/services` → envelope of service names (trace.rs:44-49)
  *   - `GET /api/services/:service/operations` → envelope of span
  *     names (trace.rs:52-59)
  *   - `GET /api/logs?service&limit&skip&start&end&expr` → BARE JSON
  *     array of logs in the reference `Log` serde shape — base fields
  *     in declaration order, dynamic fields flattened
  *     (duo/src/web/logs.rs:101-115, duo/src/models.rs:34-52)
  *   - `GET /api/logs/schema` → the live merged schema as
  *     arrow-schema serde JSON ([[ArrowSchemaJson]], logs.rs:37-39)
  *   - `GET /api/logs/stats/:field` → bare array of `{value, count}`;
  *     unknown field is 404 (logs.rs:64-98)
  *   - `GET /stats` → `{"process": {id: process}, "logs": n,
  *     "spans": m}` (mod.rs:96-105), the counts being the rows held
  *     in the hot memory views
  *   - `POST /api/ingest/logs` — EXTENSION (see `ingestLogs`): the
  *     raw-JSON log ingest edge over HTTP, since the reference's gRPC
  *     transport needs dependencies this library cannot take
  *   - `GET /api/generations/:table[?info=true]` — EXTENSION: retained
  *     time-travel coordinates (with `info=true`, each with its
  *     operation-audit JSON); `asof=<gen>` on `/api/logs` and
  *     `spanAsof`+`logAsof` on `/api/traces` answer from pinned
  *     generations, and `asofTs=<millis>` on both answers from ONE
  *     wall-clock coordinate (each table pinned to its newest
  *     generation ≤ T — consistent across tables by construction);
  *     `GET /api/changes?table&from&to[&keys][&removed]
  *     [&limit]` serves the generation-diff CDC (see `changes`)
  *
  * Query-parameter leniency mirrors deser.rs: `limit`/`skip` ignore
  * unparseable values (option_ignore_error; the reference parses a
  * usize, so a negative value is unparseable too), `start`/`end` are µs
  * integers, `minDuration`/`maxDuration` are duration strings through
  * the C2 parser (deser.rs:196-240 routes them through
  * parse_duration). A missing required `service` is 400, as axum's
  * Query extractor rejects it. The UI asset routes (mod.rs:26-55
  * serves the rust-embedded `duo-ui` build) are available OPT-IN via
  * `uiDir`: point it at a directory holding the built frontend and
  * every non-API GET serves from it with the reference's rewrites
  * (`""` → `index.html`, `trace*`/`search*` → `trace.html`, mime by
  * extension, octet-stream fallback, 404 otherwise). The frontend
  * BUILD itself stays out of the library (it is Svelte, not engine) —
  * but a user with the reference's `ui/` output drops it in unchanged.
  * Resolution is traversal-proof by REAL path (symlinks resolved):
  * the resolved target must stay under `uiDir`.
  *
  * Threading: handlers run on the server's executor and call
  * DataFrame actions; the engine's hot-view snapshot and stores are
  * safe for concurrent READS (queries never fence), and the ingest
  * route funnels into the engine's synchronized append path. Port 0
  * binds an ephemeral port (specs); [[boundPort]] reports it.
  *
  * Hardening knobs (all default-closed; the reference's permissive
  * tower-http layer is OPT-IN here because this API carries data):
  *   - `corsOrigin`: when set, responses carry
  *     `Access-Control-Allow-Origin` with that value and OPTIONS
  *     preflights answer the allow headers; when None (default) no
  *     CORS headers are emitted, so a browser on another origin
  *     cannot read responses.
  *   - `ingestToken`: when set, `POST /api/ingest/logs` requires
  *     `X-Graft-Token: <token>` (a non-simple header, which also
  *     forces a CORS preflight on cross-site attempts) — 401
  *     otherwise.
  *   - `maxIngestBytes`: the ingest body cap (413 beyond it) — an
  *     unbounded readAllBytes of an arbitrary POST would let one
  *     request OOM the driver.
  */
final class HttpApi(engine: DuoEngine, port: Int = 0,
    corsOrigin: Option[String] = None,
    ingestToken: Option[String] = None,
    maxIngestBytes: Int = 16 * 1024 * 1024,
    uiDir: Option[String] = None) {

  private val log = org.slf4j.LoggerFactory.getLogger(classOf[HttpApi])

  /** The UI root, resolved ONCE: a typo'd uiDir must fail loudly at
    * construction, not as indistinguishable 404s on every route.
    */
  private val uiRoot: Option[java.nio.file.Path] = uiDir.map { d =>
    val p = java.nio.file.Paths.get(d).toAbsolutePath.normalize
    require(java.nio.file.Files.isDirectory(p),
      s"uiDir is not a directory: $d")
    p
  }

  private val server =
    HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  server.createContext("/", (ex: HttpExchange) => handle(ex))
  // concurrent handlers (daemon threads so an exiting JVM never hangs
  // on the server): without an executor the JDK server dispatches
  // every request on ONE thread, and a single slow collect would
  // serialize the whole API behind it
  server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool(
    (r: Runnable) => {
      val t = new Thread(r, "http-api")
      t.setDaemon(true)
      t
    }))

  def boundPort: Int = server.getAddress.getPort

  def start(): Unit = server.start()

  def stop(): Unit = server.stop(0)

  // ---- dispatch ----

  private def handle(ex: HttpExchange): Unit = {
    try {
      val path = ex.getRequestURI.getPath
      val q = params(ex)
      if (ex.getRequestMethod == "OPTIONS") { preflight(ex); return }
      path match {
        case "/api/traces" => traces(ex, q)
        case p if p.startsWith("/api/traces/") =>
          traceById(ex, p.stripPrefix("/api/traces/"))
        case "/api/services" =>
          json(ex, 200, Jaeger.renderNames(engine.services()))
        case p if p.startsWith("/api/services/") &&
            p.endsWith("/operations") =>
          operations(ex, p.stripPrefix("/api/services/")
            .stripSuffix("/operations"))
        case "/api/ingest/logs" => ingestLogs(ex)
        case p if p.startsWith("/api/generations/") =>
          generations(ex, p.stripPrefix("/api/generations/"), q)
        case "/api/changes" => changes(ex, q)
        case "/api/logs" => logs(ex, q)
        case "/api/logs/schema" =>
          json(ex, 200, ArrowSchemaJson.toJson(engine.currentLogSchema))
        case p if p.startsWith("/api/logs/stats/") =>
          fieldStats(ex, p.stripPrefix("/api/logs/stats/"), q)
        case "/stats" => stats(ex)
        case p if uiRoot.isDefined &&
            (ex.getRequestMethod == "GET" ||
              ex.getRequestMethod == "HEAD") &&
            !p.startsWith("/api/") => staticFile(ex, p)
        case _ => text(ex, 404, "404")
      }
    } catch {
      // a handler bug must answer 500, never wedge the exchange open.
      // If the handler already sent response headers (failure mid-body
      // write), a second sendResponseHeaders would itself throw and
      // escape to the executor thread — skip the reply then. The
      // exception detail stays in the server log; clients get a
      // generic message (internal text is not a wire contract).
      case scala.util.control.NonFatal(e) =>
        log.warn(s"handler failed for ${ex.getRequestURI}", e)
        if (ex.getAttribute(HttpApi.SentAttr) == null)
          scala.util.Try(text(ex, 500, "internal error")): Unit
    } finally ex.close()
  }

  // ---- handlers ----

  private def traces(ex: HttpExchange, q: Map[String, String]): Unit =
    q.get("service") match {
      case None => text(ex, 400, "missing required parameter: service")
      case Some(service) =>
        val p = TraceQueries.TraceSearchParams(
          service = service,
          operation = q.get("operation"),
          startUs = q.get("start").flatMap(_.toLongOption),
          endUs = q.get("end").flatMap(_.toLongOption),
          minDurationUs = q.get("minDuration")
            .flatMap(graft.functions.Timing.parseDuration),
          maxDurationUs = q.get("maxDuration")
            .flatMap(graft.functions.Timing.parseDuration),
          limit = pageParam(q, "limit", 20))
        // EXTENSION: AS-OF search over pinned retained generations of
        // BOTH stores (spanAsof + logAsof, required together), or over
        // ONE wall-clock instant (`asofTs=<millis>` — both tables pin
        // to their newest generation committed ≤ T, so the answer can
        // never mix epochs when later commits landed on only one
        // table) — the engine's time-travel surface made remotely
        // reachable
        // a time-travel request with an unparseable coordinate must
        // fail, never silently answer from the present epoch (same
        // rule as the logs handler)
        val asofTs = q.get("asofTs").flatMap(_.toLongOption)
        if (q.contains("asofTs") && asofTs.isEmpty)
          return text(ex, 400, "asofTs must be epoch milliseconds")
        (q.get("spanAsof"), q.get("logAsof"), asofTs) match {
          case (None, None, None) =>
            json(ex, 200,
              Jaeger.renderTraces(collectTraces(engine.searchTraces(p))))
          case (None, None, Some(ts)) =>
            engine.searchTracesAsOf(p, ts) match {
              case None => text(ex, 404,
                "no generation at or before asofTs on both tables " +
                  "(predates retention, or never committed)")
              case Some(df) =>
                json(ex, 200, Jaeger.renderTraces(collectTraces(df)))
            }
          case (Some(sg), Some(lg), None) =>
            engine.searchTracesAsOf(p, sg, lg) match {
              case None => text(ex, 404,
                "generation not retained (pruned or never committed)")
              case Some(df) =>
                json(ex, 200, Jaeger.renderTraces(collectTraces(df)))
            }
          case _ => text(ex, 400,
            "pass spanAsof and logAsof together, or asofTs alone")
        }
    }

  /** EXTENSION: the retained time-travel coordinates of one table's
    * store, oldest → newest — what an operator passes as `asof` /
    * `spanAsof` / `logAsof` / the CDC bounds. Unknown table is 404.
    * With `info=true`, each coordinate comes as `{"gen":…,"info":…}`
    * where info is the generation's operation-audit JSON (null for
    * pre-audit generations) — which commit was the compaction, what
    * did expire cut.
    */
  private def generations(ex: HttpExchange, table: String,
      q: Map[String, String]): Unit =
    scala.util.Try(engine.generations(table)).toOption match {
      case None => text(ex, 404, s"unknown table '$table'")
      case Some(gens) if q.get("info").contains("true") =>
        // one batch lookup (one store listing), not one per generation
        val infos = engine.generationInfos(table)
        val items = gens.map { g =>
          val info = infos.getOrElse(g, None)
            .flatMap(i => scala.util.Try(JsonMethods.parse(i)).toOption)
            .getOrElse(JNull)
          JObject("gen" -> JString(g), "info" -> info)
        }
        json(ex, 200,
          JsonMethods.compact(JsonMethods.render(JArray(items.toList))))
      case Some(gens) => json(ex, 200, Jaeger.renderNames(gens))
    }

  /** EXTENSION: generation-diff CDC over HTTP —
    * `GET /api/changes?table&from&to[&keys=c1,c2][&removed=true]
    * [&limit=n]`: the rows added (or with `removed=true`,
    * invalidated) between two retained generations, file-granular by
    * default and row-exact when `keys` names the row identity. Bare
    * JSON array of rows (generic column rendering — the span table
    * rides this route too), capped by `limit` (default 1000) so an
    * incremental consumer pages instead of pulling an unbounded diff
    * through one response.
    */
  private def changes(ex: HttpExchange, q: Map[String, String]): Unit =
    (q.get("from"), q.get("to")) match {
      case (Some(from), Some(to)) =>
        val table = q.getOrElse("table", "log")
        val keys = q.get("keys").toSeq
          .flatMap(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
        val limit = pageParam(q, "limit", 1000)
        val removed = q.get("removed").contains("true")
        val diff = scala.util.Try {
          if (removed) engine.removedBetween(table, from, to, keys)
          else engine.changesBetween(table, from, to, keys)
        }.toOption.flatten
        diff match {
          case None => text(ex, 404,
            "generation not retained, no diff, or unknown table")
          case Some(df) =>
            val limited = df.limit(limit)
            val cols = limited.columns.toSeq
            val rows = limited.collect().toSeq
              .map(r => rowJson(cols, r))
            json(ex, 200,
              JsonMethods.compact(JsonMethods.render(JArray(rows.toList))))
        }
      case _ => text(ex, 400, "missing required parameters: from, to")
    }

  /** Generic row rendering for the CDC route: every column in frame
    * order, nulls kept (no serde-shape claim here — the reference has
    * no CDC wire format to mirror).
    */
  private def rowJson(cols: Seq[String],
      r: org.apache.spark.sql.Row): JValue =
    JObject(cols.zipWithIndex.map { case (name, i) =>
      name -> cellJson(name, r.get(i))
    }.toList)

  private def traceById(ex: HttpExchange, raw: String): Unit =
    // ids render UNSIGNED on every response (Jaeger.renderId), so the
    // lookup must parse the same u64 space back — a signed parse
    // would 404 exactly the ids this API itself emitted for the upper
    // half of the space (the reference parses a u64, trace.rs:67)
    scala.util.Try(java.lang.Long.parseUnsignedLong(raw)).toOption match {
      case None => text(ex, 404, s"trace $raw not found")
      case Some(tid) =>
        json(ex, 200,
          Jaeger.renderTraces(collectTraces(engine.getTrace(tid))))
    }

  private def operations(ex: HttpExchange, service: String): Unit = {
    import org.apache.spark.sql.functions.col
    // getPath already percent-decoded the segment — decoding twice
    // would corrupt names containing '+' or literal '%'
    val names = engine.spanNames(service)
      .select(col("name")).collect().map(_.getString(0)).toSeq
    json(ex, 200, Jaeger.renderNames(names))
  }

  /** Assembled-trace rows → Jaeger traces: the span structs carry
    * everything but the trace id, which rides the row.
    */
  private def collectTraces(df: org.apache.spark.sql.DataFrame)
      : Seq[Jaeger.JaegerTrace] = {
    val procs = engine.processes.all
    df.collect().toSeq.map { row =>
      val tid = row.getAs[Long]("trace_id")
      val spans = row.getAs[scala.collection.Seq[org.apache.spark.sql.Row]](
        "spans").toSeq.map { s =>
        Span(
          id = s.getAs[Long]("id"),
          parent_id = Option(s.getAs[java.lang.Long]("parent_id"))
            .map(_.longValue()),
          trace_id = tid,
          name = s.getAs[String]("name"),
          process_id = s.getAs[String]("process_id"),
          start = s.getAs[Long]("start"),
          end = Option(s.getAs[java.lang.Long]("end")).map(_.longValue()),
          tags = Option(s.getAs[String]("tags")))
      }
      Jaeger.toJaegerTrace(tid, spans, procs)
    }
  }

  /** EXTENSION route (no reference analog — duo ingests over gRPC,
    * which this dependency-frozen library cannot speak): the raw-JSON
    * log ingest edge (duo/src/arrow.rs:70-91 semantics via
    * [[graft.DuoEngine.ingestJsonLogs]]) over plain HTTP, so a
    * deployment without the gRPC client still has a remote ingest
    * path. `POST /api/ingest/logs` with newline-delimited JSON log
    * events; responds `{"accepted": n, "malformed": m}` — malformed
    * lines are counted and dropped exactly like the file-feed edge.
    */
  private def ingestLogs(ex: HttpExchange): Unit =
    if (ex.getRequestMethod != "POST")
      text(ex, 405, "POST newline-delimited JSON log events")
    else if (ingestToken.exists(t =>
        Option(ex.getRequestHeaders.getFirst("X-Graft-Token"))
          .forall(_ != t)))
      text(ex, 401, "missing or invalid X-Graft-Token")
    else readBounded(ex) match {
      case None =>
        text(ex, 413, s"ingest body exceeds $maxIngestBytes bytes")
      case Some(body) =>
        val lines = body.split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
        val malformed = engine.ingestJsonLogs(lines)
        json(ex, 200,
          s"""{"accepted":${lines.size - malformed},""" +
            s""""malformed":$malformed}""")
    }

  /** Read the request body up to [[maxIngestBytes]]; None when the
    * declared Content-Length or the actual stream exceeds the cap —
    * the stream is capped DURING the read (a hostile client can lie
    * about, or omit, Content-Length).
    */
  private def readBounded(ex: HttpExchange): Option[String] = {
    val declared = Option(ex.getRequestHeaders.getFirst("Content-Length"))
      .flatMap(_.toLongOption)
    if (declared.exists(_ > maxIngestBytes)) return None
    val in = ex.getRequestBody
    val buf = new java.io.ByteArrayOutputStream()
    val chunk = new Array[Byte](64 * 1024)
    var n = in.read(chunk)
    while (n >= 0 && buf.size() <= maxIngestBytes) {
      buf.write(chunk, 0, n)
      n = in.read(chunk)
    }
    if (buf.size() > maxIngestBytes) None
    else Some(buf.toString(StandardCharsets.UTF_8))
  }

  private def logs(ex: HttpExchange, q: Map[String, String]): Unit =
    q.get("service") match {
      case None => text(ex, 400, "missing required parameter: service")
      case Some(service) =>
        val p = LogQueries.LogSearchParams(
          service = service,
          startUs = q.get("start").flatMap(_.toLongOption),
          endUs = q.get("end").flatMap(_.toLongOption),
          expr = q.get("expr"),
          skip = pageParam(q, "skip", 0),
          limit = pageParam(q, "limit", 50))
        // EXTENSION: `asof=<generation>` answers from the pinned
        // retained log-store generation (time travel over HTTP); the
        // plain route stays the current truth. A generation is a
        // STORAGE coordinate, not a wall clock: un-flushed hot rows
        // have no coordinate yet, so they answer on the plain route
        // and are invisible to asof-at-newest (spec-pinned in
        // EngineSpec) — the same contract as Delta/Iceberg version
        // queries.
        // `asofTs=<millis>` is the timestamp twin of `asof` (newest
        // generation committed ≤ T — the one-coordinate form)
        val asofTs = q.get("asofTs").flatMap(_.toLongOption)
        if (q.contains("asofTs") && asofTs.isEmpty)
          // unparseable time-travel coordinate: fail, never silently
          // answer from the present epoch
          text(ex, 400, "asofTs must be epoch milliseconds")
        else if (q.contains("asof") && asofTs.isDefined)
          text(ex, 400, "pass asof or asofTs, not both")
        else {
          val searched = (q.get("asof"), asofTs) match {
            case (None, None) => Some(engine.searchLogs(p))
            case (Some(gen), _) => engine.searchLogsAsOf(p, gen)
            case (None, Some(ts)) => engine.searchLogsAsOf(p, ts)
          }
          searched match {
            case None => text(ex, 404,
              "generation not retained (pruned or never committed), " +
                "or asofTs predates retention")
            case Some(df) =>
              val cols = df.columns.toSeq
              val rows = df.collect().toSeq.map(r => logJson(cols, r))
              json(ex, 200, JsonMethods.compact(
                JsonMethods.render(JArray(rows.toList))))
          }
        }
    }

  /** One log row in the reference `Log` serde shape: the base nine in
    * struct-declaration order (duo/src/models.rs:34-52 — nulls kept,
    * serde derives emit Option::None as null), then the dynamic
    * columns flattened with nulls OMITTED (the reference's per-row
    * fields HashMap only holds the keys that row actually carried).
    */
  private val logBaseOrder = Seq("process_id", "span_id", "trace_id",
    "level", "target", "file", "line", "time", "message")

  /** Names whose longs are u64 bit patterns and must serialize
    * UNSIGNED (the reference `Log` holds `Option<u64>`; the served
    * schema declares them UInt64) — a signed render would put
    * negative ids on the wire for the upper half of the space.
    */
  private val unsignedCols = Set("trace_id", "span_id")

  /** One Spark cell of column `name` as JSON: null as null, u64 ids
    * (`unsignedCols`) unsigned, the primitive types as themselves
    * and anything else as its string form.
    */
  private def cellJson(name: String, value: Any): JValue = value match {
    case null => JNull
    case l: java.lang.Long if unsignedCols(name) =>
      if (l >= 0L) JLong(l)
      else JInt(BigInt(java.lang.Long.toUnsignedString(l)))
    case s: String => JString(s)
    case l: java.lang.Long => JLong(l)
    case i: java.lang.Integer => JInt(BigInt(i.intValue()))
    case d: java.lang.Double => JDouble(d)
    case b: java.lang.Boolean => JBool(b)
    case other => JString(other.toString)
  }

  private def logJson(cols: Seq[String],
      r: org.apache.spark.sql.Row): JValue = {
    def v(name: String): JValue =
      if (!cols.contains(name)) JNull
      else cellJson(name, r.get(cols.indexOf(name)))
    val base = logBaseOrder.map(n => n -> v(n))
    val dynamic = cols.filterNot(logBaseOrder.contains)
      .flatMap(n => v(n) match {
        case JNull => None
        case jv => Some(n -> jv)
      })
    JObject((base ++ dynamic).toList)
  }

  private def fieldStats(ex: HttpExchange, field: String,
      q: Map[String, String]): Unit =
    q.get("service") match {
      case None => text(ex, 400, "missing required parameter: service")
      case Some(service) =>
        val p = LogQueries.LogSearchParams(
          service = service,
          startUs = q.get("start").flatMap(_.toLongOption),
          endUs = q.get("end").flatMap(_.toLongOption),
          expr = q.get("expr"))
        // field arrives percent-decoded via getPath — no second decode
        engine.fieldStats(field, p) match {
          case None => text(ex, 404, s"Field $field not exists")
          case Some(df) =>
            val cols = df.columns.toSeq
            val items = df.collect().toSeq.map { r =>
              JObject("value" -> cellJson(field, r.get(cols.indexOf("value"))),
                "count" -> JLong(r.getAs[Long]("count")))
            }
            json(ex, 200,
              JsonMethods.compact(JsonMethods.render(JArray(items.toList))))
        }
    }

  private def stats(ex: HttpExchange): Unit = {
    val procs = engine.processes.all.map { p =>
      p.id -> JObject(
        "id" -> JString(p.id),
        "service_name" -> JString(p.serviceName),
        "tags" -> JObject(p.tags.toSeq.sortBy(_._1).map { case (k, tv) =>
          k -> engine.processes.tagJson(tv)
        }.toList))
    }
    val body = JObject(
      "process" -> JObject(procs.toList),
      "logs" -> JLong(engine.logMemory.rows),
      "spans" -> JLong(engine.spanMemory.rows))
    json(ex, 200, JsonMethods.compact(JsonMethods.render(body)))
  }

  /** Static UI assets, reference rewrites included (mod.rs:32-54:
    * `""` → `index.html`, a path starting `trace`/`search` →
    * `trace.html` — the SPA's client-side routes — anything else is
    * the literal file). 404 for absent files like `UiAssets::get`'s
    * None arm. Containment is by REAL path, not lexical: getPath
    * already percent-decoded the request (so `%2e%2e` arrives as
    * `..`), and `toRealPath` resolves symlinks too — a link inside
    * the UI dir pointing outside it 404s instead of serving the
    * linked file. Unparseable paths (NUL bytes) 404 rather than 500.
    * The body streams (Files.copy) so a large asset never holds a
    * full in-heap copy per concurrent client; HEAD answers headers
    * only.
    */
  private def staticFile(ex: HttpExchange, rawPath: String): Unit = {
    val trimmed = rawPath.dropWhile(_ == '/')
    val name =
      if (trimmed.isEmpty) "index.html"
      else if (trimmed.startsWith("trace") || trimmed.startsWith("search"))
        "trace.html"
      else trimmed
    val root = uiRoot.get
    val resolved = scala.util.Try {
      // toRealPath throws on absence — Try folds that into the 404
      val target = root.resolve(name).toRealPath()
      if (target.startsWith(root.toRealPath()) &&
          java.nio.file.Files.isRegularFile(target)) Some(target)
      else None
    }.toOption.flatten
    resolved match {
      case None => text(ex, 404, "404")
      case Some(target) =>
        ex.getResponseHeaders.set("Content-Type", mimeFor(name))
        corsOrigin.foreach(o =>
          ex.getResponseHeaders.set("Access-Control-Allow-Origin", o))
        ex.setAttribute(HttpApi.SentAttr, java.lang.Boolean.TRUE)
        if (ex.getRequestMethod == "HEAD") {
          // HEAD must advertise the asset's size (caches and probes
          // read it); sendResponseHeaders would treat a positive
          // length as a promise of a body, so set the header directly
          // and send a no-body response.
          ex.getResponseHeaders.set("Content-Length",
            java.nio.file.Files.size(target).toString)
          ex.sendResponseHeaders(200, -1L)
        } else {
          ex.sendResponseHeaders(200, java.nio.file.Files.size(target))
          val out = ex.getResponseBody
          try java.nio.file.Files.copy(target, out): Unit
          finally out.close()
        }
    }
  }

  /** Extension → Content-Type for the UI assets (the reference uses
    * mime_guess with an octet-stream fallback, mod.rs:42).
    */
  private def mimeFor(name: String): String = {
    val ext = name.lastIndexOf('.') match {
      case -1 => ""
      case i => name.substring(i + 1).toLowerCase
    }
    ext match {
      case "html" | "htm" => "text/html; charset=utf-8"
      case "js" | "mjs" => "text/javascript"
      case "css" => "text/css"
      case "json" | "map" => "application/json"
      case "svg" => "image/svg+xml"
      case "png" => "image/png"
      case "jpg" | "jpeg" => "image/jpeg"
      case "gif" => "image/gif"
      case "ico" => "image/x-icon"
      case "woff" => "font/woff"
      case "woff2" => "font/woff2"
      case "ttf" => "font/ttf"
      case "wasm" => "application/wasm"
      case "txt" => "text/plain; charset=utf-8"
      case _ => "application/octet-stream"
    }
  }

  // ---- plumbing ----

  /** A `limit`/`skip` parameter: absent, unparseable or negative → the
    * default (see the class doc).
    */
  private def pageParam(q: Map[String, String], key: String,
      default: Int): Int =
    q.get(key).flatMap(_.toIntOption).filter(_ >= 0).getOrElse(default)

  private def params(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).toSeq
      .flatMap(_.split("&").toSeq)
      .flatMap { kv =>
        kv.split("=", 2) match {
          case Array(k, v) =>
            Some(URLDecoder.decode(k, "UTF-8") ->
              URLDecoder.decode(v, "UTF-8"))
          case Array(k) if k.nonEmpty =>
            Some(URLDecoder.decode(k, "UTF-8") -> "")
          case _ => None
        }
      }.toMap

  /** CORS preflight — the other half of the reference's permissive
    * tower-http layer (mod.rs:63-68), emitted only when the deployment
    * opted into `corsOrigin`: without answering OPTIONS, a browser on
    * the allowed origin would block the POST ingest route (and any
    * request with non-simple headers) despite the allow-origin header
    * on responses. With CORS unconfigured the 204 carries no allow
    * headers, so the browser blocks the cross-origin call.
    */
  private def preflight(ex: HttpExchange): Unit = {
    corsOrigin.foreach { origin =>
      val h = ex.getResponseHeaders
      h.set("Access-Control-Allow-Origin", origin)
      h.set("Access-Control-Allow-Methods", "GET, POST")
      h.set("Access-Control-Allow-Headers", "Content-Type, X-Graft-Token")
    }
    ex.setAttribute(HttpApi.SentAttr, java.lang.Boolean.TRUE)
    ex.sendResponseHeaders(204, -1L)
  }

  private def json(ex: HttpExchange, code: Int, body: String): Unit =
    respond(ex, code, body, "application/json")

  private def text(ex: HttpExchange, code: Int, body: String): Unit =
    respond(ex, code, body, "text/plain; charset=utf-8")

  private def respond(ex: HttpExchange, code: Int, body: String,
      contentType: String): Unit =
    respondBytes(ex, code, body.getBytes(StandardCharsets.UTF_8),
      contentType)

  private def respondBytes(ex: HttpExchange, code: Int,
      bytes: Array[Byte], contentType: String): Unit = {
    ex.getResponseHeaders.set("Content-Type", contentType)
    // CORS like the reference's permissive layer (mod.rs:63-68) — but
    // only when a deployment opted in: a blanket `*` on data-bearing
    // responses lets any website read this API cross-origin
    corsOrigin.foreach(o =>
      ex.getResponseHeaders.set("Access-Control-Allow-Origin", o))
    ex.setAttribute(HttpApi.SentAttr, java.lang.Boolean.TRUE)
    ex.sendResponseHeaders(code, bytes.length.toLong)
    val out = ex.getResponseBody
    try out.write(bytes) finally out.close()
  }
}

object HttpApi {
  /** Exchange attribute marking that response headers were sent —
    * the error path must not attempt a second sendResponseHeaders.
    */
  private[api] val SentAttr = "graft.headersSent"
}

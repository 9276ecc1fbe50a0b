package graft

import graft.api.{ArrowSchemaJson, HttpApi}
import graft.model.{Span, TagValue}
import org.json4s.jackson.JsonMethods.parse

/** The HTTP façade's route surface and wire shapes (SURVEY "missing"
  * item 2, minus the UI asset bundle): real HTTP round-trips through
  * the JDK client against a live engine — every assertion is a
  * reference wire-shape claim with its duo/src/web citation on the
  * handler.
  */
class HttpApiSpec extends SparkSpec {
  import spark.implicits._

  private val t0 = 1760000000000000L

  private def get(port: Int, path: String): (Int, String) = {
    val client = java.net.http.HttpClient.newHttpClient()
    val req = java.net.http.HttpRequest
      .newBuilder(java.net.URI.create(s"http://127.0.0.1:$port$path"))
      .GET().build()
    val resp = client.send(req,
      java.net.http.HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  /** The reference base log schema's arrow-schema-53 serde JSON
    * (duo/src/schema.rs:31-42 through the serde derive the `serde`
    * feature of arrow-schema 53 generates) — the exact payload
    * GET /api/logs/schema must open with for wire parity, unsigned
    * widths included even though Spark stores them signed.
    */
  private val baseArrowJson: String = {
    def f(name: String, tok: String, nullable: Boolean) =
      s"""{"name":"$name","data_type":"$tok","nullable":$nullable,""" +
        s""""dict_id":0,"dict_is_ordered":false}"""
    Seq(
      f("process_id", "Utf8", nullable = false),
      f("time", "Int64", nullable = false),
      f("trace_id", "UInt64", nullable = true),
      f("span_id", "UInt64", nullable = true),
      f("level", "Utf8", nullable = false),
      f("target", "Utf8", nullable = true),
      f("file", "Utf8", nullable = true),
      f("line", "UInt32", nullable = true),
      f("message", "Utf8", nullable = true)
    ).mkString("""{"fields":[""", ",", "]}")
  }

  test("HTTP facade serves the reference route surface with its wire " +
      "shapes") {
    val root = java.nio.file.Files.createTempDirectory("httpapi").toString
    val engine = new DuoEngine(spark, root)
    engine.processes.register("example",
      Map("telemetry.sdk" -> TagValue.str("duo"))): Unit
    engine.appendSpanBatch(Seq(
      Span(101L, None, 9001L, "foo", "example-0", t0,
        Some(t0 + 250000L), Some("""{"busy":"3.00ms"}""")),
      Span(102L, Some(101L), 9001L, "bar", "example-0", t0 + 10000L,
        Some(t0 + 120000L), None),
      Span(201L, None, 9002L, "foo", "example-0", t0 + 500000L,
        Some(t0 + 600000L), None),
      // upper-half u64 trace id (bit-cast negative long): the API
      // must round-trip the unsigned id IT emits
      Span(301L, None, -1L, "big", "example-0", t0 + 700000L,
        Some(t0 + 710000L), None)).toDF())
    engine.appendLogBatch(Seq(
      ("example-0", t0 + 5000L, Some(9001L), Some(101L), "INFO",
        Some("hello")),
      ("example-0", t0 + 200000L, Some(9001L), Some(101L), "ERROR",
        Some("Oops!")))
      .toDF("process_id", "time", "trace_id", "span_id", "level",
        "message"))
    val win = s"start=${t0 - 1000000L}&end=${t0 + 1000000L}"
    // the reference's permissive CORS layer is OPT-IN here (data-
    // bearing API); this test opts in to pin the parity shape
    val api = new HttpApi(engine, corsOrigin = Some("*"))
    api.start()
    try {
      val port = api.boundPort
      // /api/services: JaegerData envelope of registered names
      val (sc1, services) = get(port, "/api/services")
      assert(sc1 == 200)
      assert(services ==
        """{"data":["example"],"total":0,"limit":0,"offset":0,"errors":null}""")
      // /api/services/:service/operations: distinct span names, sorted
      val (_, ops) = get(port, "/api/services/example/operations")
      assert(ops.contains(""""data":["bar","big","foo"]"""), ops)
      // /api/traces: both traces in the window, Jaeger shapes intact
      val (sc2, traces) = get(port, s"/api/traces?service=example&$win")
      assert(sc2 == 200)
      assert(traces.contains(""""traceID":"9001"""") &&
        traces.contains(""""traceID":"9002""""), traces)
      assert(traces.contains(""""operationName":"foo""""))
      // newest root first: -1 (t0+700ms), 9002 (t0+500ms), 9001 (t0)
      val order = Seq(java.lang.Long.toUnsignedString(-1L), "9002", "9001")
        .map(id => traces.indexOf(s""""traceID":"$id""""))
      assert(order.forall(_ >= 0) && order == order.sorted, traces)
      assert(traces.contains(""""refType":"CHILD_OF""""))
      assert(traces.contains(""""serviceName":"example""""))
      // minDuration through the C2 duration parser drops the 100ms trace
      val (_, longOnly) = get(port,
        s"/api/traces?service=example&$win&minDuration=200ms")
      assert(longOnly.contains("9001") && !longOnly.contains("9002"),
        longOnly)
      // /api/traces/:id — exact trace; non-numeric id is 404
      val (_, one) = get(port, "/api/traces/9001")
      assert(one.contains(""""traceID":"9001"""") && !one.contains("9002"))
      assert(get(port, "/api/traces/not-a-number")._1 == 404)
      // an upper-half u64 id renders unsigned AND looks itself up —
      // the lookup parses the same id space the responses emit
      val u64 = java.lang.Long.toUnsignedString(-1L)
      assert(traces.contains(s""""traceID":"$u64""""))
      val (_, big) = get(port, s"/api/traces/$u64")
      assert(big.contains(s""""traceID":"$u64"""") &&
        big.contains(""""operationName":"big""""), big)
      // /api/logs: BARE array, serde field order, base nulls kept,
      // µs time, sorted time-desc
      val (_, logsBody) = get(port, s"/api/logs?service=example&$win")
      assert(logsBody.startsWith("["), logsBody)
      assert(logsBody.contains(""""message":"Oops!""""))
      assert(logsBody.contains(s""""time":${t0 + 200000L}"""))
      assert(logsBody.contains(""""file":null"""))
      assert(logsBody.indexOf("Oops!") < logsBody.indexOf("hello"),
        "logs must sort time-desc like the reference's list handler")
      // /api/logs/stats/:field; unknown field is 404
      val (_, stats) = get(port,
        s"/api/logs/stats/level?service=example&$win")
      assert(stats.contains(""""value":"ERROR"""") &&
        stats.contains(""""count":1"""), stats)
      assert(get(port, "/api/logs/stats/nope?service=example")._1 == 404)
      // /api/logs/schema: the arrow-schema serde payload, unsigned
      // widths pinned by name
      val (_, schemaBody) = get(port, "/api/logs/schema")
      assert(schemaBody == baseArrowJson, schemaBody)
      assert(schemaBody == ArrowSchemaJson.toJson(engine.currentLogSchema))
      // a drifted JSON ingest widens the served schema and flattens
      // into the log rows (dynamic nulls omitted per the reference's
      // per-row fields map)
      engine.ingestJsonLogs(Seq(
        s"""{"process_id":"example-0","time":${t0 + 300000L},""" +
          """"level":"INFO","message":"m3","region":"eu"}""")): Unit
      val (_, schema2) = get(port, "/api/logs/schema")
      assert(schema2.contains(
        """{"name":"region","data_type":"Utf8","nullable":true,"""))
      val (_, logs2) = get(port, s"/api/logs?service=example&$win")
      assert(logs2.contains(""""region":"eu""""))
      assert(logs2.indexOf("region") == logs2.lastIndexOf("region"),
        "rows without the dynamic field must omit the key")
      // /stats: the process map + the hot views' row counts (four
      // spans; two log rows plus the JSON-ingested one)
      val (_, st) = get(port, "/stats")
      assert(st.contains(""""process":{"example-0":{"id":"example-0",""" +
        """"service_name":"example""""), st)
      assert(st.contains(""""logs":3""") && st.contains(""""spans":4"""), st)
      // axum-like rejections: missing required service, unknown route
      assert(get(port, "/api/traces")._1 == 400)
      assert(get(port, "/api/logs")._1 == 400)
      assert(get(port, "/nope")._1 == 404)
      // EXTENSION: remote ingest over HTTP (ND-JSON) — malformed lines
      // counted and dropped like the file feed; the good row is
      // immediately queryable
      val ndjson =
        s"""{"process_id":"example-0","time":${t0 + 400000L},""" +
          """"level":"WARN","message":"posted"}""" + "\nnot json\n"
      val (scIn, inBody) = post(port, "/api/ingest/logs", ndjson)
      assert(scIn == 200 && inBody == """{"accepted":1,"malformed":1}""",
        inBody)
      val (_, logs3) = get(port, s"/api/logs?service=example&$win")
      assert(logs3.contains(""""message":"posted""""))
      assert(get(port, "/api/ingest/logs")._1 == 405)
      // CORS preflight answers 204 with the allow headers (the other
      // half of the reference's permissive layer)
      val (scOpt, optHeaders) = options(port, "/api/ingest/logs")
      assert(scOpt == 204)
      assert(optHeaders.exists { case (k, v) =>
        k.equalsIgnoreCase("Access-Control-Allow-Methods") &&
          v.contains("POST")
      }, optHeaders)
    } finally api.stop()
  }

  test("negative limit and skip are ignored: the default page is served") {
    val root = java.nio.file.Files.createTempDirectory("httppage").toString
    val engine = new DuoEngine(spark, root)
    engine.appendSpanBatch((1 to 25).map(i => Span(i.toLong, None, i.toLong,
      "op", "example-0", t0 + i, Some(t0 + i + 1L), None)).toDF())
    engine.appendLogBatch((1 to 60).map(i =>
      ("example-0", t0 + i, "INFO", s"m$i"))
      .toDF("process_id", "time", "level", "message"))
    val api = new HttpApi(engine)
    api.start()
    try {
      val port = api.boundPort
      val win = s"start=${t0 - 1000000L}&end=${t0 + 1000000L}"
      def size(j: org.json4s.JValue) = j.children.size
      val (scT, traces) =
        get(port, s"/api/traces?service=example&$win&limit=-1")
      assert(scT == 200 && size(parse(traces) \ "data") == 20, traces)
      val (scL, logs) = get(port, s"/api/logs?service=example&$win&limit=-1")
      assert(scL == 200 && size(parse(logs)) == 50, logs)
      val (scS, skipped) = get(port, s"/api/logs?service=example&$win&skip=-1")
      assert(scS == 200 && skipped == get(port,
        s"/api/logs?service=example&$win")._2)
    } finally api.stop()
  }

  test("facade hardening: CORS off by default, ingest token + body " +
      "cap, reflective expr rejected into the ILIKE fallback") {
    val root = java.nio.file.Files.createTempDirectory("httpsec").toString
    val engine = new DuoEngine(spark, root)
    engine.appendLogBatch(Seq(
      ("example-0", t0, "INFO", Some("hello world")))
      .toDF("process_id", "time", "level", "message"))
    val api = new HttpApi(engine, ingestToken = Some("s3cret"),
      maxIngestBytes = 256)
    api.start()
    try {
      val port = api.boundPort
      val win = s"start=${t0 - 1000000L}&end=${t0 + 1000000L}"
      // no CORS opt-in → no allow-origin on data responses, no allow
      // headers on preflight (a cross-origin page cannot read this API)
      val respHeaders = getHeaders(port, s"/api/logs?service=example&$win")
      assert(!respHeaders.exists(_._1
        .equalsIgnoreCase("Access-Control-Allow-Origin")), respHeaders)
      val (scOpt, optHeaders) = options(port, "/api/ingest/logs")
      assert(scOpt == 204)
      assert(!optHeaders.exists(_._1
        .equalsIgnoreCase("Access-Control-Allow-Methods")), optHeaders)
      // the mutating route requires the token header (which also
      // forces a CORS preflight on any cross-site attempt)
      val line = s"""{"process_id":"example-0","time":${t0 + 1L},""" +
        """"level":"WARN","message":"tok"}"""
      assert(post(port, "/api/ingest/logs", line)._1 == 401)
      assert(post(port, "/api/ingest/logs", line,
        Seq("X-Graft-Token" -> "wrong"))._1 == 401)
      val (scOk, okBody) = post(port, "/api/ingest/logs", line,
        Seq("X-Graft-Token" -> "s3cret"))
      assert(scOk == 200 && okBody.contains(""""accepted":1"""), okBody)
      // body cap: one oversized POST answers 413 instead of buffering
      // an arbitrary payload on the driver
      val big = ("x" * 300)
      assert(post(port, "/api/ingest/logs", big,
        Seq("X-Graft-Token" -> "s3cret"))._1 == 413)
      // a reflective expr (Spark's java_method reaches arbitrary
      // public statics — no DataFusion equivalent, so parity doesn't
      // cover it) degrades to the ILIKE fallback: no rows match the
      // hostile text, and nothing is invoked
      val hostile = java.net.URLEncoder.encode(
        "java_method('java.lang.System','getenv','HOME') like '%/%'",
        "UTF-8")
      val (scH, hBody) = get(port,
        s"/api/logs?service=example&$win&expr=$hostile")
      assert(scH == 200 && hBody == "[]", hBody)
      // the same route still serves a benign expr
      val benign = java.net.URLEncoder.encode(
        "message like '%world%'", "UTF-8")
      val (_, bBody) = get(port,
        s"/api/logs?service=example&$win&expr=$benign")
      assert(bBody.contains(""""message":"hello world""""), bBody)
    } finally api.stop()
  }

  test("time travel and CDC over the facade: asof answers the " +
      "pre-expiry truth while the plain route serves the current one, " +
      "/api/changes serves the generation diff") {
    val root = java.nio.file.Files.createTempDirectory("httptt").toString
    val day = 86400000000L
    val engine = new DuoEngine(spark, root, nowUs = () => t0 + 60000000L)
    engine.appendLogBatch(Seq(
      ("svc-0", t0, "INFO", "old-day"),
      ("svc-0", t0 + day, "INFO", "new-day"))
      .toDF("process_id", "time", "level", "message"))
    engine.flush()
    val st = new graft.store.ParquetStore(spark, root, "log", "time")
    st.compact() // a re-layout commit over the flush's: both days
    Thread.sleep(5L) // distinct commit millis: the asofTs coordinate
                     // below must separate the two generations
    st.expire(t0 + day): Unit // gen B: day 1 retired
    val api = new HttpApi(engine)
    api.start()
    try {
      val port = api.boundPort
      // the retained coordinates are remotely discoverable
      val (scG, gensBody) = get(port, "/api/generations/log")
      assert(scG == 200 && gensBody.contains("gen-"), gensBody)
      assert(get(port, "/api/generations/nope")._1 == 404)
      // info=true: each coordinate carries its operation audit —
      // which commit was the compaction, what the expiry cut
      val (scI, infoBody) = get(port, "/api/generations/log?info=true")
      assert(scI == 200 && infoBody.contains("\"op\":\"compact\"") &&
        infoBody.contains("\"op\":\"expire\""), infoBody)
      val gens = engine.generations("log")
      assert(gens.size == 3) // the flush, the compact, the expiry
      val win = s"start=${t0 - 1000000L}&end=${t0 + day + 1000000L}"
      // plain route: the current (post-expiry) truth
      val (_, cur) = get(port, s"/api/logs?service=svc&$win")
      assert(cur.contains("new-day") && !cur.contains("old-day"), cur)
      // asof the pre-expiry generation: both days
      val (scA, old) = get(port,
        s"/api/logs?service=svc&$win&asof=${gens.head}")
      assert(scA == 200 && old.contains("old-day") &&
        old.contains("new-day"), old)
      // a pruned/unknown generation is 404, not a silent fall-through
      assert(get(port,
        s"/api/logs?service=svc&$win&asof=gen-0000-nope.list")._1 == 404)
      // asofTs: ONE wall-clock coordinate — an instant before the
      // expiry resolves to gen A (both days), now-ish to the current
      // truth; an instant predating retention is 404; both
      // coordinates at once is a 400
      def genMillis(g: String): Long =
        g.stripPrefix("gen-").takeWhile(_.isDigit).toLong
      val preExpiryTs = genMillis(gens.last) - 1L
      val (scT, oldT) = get(port,
        s"/api/logs?service=svc&$win&asofTs=$preExpiryTs")
      assert(scT == 200 && oldT.contains("old-day") &&
        oldT.contains("new-day"), oldT)
      val (scN, curT) = get(port, s"/api/logs?service=svc&$win" +
        s"&asofTs=${System.currentTimeMillis()}")
      assert(scN == 200 && !curT.contains("old-day"), curT)
      assert(get(port, s"/api/logs?service=svc&$win" +
        s"&asofTs=${genMillis(gens.head) - 1L}")._1 == 404)
      assert(get(port, s"/api/logs?service=svc&$win" +
        s"&asof=${gens.head}&asofTs=$preExpiryTs")._1 == 400)
      // the trace route requires BOTH pins together (or asofTs alone)
      assert(get(port,
        s"/api/traces?service=svc&spanAsof=${gens.head}")._1 == 400)
      assert(get(port, s"/api/traces?service=svc&spanAsof=${gens.head}" +
        s"&logAsof=${gens.head}&asofTs=$preExpiryTs")._1 == 400)
      // CDC: expiry between the compact and the expiry generations is
      // a REMOVED diff — the retired day-1 row pages out; the insert
      // side has no diff
      val (scR, removed) = get(port, s"/api/changes?table=log&" +
        s"from=${gens(1)}&to=${gens.last}&removed=true")
      assert(scR == 200 && removed.contains("old-day") &&
        !removed.contains("new-day"), removed)
      assert(get(port, s"/api/changes?table=log&from=${gens(1)}" +
        s"&to=${gens.last}")._1 == 404)
      assert(get(port, "/api/changes?table=log&from=x")._1 == 400)
      // a negative limit is ignored like an unparseable one
      val (scL, lim) = get(port, s"/api/changes?table=log&" +
        s"from=${gens(1)}&to=${gens.last}&removed=true&limit=-1")
      assert(scL == 200 && lim.contains("old-day"), lim)
      // keyed mode rides the same route: the retired row is a TRUE
      // delete under the message key, so it still pages out
      val (scK, keyed) = get(port, s"/api/changes?table=log&" +
        s"from=${gens(1)}&to=${gens.last}&removed=true&keys=message")
      assert(scK == 200 && keyed.contains("old-day") &&
        !keyed.contains("new-day"), keyed)
    } finally api.stop()
  }

  test("an upper-half u64 trace_id renders unsigned in /api/logs rows, " +
      "/api/changes rows and /api/logs/stats/trace_id") {
    val root = java.nio.file.Files.createTempDirectory("httpu64").toString
    val engine = new DuoEngine(spark, root)
    def log(off: Long, traceId: Long, msg: String) =
      Seq(("example-0", t0 + off, Some(traceId), "INFO", msg))
        .toDF("process_id", "time", "trace_id", "level", "message")
    engine.appendLogBatch(log(0L, 9001L, "low"))
    engine.flush()
    // a bit-cast negative long: the u64 id space's upper half
    engine.appendLogBatch(log(1000L, -1L, "high"))
    engine.flush()
    val gens = engine.generations("log")
    val u64 = java.lang.Long.toUnsignedString(-1L)
    val api = new HttpApi(engine)
    api.start()
    try {
      val port = api.boundPort
      val win = s"start=${t0 - 1000000L}&end=${t0 + 1000000L}"
      val (scL, logs) = get(port, s"/api/logs?service=example&$win")
      assert(scL == 200 && logs.contains(s""""trace_id":$u64,""") &&
        logs.contains(""""trace_id":9001,"""), logs)
      val (scC, changes) = get(port, s"/api/changes?table=log&" +
        s"from=${gens.head}&to=${gens.last}")
      assert(scC == 200 && changes.contains(s""""trace_id":$u64""") &&
        !changes.contains("low"), changes)
      val (scS, stats) = get(port,
        s"/api/logs/stats/trace_id?service=example&$win")
      assert(scS == 200 && stats.contains(s""""value":$u64,""") &&
        stats.contains(""""value":9001,"""), stats)
      Seq(logs, changes, stats).foreach(body =>
        assert(!body.contains(":-1"), body))
    } finally api.stop()
  }

  test("cadence loops make the server durable unattended: HTTP ingest " +
      "→ cadence flush → crash WITHOUT the shutdown hook → a fresh " +
      "engine answers from cold parquet") {
    val root = java.nio.file.Files.createTempDirectory("cadence").toString
    val engine = new DuoEngine(spark, root,
      nowUs = () => t0 + 60000000L)
    val cadences = engine.startCadences(flushEveryMs = 250L)
    val api = new HttpApi(engine)
    api.start()
    try {
      val line = s"""{"process_id":"svc-0","time":${t0 + 1000L},""" +
        """"level":"INFO","message":"durable"}"""
      val (sc, _) = post(api.boundPort, "/api/ingest/logs", line)
      assert(sc == 200)
      // the flush cadence must land the row in the partitioned store
      // without ANY explicit flush call
      val logDir = java.nio.file.Paths.get(root, "log")
      val deadline = System.currentTimeMillis() + 15000L
      // the flush is complete once parquet HAS landed and the WAL is
      // cleared — a "crash" inside the write→clear window would
      // legitimately replay the row on restart (the same duplicate
      // window the reference's flush-then-clear cadence has)
      val walLog = java.nio.file.Paths.get(root, "wal", "log")
      def flushed(): Boolean = java.nio.file.Files.exists(logDir) && {
        val s = java.nio.file.Files.walk(logDir)
        try s.anyMatch(p => p.toString.endsWith(".parquet"))
        // a file the write's commit moved away during the walk: the
        // flush is still in flight, look again on the next poll
        catch { case _: java.io.UncheckedIOException => false }
        finally s.close()
      } && !java.nio.file.Files.exists(walLog)
      while (!flushed() && System.currentTimeMillis() < deadline)
        Thread.sleep(100L)
      assert(flushed(), "cadence flush never landed parquet")
    } finally { api.stop(); cadences.close() }
    // "kill -9": no shutdown hook ran — the abandoned engine is simply
    // dropped. A fresh engine must answer from disk alone, and the
    // WAL must already be clear (the cadence flush drained it), so
    // nothing replays twice.
    val fresh = new DuoEngine(spark, root, nowUs = () => t0 + 60000000L)
    val found = fresh.searchLogs(graft.query.LogQueries.LogSearchParams(
      service = "svc", unbounded = true))
    assert(found.count() == 1)
    val walDir = java.nio.file.Paths.get(root, "wal", "log")
    assert(!java.nio.file.Files.exists(walDir) ||
      { val s = java.nio.file.Files.list(walDir)
        try !s.findAny().isPresent finally s.close() },
      "the cadence flush must have cleared the WAL")
  }

  test("WAL replay alone recovers a crash INSIDE the first cadence " +
      "window: HTTP ingest → kill without hook before any flush → a " +
      "fresh engine answers from the replayed WAL") {
    val root = java.nio.file.Files.createTempDirectory("walwindow").toString
    val engine = new DuoEngine(spark, root, nowUs = () => t0 + 60000000L)
    // cadences armed but the first flush tick is an hour away — the
    // crash lands in the window where recovery is WAL replay alone
    val cadences = engine.startCadences(flushEveryMs = 3600L * 1000L)
    val api = new HttpApi(engine)
    api.start()
    try {
      val line = s"""{"process_id":"svc-0","time":${t0 + 1000L},""" +
        """"level":"INFO","message":"pre-flush"}"""
      assert(post(api.boundPort, "/api/ingest/logs", line)._1 == 200)
      // nothing has flushed: no parquet landed; the synchronous WAL
      // append is the row's only durability
      val logDir = java.nio.file.Paths.get(root, "log")
      val landed = java.nio.file.Files.exists(logDir) && {
        val s = java.nio.file.Files.walk(logDir)
        try s.anyMatch(_.toString.endsWith(".parquet"))
        finally s.close()
      }
      assert(!landed, "no flush may have run inside the window")
      val walLog = java.nio.file.Paths.get(root, "wal", "log")
      assert(java.nio.file.Files.exists(walLog) && {
        val s = java.nio.file.Files.list(walLog)
        try s.findAny().isPresent finally s.close()
      }, "the WAL must hold the un-flushed row")
    } finally { api.stop(); cadences.close() }
    // "kill -9": no shutdown hook, no flush — the fresh engine's
    // constructor-time walReplay must restore the hot view
    val fresh = new DuoEngine(spark, root, nowUs = () => t0 + 60000000L)
    val found = fresh.searchLogs(graft.query.LogQueries.LogSearchParams(
      service = "svc", unbounded = true))
    assert(found.count() == 1, "WAL replay must restore the hot row")
    assert(found.select("message").collect()(0).getString(0) ==
      "pre-flush")
  }

  test("static UI serving: reference rewrites, mime types, traversal " +
      "rejected; API routes win; default stays API-only") {
    val root = java.nio.file.Files.createTempDirectory("uiroot").toString
    val engine = new DuoEngine(spark, root)
    val ui = java.nio.file.Files.createTempDirectory("uidir")
    java.nio.file.Files.writeString(ui.resolve("index.html"),
      "<html>duo index</html>")
    java.nio.file.Files.writeString(ui.resolve("trace.html"),
      "<html>duo trace</html>")
    java.nio.file.Files.createDirectory(ui.resolve("assets"))
    java.nio.file.Files.writeString(ui.resolve("assets").resolve("app.js"),
      "console.log('ui')")
    val api = new HttpApi(engine, uiDir = Some(ui.toString))
    api.start()
    try {
      val port = api.boundPort
      // "" → index.html (mod.rs:34)
      val (scRoot, index) = get(port, "/")
      assert(scRoot == 200 && index.contains("duo index"))
      assert(getHeaders(port, "/").exists { case (k, v) =>
        k.equalsIgnoreCase("Content-Type") && v.startsWith("text/html") })
      // trace*/search* → trace.html (the SPA's client routes, mod.rs:35)
      assert(get(port, "/search?service=x")._2.contains("duo trace"))
      assert(get(port, "/trace/123")._2.contains("duo trace"))
      // literal asset with its mime
      val (scJs, js) = get(port, "/assets/app.js")
      assert(scJs == 200 && js.contains("console.log"))
      assert(getHeaders(port, "/assets/app.js").exists { case (k, v) =>
        k.equalsIgnoreCase("Content-Type") && v == "text/javascript" })
      // absent file → 404 (UiAssets::get None arm, mod.rs:48-52)
      assert(get(port, "/missing.png")._1 == 404)
      // traversal: %2e%2e decodes to .. in getPath — the normalized
      // target escapes the UI root and must 404, never serve
      assert(get(port, "/%2e%2e/%2e%2e/etc/hosts")._1 == 404)
      // symlink escape: a link INSIDE uiDir to a file outside it
      // resolves under the root lexically but not by real path — 404,
      // never the linked file's contents
      val outside = java.nio.file.Files.createTempFile("uileak", ".txt")
      java.nio.file.Files.writeString(outside, "secret")
      java.nio.file.Files.createSymbolicLink(
        ui.resolve("leak.txt"), outside)
      assert(get(port, "/leak.txt")._1 == 404,
        "a symlink escaping uiDir must not serve")
      // HEAD answers headers only (health checks), same 200 + mime
      val headClient = java.net.http.HttpClient.newHttpClient()
      val headResp = headClient.send(
        java.net.http.HttpRequest
          .newBuilder(java.net.URI.create(s"http://127.0.0.1:$port/"))
          .method("HEAD",
            java.net.http.HttpRequest.BodyPublishers.noBody()).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(headResp.statusCode() == 200 && headResp.body().isEmpty)
      // API routes take precedence over the static tree
      assert(get(port, "/api/logs/schema")._1 == 200)
    } finally api.stop()
    // a typo'd uiDir fails at construction — never silent 404s
    intercept[IllegalArgumentException] {
      new HttpApi(engine, uiDir = Some(ui.toString + "-no-such-dir"))
    }
    // uiDir unset (the default): non-API paths stay 404 — the engine
    // library's API-only posture is unchanged
    val apiOnly = new HttpApi(engine)
    apiOnly.start()
    try assert(get(apiOnly.boundPort, "/")._1 == 404)
    finally apiOnly.stop()
  }

  private def getHeaders(port: Int,
      path: String): Seq[(String, String)] = {
    val client = java.net.http.HttpClient.newHttpClient()
    val req = java.net.http.HttpRequest
      .newBuilder(java.net.URI.create(s"http://127.0.0.1:$port$path"))
      .GET().build()
    val resp = client.send(req,
      java.net.http.HttpResponse.BodyHandlers.ofString())
    import scala.jdk.CollectionConverters._
    resp.headers().map().asScala.toSeq.flatMap { case (k, vs) =>
      vs.asScala.map(k -> _)
    }
  }

  private def options(port: Int,
      path: String): (Int, Seq[(String, String)]) = {
    val client = java.net.http.HttpClient.newHttpClient()
    val req = java.net.http.HttpRequest
      .newBuilder(java.net.URI.create(s"http://127.0.0.1:$port$path"))
      .method("OPTIONS", java.net.http.HttpRequest.BodyPublishers.noBody())
      .build()
    val resp = client.send(req,
      java.net.http.HttpResponse.BodyHandlers.ofString())
    import scala.jdk.CollectionConverters._
    (resp.statusCode(), resp.headers().map().asScala.toSeq.flatMap {
      case (k, vs) => vs.asScala.map(k -> _)
    })
  }

  private def post(port: Int, path: String, body: String,
      headers: Seq[(String, String)] = Nil): (Int, String) = {
    val client = java.net.http.HttpClient.newHttpClient()
    var b = java.net.http.HttpRequest
      .newBuilder(java.net.URI.create(s"http://127.0.0.1:$port$path"))
      .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
    headers.foreach { case (k, v) => b = b.header(k, v) }
    val resp = client.send(b.build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }
}

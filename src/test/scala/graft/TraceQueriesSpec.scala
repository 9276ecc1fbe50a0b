package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.model.{Process, Span, TagValue}
import graft.api.Jaeger
import graft.query.TraceQueries
import graft.query.TraceQueries.TraceSearchParams

/** Trace search/assembly/correlation semantics (SURVEY §3.2, J1-J3, A3)
  * over the FIXTURES.md §A span tree.
  */
class TraceQueriesSpec extends SparkSpec {
  import spark.implicits._

  private val t0 = 1760000000000000L

  private def spans: DataFrame = Seq(
    Span(101L, None, 9001L, "foo", "example-0", t0, Some(t0 + 250000),
      Some("""{"busy":"3.00ms"}""")),
    Span(102L, Some(101L), 9001L, "bar", "example-0", t0 + 10000,
      Some(t0 + 120000), None),
    Span(103L, Some(101L), 9001L, "baz", "example-1", t0 + 130000, None, Some("{}")),
    Span(201L, None, 9002L, "foo", "example-0", t0 + 500000,
      Some(t0 + 600000), None),
    Span(301L, None, 9003L, "other", "log-0", t0, Some(t0 + 50000), None))
    .toDF()

  private def logs: DataFrame = Seq(
    ("example-0", t0 + 5000, Some(9001L), Some(101L), "INFO", Some("hello")),
    ("example-0", t0 + 200000, Some(9001L), Some(101L), "ERROR", Some("Oops!")),
    ("example-0", t0 + 550000, Some(9002L), Some(201L), "INFO", Some("fine")))
    .toDF("process_id", "time", "trace_id", "span_id", "level", "message")

  test("root-span admission predicates: operation + duration") {
    val p = TraceSearchParams(service = "example", operation = Some("foo"),
      minDurationUs = Some(200000L))
    val ids = TraceQueries.admittedRoots(spans, p)
      .select("trace_id").as[Long].collect().toSeq
    assert(ids == Seq(9001L)) // 9002's foo is only 100ms; 9003 is other svc
  }

  test("derived end-range conjuncts push to parquet and change no results") {
    // admission with (start range ∧ duration range) gains the implied
    // bounds on the STORED end column — row-group-prunable where
    // `end - start` never is; results are identical because the
    // conjuncts are implied by F9 ∧ F10
    val dir = java.nio.file.Files.createTempDirectory("roots").toString
    spans.write.parquet(s"$dir/spans")
    val stored = spark.read.parquet(s"$dir/spans")
    val p = TraceSearchParams(service = "example",
      startUs = Some(t0 - 1000000L), endUs = Some(t0 + 1000000L),
      minDurationUs = Some(200000L), maxDurationUs = Some(600000L))
    val got = TraceQueries.admittedRoots(stored, p)
    val pushed = got.queryExecution.executedPlan.collect {
      case sc: org.apache.spark.sql.execution.FileSourceScanExec =>
        sc.metadata.getOrElse("PushedFilters", "")
    }
    assert(pushed.exists(m => m.contains("GreaterThanOrEqual(end,") &&
      m.contains("LessThanOrEqual(end,")),
      s"derived end conjuncts not pushed: $pushed")
    // identical to the plain F9 ∧ F10 filter without the conjuncts
    val plain = stored
      .filter(col("process_id").like("example%") &&
        col("parent_id").isNull &&
        col("start").between(t0 - 1000000L, t0 + 1000000L) &&
        (col("end") - col("start")).between(200000L, 600000L))
    assert(got.select("trace_id").as[Long].collect().sorted.toSeq ==
      plain.select("trace_id").as[Long].collect().sorted.toSeq)
    assert(got.count() > 0)
  }

  test("assembly groups spans per trace with rollups and error tag") {
    val p = TraceSearchParams(service = "example")
    val traces = TraceQueries.filterTraces(spark, spans, logs, p)
      .orderBy("trace_id").collect()
    assert(traces.map(_.getLong(0)).toSeq == Seq(9001L, 9002L))

    val t9001 = traces(0)
    assert(t9001.getAs[Long]("n_spans") == 3)
    assert(t9001.getAs[Long]("n_logs") == 2)
    assert(t9001.getAs[Int]("has_error") == 1)
    val spanStructs = t9001.getAs[scala.collection.Seq[Row]]("spans")
    // span 101 has an ERROR log -> a typed JSON bool spliced into its
    // tags, with the existing typed values untouched (no string-map
    // round trip; duo/src/models.rs:80-94 inserts Value::Bool(true))
    val s101 = spanStructs.find(_.getAs[Long]("id") == 101L).get
    assert(s101.getAs[String]("tags") ==
      """{"busy":"3.00ms","error":true}""")
    // children keep original tags
    val s103 = spanStructs.find(_.getAs[Long]("id") == 103L).get
    assert(!s103.getAs[String]("tags").contains("error"))

    val t9002 = traces(1)
    assert(t9002.getAs[Int]("has_error") == 0)
  }

  test("error tag splice preserves typed tag values and handles empty tags") {
    // an error span with typed tags keeps int/bool types intact; null
    // and {} tags both become a fresh single-key object
    val sp = Seq(
      Span(1L, None, 1L, "a", "svc-0", t0, Some(t0 + 1),
        Some("""{"retries":2,"cached":true}""")),
      Span(2L, None, 2L, "b", "svc-0", t0, Some(t0 + 1), None),
      Span(3L, None, 3L, "c", "svc-0", t0, Some(t0 + 1), Some("{}"))).toDF()
    // every span carries an ERROR log
    val got = TraceQueries.correlateSpanLogs(sp, Set(1L, 2L, 3L))
      .orderBy("id").select("tags").as[String].collect().toSeq
    assert(got == Seq(
      """{"retries":2,"cached":true,"error":true}""",
      """{"error":true}""",
      """{"error":true}"""))
    // the typed values then reach the Jaeger edge with real types
    val tags = Jaeger.toJaegerSpan(
      Span(1L, None, 1L, "a", "svc-0", t0, Some(t0 + 1), Some(got.head)))
      .tags.map(kv => kv.key -> kv).toMap
    assert(tags("retries").`type` == "int64")
    assert(tags("cached").`type` == "bool")
    assert(tags("error").`type` == "bool" && tags("error").value == "true")
  }

  test("error tag splice tolerates whitespace and never duplicates the key") {
    // stored tag text may carry surrounding whitespace (e.g. a trailing
    // newline from an external writer), and a span whose tags already
    // have an `error` key must not gain a second one (the reference's
    // HashMap insert can't duplicate, duo/src/models.rs:92)
    val sp = Seq(
      Span(1L, None, 1L, "a", "svc-0", t0, Some(t0 + 1),
        Some("{\"a\":1}\n")),
      Span(2L, None, 2L, "b", "svc-0", t0, Some(t0 + 1), Some("{ }")),
      Span(3L, None, 3L, "c", "svc-0", t0, Some(t0 + 1),
        Some("""{"error":true,"k":"v"}""")),
      // key PRESENT with a JSON null value: get_json_object can't tell
      // this from an absent key, but the map_contains_key presence
      // check can — no second `error` key may be spliced
      Span(4L, None, 4L, "d", "svc-0", t0, Some(t0 + 1),
        Some("""{"error":null}"""))).toDF()
    // every span carries an ERROR log
    val rows = TraceQueries.correlateSpanLogs(sp, Set(1L, 2L, 3L, 4L))
      .orderBy("id").select("tags", "has_err").collect()
    assert(rows.map(_.getAs[String]("tags")).toSeq == Seq(
      """{"a":1,"error":true}""",
      """{"error":true}""",
      """{"error":true,"k":"v"}""",
      """{"error":null}"""))
    assert(rows.forall(_.getAs[Boolean]("has_err")))
    // each spliced result is valid single-key-set JSON at the Jaeger edge
    rows.map(_.getAs[String]("tags")).foreach { t =>
      val kvs = Jaeger.toJaegerSpan(
        Span(9L, None, 9L, "x", "svc-0", t0, Some(t0 + 1), Some(t))).tags
      assert(kvs.nonEmpty) // parse did not silently drop the tags
      assert(kvs.count(_.key == "error") == 1)
    }
  }

  test("trace limit keeps the most recent roots (deterministic)") {
    val p = TraceSearchParams(service = "example", limit = 1)
    val ids = TraceQueries.filterTraces(spark, spans, logs, p)
      .select("trace_id").as[Long].collect().toSeq
    assert(ids == Seq(9002L)) // newer root start wins
  }

  test("getTrace returns the single assembled trace") {
    val row = TraceQueries.getTrace(spark, spans, logs, 9001L).collect()
    assert(row.length == 1 && row.head.getAs[Long]("n_spans") == 3)
  }

  test("traces come newest root first") {
    // root starts rise with the trace id, so newest first is the
    // reverse id order
    val many = (1 to 8).map(i => Span(i * 10L, None, 8000L + i, "op",
      "example-0", t0 + i * 1000L, Some(t0 + i * 1000L + 10L), None)).toDF()
    val ids = TraceQueries.filterTraces(spark, many, logs,
      TraceSearchParams(service = "example"))
      .select("trace_id").as[Long].collect().toSeq
    assert(ids == (8 to 1 by -1).map(8000L + _))
  }

  test("only logs of the admitted traces flag, splice and count") {
    // an ERROR log naming span 201 (trace 9002) under trace 9003's id:
    // trace 9003 is not in scope, so the log is not 9002's
    val crossed = logs.union(Seq(
      ("log-0", t0 + 560000, Some(9003L), Some(201L), "ERROR", Some("x")))
      .toDF("process_id", "time", "trace_id", "span_id", "level", "message"))
    val searched = TraceQueries.filterTraces(spark, spans, crossed,
      TraceSearchParams(service = "example")).collect()
      .find(_.getAs[Long]("trace_id") == 9002L).get
    val byId = TraceQueries.getTrace(spark, spans, crossed, 9002L).collect()
    for (t <- searched +: byId.toSeq) {
      assert(t.getAs[Int]("has_error") == 0)
      assert(t.getAs[Long]("n_logs") == 1)
      val s201 = t.getAs[scala.collection.Seq[Row]]("spans").head
      assert(s201.getAs[String]("tags") == null)
    }
  }

  test("plan shape: a search runs at most three jobs, a fetch by id two, " +
      "and no stage shuffles") {
    val dir = java.nio.file.Files.createTempDirectory("traceplan").toString
    spans.write.parquet(s"$dir/spans")
    logs.write.parquet(s"$dir/logs")
    val sp = spark.read.parquet(s"$dir/spans")
    val lg = spark.read.parquet(s"$dir/logs")
    val group = "trace-plan-shape"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val shuffled = new java.util.concurrent.atomic.AtomicLong
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group)) {
          jobs.incrementAndGet()
          e.stageIds.foreach(stages.add)
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (stages.contains(e.stageInfo.stageId))
          shuffled.addAndGet(
            e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    val sc = spark.sparkContext
    // (jobs, shuffle bytes written) of one call, its rows collected
    def measure(run: => DataFrame): (Int, Long, Array[Row]) = {
      graft.util.StreamGate.quiesce(spark)
      jobs.set(0); shuffled.set(0L)
      sc.setJobGroup(group, "plan shape")
      val rows = try run.collect() finally sc.clearJobGroup()
      graft.util.StreamGate.quiesce(spark)
      (jobs.get, shuffled.get, rows)
    }
    sc.addSparkListener(listener)
    try {
      val (searchJobs, searchShuffle, found) = measure(
        TraceQueries.filterTraces(spark, sp, lg,
          TraceSearchParams(service = "example")))
      assert(found.map(_.getAs[Long]("trace_id")).toSeq == Seq(9002L, 9001L))
      assert(searchJobs <= 3, s"$searchJobs jobs")
      assert(searchShuffle == 0L, s"$searchShuffle shuffle bytes")
      val (byIdJobs, byIdShuffle, one) = measure(
        TraceQueries.getTrace(spark, sp, lg, 9001L))
      assert(one.length == 1 && one.head.getAs[Long]("n_logs") == 2)
      assert(byIdJobs <= 2, s"$byIdJobs jobs")
      assert(byIdShuffle == 0L, s"$byIdShuffle shuffle bytes")
    } finally sc.removeSparkListener(listener)
  }

  test("Jaeger shaping: unsigned ids, CHILD_OF refs, name* for non-intact") {
    val procs = Seq(
      Process("example-0", "example", Map("v" -> TagValue.str("1"))),
      Process("example-1", "example", Map.empty))
    val collected = spans.as[Span].collect().filter(_.trace_id == 9001L).toSeq
    val jt = Jaeger.toJaegerTrace(9001L, collected, procs)
    assert(jt.traceID == "9001")
    val byId = jt.spans.map(s => s.spanID -> s).toMap
    assert(byId("102").references ==
      Seq(Jaeger.Reference("CHILD_OF", "9001", "101")))
    assert(byId("103").operationName == "baz*") // non-intact
    assert(byId("101").duration == 250000L)
    assert(jt.processes.keySet == Set("example-0", "example-1"))
    // unsigned rendering of a negative (bit-cast u64) id
    assert(Jaeger.renderId(-1L) == "18446744073709551615")
  }

  test("Jaeger tags carry real types through JSON (bool/int64/string)") {
    // typed span tags (as SpanMerger.toSpan writes them) decode into
    // typed KeyValues per duo/src/web/serialize.rs:46-60
    val span = Span(5L, None, 9L, "op", "example-0", t0, Some(t0 + 1),
      Some("""{"busy":"3.00ms","retries":2,"cached":true,"big":18446744073709551615}"""))
    val tags = Jaeger.toJaegerSpan(span).tags.map(kv => kv.key -> kv).toMap
    assert(tags("busy").`type` == "string" && tags("busy").value == "3.00ms")
    assert(tags("retries").`type` == "int64" && tags("retries").value == "2")
    assert(tags("cached").`type` == "bool" && tags("cached").value == "true")
    assert(tags("big").value == "18446744073709551615") // u64 > Long.Max
    // the serialized wire form emits bare JSON values for bool/int64
    val procs = Seq(Process("example-0", "example",
      Map("pid" -> TagValue.u64(42L), "debug" -> TagValue.bool(false))))
    val json = Jaeger.renderTrace(Jaeger.toJaegerTrace(9L, Seq(span), procs))
    assert(json.contains(""""type":"bool","value":true"""))
    assert(json.contains(""""type":"int64","value":2"""))
    assert(json.contains(""""value":18446744073709551615"""))
    assert(json.contains(""""type":"string","value":"3.00ms""""))
    assert(json.contains(""""value":42""") && json.contains(""""value":false"""))
  }

  test("Jaeger log serialization and the JaegerData envelope") {
    import graft.model.Log
    val log = Log("example-0", 1760000000000123L, Some(9L), Some(5L), "ERROR",
      Some("db::pool"), Some("pool.rs"), Some(42), Some("boom"))
    val jl = Jaeger.toJaegerLog(log, Seq("attempt" -> TagValue.i64(3L)))
    assert(jl.timestamp == 1760000000000123L)
    val f = jl.fields.map(kv => kv.key -> kv).toMap
    assert(f("file").value == "pool.rs:42") // file:line concat
    assert(f("level").value == "ERROR" && f("message").value == "boom")
    assert(f("attempt").`type` == "int64")
    // line missing -> the reference's unwrap_or_default 0
    val noLine = Jaeger.toJaegerLog(log.copy(line = None))
    assert(noLine.fields.find(_.key == "file").get.value == "pool.rs:0")
    // no file -> no file field at all
    assert(!Jaeger.toJaegerLog(log.copy(file = None)).fields.exists(_.key == "file"))
    // every route's response envelope: data + zeroed paging + null errors
    val env = Jaeger.renderLogs(Seq(jl))
    assert(env.contains(""""total":0""") && env.contains(""""errors":null"""))
    assert(env.contains(""""timestamp":1760000000000123"""))
    assert(env.contains(""""type":"int64","value":3"""))
    assert(Jaeger.renderTraces(Nil) ==
      """{"data":[],"total":0,"limit":0,"offset":0,"errors":null}""")
  }
}

package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ingest.SpanRecord
import graft.query.LogQueries.LogSearchParams
import graft.store.{ParquetStore, ProcessRegistry, SchemaRegistry}

/** End-to-end engine lifecycle: ingest → memory view → parquet flush →
  * unioned query, plus the store components (SURVEY §2.1, §2.8).
  */
class EngineSpec extends SparkSpec {
  import spark.implicits._

  private def tmpRoot(): String =
    Files.createTempDirectory("duospark-test").toString

  private val t0 = 1760000000000000L // 2025-10-09T08:53:20Z

  private def rec(seq: Long, id: Long, trace: Long, start: Long,
      end: Option[Long]) =
    SpanRecord(seq, id, None, trace, "op", "svc-0", start, end, Map.empty)

  test("concurrent log ingest: no dynamic column lost to the registry " +
      "read-modify-write, no WAL entry cleared ahead of its rows") {
    // the HTTP ingest route makes appendLogBatch concurrently
    // reachable; two writers introducing DIFFERENT dynamic columns
    // race the registry merge+save, and a concurrent flush races the
    // walAppend→append sequence against its walClear. The engine
    // serializes all three on its monitor — every column survives and
    // every row is queryable afterwards.
    val root = tmpRoot()
    val engine = new DuoEngine(spark, root, nowUs = () => t0 + 60000000L)
    val n = 6
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    try {
      val tasks = (0 until n).map { i =>
        pool.submit(new Runnable {
          override def run(): Unit =
            if (i % 3 == 2) engine.flush()
            else {
              val colName = if (i % 3 == 0) "left_col" else "right_col"
              engine.appendLogBatch(
                Seq(("svc-0", t0 + i, "INFO", s"m$i", s"v$i"))
                  .toDF("process_id", "time", "level", "message", colName))
            }
        })
      }
      tasks.foreach(_.get())
    } finally pool.shutdown()
    engine.flush()
    val schema = engine.currentLogSchema.fieldNames.toSet
    assert(schema.contains("left_col") && schema.contains("right_col"),
      schema)
    // every appended row present exactly once (memory or parquet)
    assert(engine.logTable(Some(t0), Some(t0 + n)).count() == 4)
    // a restart replays nothing stale: WAL was cleared by the final
    // flush, and the registry serves both columns from disk
    val engine2 = new DuoEngine(spark, root, nowUs = () => t0 + 60000000L)
    val schema2 = engine2.currentLogSchema.fieldNames.toSet
    assert(schema2.contains("left_col") && schema2.contains("right_col"))
    assert(engine2.logTable(Some(t0), Some(t0 + n)).count() == 4)
  }

  test("ingest -> flush -> query unions memory and parquet") {
    val root = tmpRoot()
    // clock pinned near the data so the default 15-min window covers it
    val engine = new DuoEngine(spark, root, nowUs = () => t0 + 60000000L)

    val logs1 = Seq(("svc-0", t0 + 1000L, "INFO", "first"))
      .toDF("process_id", "time", "level", "message")
    engine.ingestBatch(Seq(rec(1, 1, 100, t0, Some(t0 + 5000L))), logs1)
    engine.flush() // everything now in parquet, memory empty

    // second batch stays hot in memory, with a NEW dynamic column
    val logs2 = Seq(("svc-0", t0 + 2000L, "WARN", "second", 42L))
      .toDF("process_id", "time", "level", "message", "flag")
    engine.ingestBatch(Seq(rec(2, 2, 100, t0 + 10000L, Some(t0 + 20000L))), logs2)

    assert(engine.spanTable().count() == 2) // 1 parquet + 1 memory
    val got = engine.searchLogs(LogSearchParams(service = "svc"))
    assert(got.count() == 2)
    // drift: old parquet row surfaces the new column as null
    assert(got.filter(col("flag").isNull).count() == 1)
    assert(got.filter(col("flag") === 42L).count() == 1)

    // partitioned layout (hive dirs derived from row time) in the
    // flush's generation tree, listed by the manifest
    val spanDir = new java.io.File(s"$root/span")
    assert(spanDir.listFiles().filter(_.getName.startsWith("_gen-"))
      .exists(_.listFiles().exists(_.getName.startsWith("date="))))
    assert(new ParquetStore(spark, root, "span", "start").manifestPresent)
    // log schema persisted with the dynamic column
    val persisted = SchemaRegistry.load(s"$root/schema/log_schema.json").get
    assert(persisted.fieldNames.contains("flag"))
  }

  test("WAL replays un-flushed batches on restart and clears on flush") {
    val root = tmpRoot()
    val e1 = new DuoEngine(spark, root)
    val logs = Seq(("svc-0", t0 + 500L, "INFO", "walled"))
      .toDF("process_id", "time", "level", "message")
    e1.ingestBatch(Seq(rec(1, 11, 300, t0, Some(t0 + 1L))), logs)
    // crash before flush: a fresh engine over the same root replays WAL
    val e2 = new DuoEngine(spark, root)
    assert(e2.spanTable().count() == 1)
    assert(e2.logTable().count() == 1)
    e2.flush()
    assert(!new java.io.File(s"$root/wal/span").exists())
    assert(!new java.io.File(s"$root/wal/log").exists())
    // after the flush the data lives in cold parquet only — no double count
    val e3 = new DuoEngine(spark, root)
    assert(e3.spanTable().count() == 1)
    assert(e3.logTable().count() == 1)
  }

  test("arrow WAL round-trips all storage types including nulls") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("l", LongType), StructField("i", IntegerType),
      StructField("d", DoubleType), StructField("b", BooleanType),
      StructField("s", StringType)))
    val rows = Seq(
      Row(1L, 2, 3.5, true, "héllo \"quoted\""),
      Row(null, null, null, null, null),
      Row(-9223372036854775808L, -1, -0.0, false, ""))
    val path = tmpRoot() + "/wal/x/1.arrow"
    graft.store.ArrowWal.write(path, schema, rows)
    val (gotSchema, gotRows) = graft.store.ArrowWal.read(path)
    assert(gotSchema.fields.map(f => (f.name, f.dataType)).toSeq ==
      schema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(gotRows == rows)
    // an unsupported type fails loudly instead of corrupting the WAL
    intercept[IllegalArgumentException] {
      graft.store.ArrowWal.write(tmpRoot() + "/bad.arrow",
        StructType(Seq(StructField("a", ArrayType(LongType)))), Nil)
    }
  }

  test("arrow-format WAL replays un-flushed batches and clears on flush") {
    val root = tmpRoot()
    val e1 = new DuoEngine(spark, root, walFormat = "arrow")
    val logs = Seq(("svc-0", t0 + 500L, "INFO", "walled", 7L))
      .toDF("process_id", "time", "level", "message", "flag")
    e1.ingestBatch(Seq(rec(1, 11, 300, t0, Some(t0 + 1L))), logs)
    // the reference's on-disk format: one IPC file per snapshot (the
    // checksumming local FileSystem's hidden `.crc` shadows are an FS
    // implementation detail, not WAL contents)
    val spanWal = new java.io.File(s"$root/wal/span").listFiles()
      .filterNot(_.getName.startsWith("."))
    assert(spanWal.nonEmpty && spanWal.forall(_.getName.endsWith(".arrow")))
    // crash before flush: a fresh engine replays the IPC files,
    // including the dynamic log column
    val e2 = new DuoEngine(spark, root, walFormat = "arrow")
    assert(e2.spanTable().count() == 1)
    assert(e2.logTable().filter(col("flag") === 7L).count() == 1)
    e2.flush()
    assert(!new java.io.File(s"$root/wal/span").exists())
    assert(!new java.io.File(s"$root/wal/log").exists())
    val e3 = new DuoEngine(spark, root, walFormat = "arrow")
    assert(e3.spanTable().count() == 1 && e3.logTable().count() == 1)
  }

  test("arrow WAL sequence resumes after restart (no file collision)") {
    val root = tmpRoot()
    val e1 = new DuoEngine(spark, root, walFormat = "arrow")
    val logsA = Seq(("svc-0", t0 + 1L, "INFO", "a"))
      .toDF("process_id", "time", "level", "message")
    e1.ingestBatch(Seq(rec(1, 31, 500, t0, Some(t0 + 1L))), logsA)
    def walNames() = new java.io.File(s"$root/wal/log").listFiles()
      .map(_.getName).filterNot(_.startsWith(".")).toSet // drop .crc shadows
    val before = walNames()
    // crash-restart: the new engine must append AFTER the replayed
    // files, not truncate them from sequence 1 again
    val e2 = new DuoEngine(spark, root, walFormat = "arrow")
    val logsB = Seq(("svc-0", t0 + 2L, "INFO", "b"))
      .toDF("process_id", "time", "level", "message")
    e2.appendLogBatch(logsB)
    val after = walNames()
    assert(before.subsetOf(after) && after.size == before.size + 1)
    // a second crash-restart replays BOTH batches
    val e3 = new DuoEngine(spark, root, walFormat = "arrow")
    assert(e3.logTable().count() == 2)
  }

  test("hot-view size guard forces an early flush past maxHotRows") {
    val root = tmpRoot()
    val engine = new DuoEngine(spark, root, maxHotRows = 5L)
    def logs(ids: Range) = ids.map(i =>
      ("svc-0", t0 + i.toLong, "INFO", s"m$i"))
      .toDF("process_id", "time", "level", "message")
    engine.appendLogBatch(logs(1 to 3))
    // under the ceiling: rows stay hot, WAL retained
    assert(new java.io.File(s"$root/wal/log").exists())
    assert(new java.io.File(s"$root/log").exists() == false)
    engine.appendLogBatch(logs(4 to 6))
    // 6 >= 5: the guard flushed early — WAL cleared, parquet landed
    assert(!new java.io.File(s"$root/wal/log").exists())
    assert(new java.io.File(s"$root/log").exists())
    // nothing lost across the forced drain, and ingest continues
    assert(engine.logTable().count() == 6)
    engine.appendLogBatch(logs(7 to 8))
    assert(new java.io.File(s"$root/wal/log").exists()) // hot again
    assert(engine.logTable().count() == 8)
    // the default ceiling is a backstop, not a cadence: small batches
    // never trigger it
    val calmRoot = tmpRoot()
    val calm = new DuoEngine(spark, calmRoot)
    calm.appendLogBatch(logs(1 to 3))
    assert(calm.logTable().count() == 3)
    assert(!new java.io.File(s"$calmRoot/log").exists())
    assert(new java.io.File(s"$calmRoot/wal/log").exists())
  }

  test("early flushes racing maintain ticks on one engine: no commit " +
      "conflict, every row visible exactly once") {
    // every flush commits a generation and every maintain tick commits
    // heals and vacuums (grace 0: an unpublished flush tree would be
    // an orphan to it, but vacuum skips trees still landing); a flush
    // commits past a running heal and the heal commits over it, so
    // neither side loses a commit after flush has drained the hot view
    val root = tmpRoot()
    val engine = new DuoEngine(spark, root, maxHotRows = 3L)
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val maintainer = new Thread(() =>
      try while (!done.get) engine.maintain(maxFilesPerDate = 1,
        minAvgBytes = 0L, vacuumGraceMs = 0L): Unit
      catch { case e: Throwable => failures.add(e): Unit })
    maintainer.start()
    val batches = 10
    try (0 until batches).foreach { b =>
      // 4 rows ≥ maxHotRows: every append forces an early flush, and
      // each batch spans the same few minutes, fragmenting them
      engine.appendLogBatch((0 until 4).map(i =>
        ("svc-0", t0 + (i * 60L + b) * 1000000L, "INFO", s"m$b-$i"))
        .toDF("process_id", "time", "level", "message"))
    } finally { done.set(true); maintainer.join() }
    assert(failures.isEmpty, failures.toString)
    val msgs = engine.logTable().select("message").as[String].collect()
    assert(msgs.length == batches * 4 && msgs.distinct.length == msgs.length)
    assert(msgs.toSet == (for (b <- 0 until batches; i <- 0 until 4)
      yield s"m$b-$i").toSet)
  }

  test("an append commits while a rewrite is in flight, and the " +
      "rewrite commits over it: neither waits out nor fails the other") {
    // the append lands on another thread from inside the rewrite's
    // commit seam, i.e. while the rewrite holds the store's monitor;
    // it must finish there, and the rewrite's patch must then commit
    // over it without dropping it — for a date heal, a whole-table
    // compaction and a reload of the planned rows alike
    def batch(ids: Seq[Int], extra: Boolean) = {
      val df = ids.map(i => ("svc-0", t0 + i * 1000000L, "INFO", s"m$i"))
        .toDF("process_id", "time", "level", "message")
      if (extra) df.withColumn("region", lit("eu")) else df
    }
    val date = java.time.LocalDate.ofInstant(
      java.time.Instant.ofEpochSecond(t0 / 1000000L),
      java.time.ZoneId.of(spark.conf.get("spark.sql.session.timeZone")))
      .toString
    val rewrites = Seq[(String, ParquetStore => Unit)](
      "compactDate" -> (_.compactDate(date)),
      "compact" -> (_.compact()),
      "replace" -> (_.replaceCommitted(Some(batch(1 to 3, extra = false)),
        info = Some("""{"op":"replace"}"""))))
    for ((op, rewrite) <- rewrites) {
      val st = new ParquetStore(spark, tmpRoot(), "log", "time")
      st.write(batch(Seq(1, 2), extra = false))
      st.write(batch(Seq(3), extra = false))
      val landedInFlight = new java.util.concurrent.atomic.AtomicBoolean
      st.beforeCommit = () => {
        st.beforeCommit = () => ()
        val t = new Thread(() => st.write(batch(Seq(4, 5), extra = true)))
        t.start()
        t.join(120000L)
        landedInFlight.set(!t.isAlive)
      }
      try rewrite(st) finally st.beforeCommit = () => ()
      assert(landedInFlight.get, s"$op: the append waited for the rewrite")
      val infos = st.generationInfos()
      assert(infos(st.generations().last).exists(_.contains(s""""op":"$op"""")),
        s"$op: the rewrite is the newest commit, over the append")
      val msgs = st.read(None, None).get.select("message").as[String]
        .collect()
      assert(msgs.sorted.toSeq == (1 to 5).map(i => s"m$i"), op)
      // the rewrite's recorded schema took the append's new column on
      assert(st.manifestSchema.exists(_.fieldNames.contains("region")), op)
      assert(st.read(None, None).get.where(col("region") === "eu")
        .count() == 2, op)
    }
  }

  test("flush-cadence history: after a heal and five more flushes the " +
      "pre-heal generation still time-travels, diffs and feeds CDC") {
    // every flush is a generation, and publish keeps every generation
    // younger than StoreManifest.RetainMs, so history reaches back the
    // vacuum grace, not the last few flushes
    val root = tmpRoot()
    val engine = new DuoEngine(spark, root)
    def line(msg: String, offUs: Long) =
      s"""{"process_id":"svc-0","time":${t0 + offUs},""" +
        s""""level":"INFO","message":"$msg"}"""
    def msgs(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select("message").as[String].collect().toSet
    engine.ingestJsonLogs(Seq(line("a-1", 0L))): Unit
    engine.flush()
    engine.ingestJsonLogs(Seq(line("a-2", 1000000L))): Unit
    engine.flush()
    val preHeal = engine.generations("log").last
    val feed = engine.cdcFeed("log", "lagging", Seq("message"))
    feed.commit(preHeal)
    assert(engine.maintain(maxFilesPerDate = 1)("log").nonEmpty)
    (1 to 5).foreach { i =>
      engine.ingestJsonLogs(Seq(line(s"b-$i", (1L + i) * 1000000L))): Unit
      engine.flush()
    }
    val gens = engine.generations("log")
    assert(gens.contains(preHeal) && gens.size >= 8, gens)
    assert(msgs(engine.logTableAsOf(preHeal).get) == Set("a-1", "a-2"))
    val added = (1 to 5).map(i => s"b-$i").toSet
    assert(msgs(engine.changesBetween("log", preHeal, gens.last,
      Seq("message")).get) == added)
    val inc = feed.poll().get
    assert(!inc.resync && msgs(inc.added.get) == added, inc)
  }

  test("open spans survive batches until closed") {
    val engine = new DuoEngine(spark, tmpRoot(), memoryMode = true)
    val noLogs = Seq.empty[(String, Long, String, String)]
      .toDF("process_id", "time", "level", "message")
    engine.ingestBatch(Seq(rec(1, 7, 200, t0, None)), noLogs)
    assert(engine.spanTable().count() == 0) // still open
    engine.ingestBatch(Seq(rec(2, 7, 200, t0, Some(t0 + 99L))), noLogs)
    assert(engine.spanTable().count() == 1) // merged + emitted
  }

  test("memory mode never writes to disk") {
    val root = tmpRoot()
    val engine = new DuoEngine(spark, root, memoryMode = true)
    val logs = Seq(("svc-0", t0, "INFO", "m")).toDF("process_id", "time", "level", "message")
    engine.ingestBatch(Nil, logs)
    engine.flush()
    assert(!new java.io.File(s"$root/log").exists())
    assert(engine.searchLogs(LogSearchParams(service = "svc")).count() == 1)
  }

  test("parquet store prunes by time range and drops partition cols") {
    val root = tmpRoot()
    val store = new ParquetStore(spark, root, "span", "start")
    val day1 = 1760000000000000L
    val day2 = day1 + 86400L * 1000000L
    store.write(Seq((1L, day1, 100L), (2L, day2, 200L))
      .toDF("id", "start", "trace_id"))
    val all = store.read(None, None).get
    assert(all.count() == 2 && !all.columns.contains("date"))
    val onlyDay1 = store.read(Some(day1 - 1000), Some(day1 + 1000)).get
    assert(onlyDay1.select("id").as[Long].collect().toSeq == Seq(1L))
    // reference-shaped prefix listing finds the same row
    val viaPrefixes = store.readPrefixes(day1 - 1000000L, day1 + 1000000L).get
    assert(viaPrefixes.select("id").as[Long].collect().toSeq == Seq(1L))
  }

  test("default query window reads only the last 15 min of parquet") {
    val root = tmpRoot()
    val hourUs = 3600L * 1000000L
    // "now" pinned 1 minute after t0; an old batch sits 2 days back
    val engine = new DuoEngine(spark, root, nowUs = () => t0 + 60000000L)
    val tOld = t0 - 2L * 24 * hourUs
    engine.appendLogBatch(Seq(("svc-0", tOld, "INFO", "ancient"))
      .toDF("process_id", "time", "level", "message"))
    engine.flush()
    engine.appendLogBatch(Seq(("svc-0", t0 + 1000L, "INFO", "recent"))
      .toDF("process_id", "time", "level", "message"))
    engine.flush()
    // both rows are in cold parquet, in two different date partitions
    assert(new java.io.File(s"$root/log").listFiles()
      .filter(_.getName.startsWith("_gen-"))
      .flatMap(_.listFiles().map(_.getName))
      .count(_.startsWith("date=")) == 2)

    // default (unset range): only the recent partition is read
    val hits = engine.searchLogs(LogSearchParams(service = "svc"))
    assert(hits.select("message").as[String].collect().toSeq == Seq("recent"))
    // the pruned read path: the physical plan carries the date partition
    // predicate, so the old partition's directory is never listed in
    val planStr = hits.queryExecution.executedPlan.toString
    assert(planStr.contains("PartitionFilters") && planStr.contains("date"))

    // explicit opt-out scans everything
    val all = engine.searchLogs(LogSearchParams(service = "svc", unbounded = true))
    assert(all.count() == 2)
    // an explicit range behaves as before
    val old = engine.searchLogs(LogSearchParams(service = "svc",
      startUs = Some(tOld - 1000L), endUs = Some(tOld + 1000L)))
    assert(old.select("message").as[String].collect().toSeq == Seq("ancient"))
  }

  test("raw JSON log ingest infers dynamic field types and serves stats") {
    import org.apache.spark.sql.types._
    val engine = new DuoEngine(spark, tmpRoot(), memoryMode = true)
    engine.ingestJsonLogs(Seq(
      """{"process_id":"svc-0","time":1000,"level":"info","message":"m1","user_id":42,"score":1.5,"ok":true}""",
      """{"process_id":"svc-0","time":2000,"level":"wat","message":"m2","user_id":42}""",
      """{"process_id":"svc-0","time":3000,"level":"ERROR","message":"m3","user_id":7}"""))
    val tbl = engine.logTable()
    // inferred dynamic columns carry real types (duo/src/arrow.rs:70-91)
    assert(tbl.schema("user_id").dataType == LongType)
    assert(tbl.schema("score").dataType == DoubleType)
    assert(tbl.schema("ok").dataType == BooleanType)
    // base columns keep their pinned registry types
    assert(tbl.schema("time").dataType == LongType)
    // level normalization: case-folded, unknown degrades to DEBUG
    assert(tbl.orderBy("time").select("level").as[String].collect().toSeq ==
      Seq("INFO", "DEBUG", "ERROR"))
    // the new typed column serves fieldStats like any registered field
    val stats = engine.fieldStats("user_id",
      LogSearchParams(service = "svc")).get.collect()
    assert(stats.map(r => (r.getAs[Long]("value"), r.getAs[Long]("count")))
      .toSeq == Seq((42L, 2L), (7L, 1L)))
    // a second JSON batch with another new field widens monotonically
    engine.ingestJsonLogs(Seq(
      """{"process_id":"svc-0","time":4000,"level":"INFO","message":"m4","region":"eu"}"""))
    assert(engine.logTable().schema.fieldNames.contains("region"))
    assert(engine.logTable().filter(col("region").isNull).count() == 3)
  }

  test("expiry retiring a drifted column's only files: the registry " +
      "keeps the column, reads resurrect it as all-null, stats are empty") {
    // The registry↔manifest contract after retention (VERDICT r15 #7),
    // DECIDED as documented resurrect-as-null: the schema registry
    // records the union of schemas ever ingested — it is the QUERY
    // surface's contract, so a saved query referencing the column
    // keeps planning after the data retires and deterministically
    // answers null. Registry GC on expiry would make a column's
    // existence depend on retention timing (and cost a full-schema
    // scan to prove no survivor carries it). fieldStats' null-drop
    // (F12, g06's drift semantics) then makes the retired column's
    // stats EMPTY, not an error — g06 and g10 compose.
    val root = tmpRoot()
    val engine = new DuoEngine(spark, root)
    val day = 86400L * 1000000L
    val t0 = 1705276800000000L // 2024-01-15T00:00:00Z
    // old date carries the drifted column; new date never has it
    engine.appendLogBatch(Seq(("svc-0", t0 + 1000L, "INFO", "m1", 7L))
      .toDF("process_id", "time", "level", "message", "tmp_col"))
    engine.flush()
    engine.appendLogBatch(Seq(("svc-0", t0 + day + 1000L, "INFO", "m2"))
      .toDF("process_id", "time", "level", "message"))
    engine.flush()
    assert(engine.fieldStats("tmp_col",
        LogSearchParams(service = "svc", unbounded = true))
      .get.collect().length == 1)
    // retention drops the only files carrying tmp_col
    val store = new ParquetStore(spark, root, "log", "time")
    assert(store.expire(t0 + day)._1 == 1)
    val tbl = engine.logTable()
    // the registry still serves the column — resurrected as all-null
    assert(tbl.columns.contains("tmp_col"))
    assert(tbl.count() == 1)
    assert(tbl.filter(col("tmp_col").isNull).count() == 1)
    // and its stats are deterministically EMPTY (null-drop), no error
    val stats = engine.fieldStats("tmp_col",
      LogSearchParams(service = "svc", unbounded = true)).get.collect()
    assert(stats.isEmpty, s"retired column stats: ${stats.toSeq}")
    // a fresh engine over the same root agrees (registry persisted)
    val e2 = new DuoEngine(spark, root)
    assert(e2.logTable().columns.contains("tmp_col"))
    assert(e2.fieldStats("tmp_col",
      LogSearchParams(service = "svc", unbounded = true))
      .get.collect().isEmpty)
  }

  test("registry GC (operator-invoked) drops exactly the columns no " +
      "retained data carries; saved queries then fail loudly; base " +
      "columns and live drift survive") {
    val root = tmpRoot()
    val engine = new DuoEngine(spark, root)
    val day = 86400L * 1000000L
    val t0 = 1705276800000000L
    // old date: the only carrier of tmp_col; new date: carries
    // keep_col, which must survive gc
    engine.appendLogBatch(Seq(("svc-0", t0 + 1000L, "INFO", "m1", 7L))
      .toDF("process_id", "time", "level", "message", "tmp_col"))
    engine.flush()
    engine.appendLogBatch(
      Seq(("svc-0", t0 + day + 1000L, "INFO", "m2", "x"))
        .toDF("process_id", "time", "level", "message", "keep_col"))
    engine.flush()
    // an un-flushed hot view blocks gc (its columns have no on-disk
    // schema to prove them live)
    engine.appendLogBatch(Seq(("svc-0", t0 + day + 2000L, "INFO", "m3"))
      .toDF("process_id", "time", "level", "message"))
    intercept[IllegalArgumentException] { engine.gcLogSchema() }
    engine.flush()
    // with all carriers still retained, gc drops nothing
    assert(engine.gcLogSchema().isEmpty)
    // retention drops tmp_col's only files; the default contract
    // (resurrect-as-null) still holds until the operator opts out
    val store = new ParquetStore(spark, root, "log", "time")
    assert(store.expire(t0 + day)._1 == 1)
    assert(engine.logTable().columns.contains("tmp_col"))
    // the flushes' older generations still carry tmp_col (time travel
    // reaches them) until vacuum's grace prunes them
    assert(engine.gcLogSchema().isEmpty)
    store.vacuum(graceMs = 0L): Unit
    // gc proves tmp_col dead from the store truth and drops ONLY it
    assert(engine.gcLogSchema() == Seq("tmp_col"))
    val tbl = engine.logTable()
    assert(!tbl.columns.contains("tmp_col"))
    assert(tbl.columns.contains("keep_col"))
    // a saved query referencing the dropped column now fails loudly —
    // the documented trade of invoking gc
    intercept[org.apache.spark.sql.AnalysisException] {
      tbl.select("tmp_col").collect()
    }
    // fieldStats degrades to None (unknown field), not an empty frame
    assert(engine.fieldStats("tmp_col",
      LogSearchParams(service = "svc", unbounded = true)).isEmpty)
    // persisted: a fresh engine over the same root agrees; idempotent
    val e2 = new DuoEngine(spark, root)
    assert(!e2.logTable().columns.contains("tmp_col"))
    assert(e2.logTable().columns.contains("keep_col"))
    assert(e2.gcLogSchema().isEmpty)
  }

  test("drifted JSON flushes land parquet files with genuinely different schemas") {
    // the g06 gate's disk-level premise: flush 1 (narrow fields) and
    // flush 2 (adds `target`) must produce files whose FOOTERS differ,
    // so the merged read is a real drift union, not a no-op
    val root = tmpRoot()
    val engine = new DuoEngine(spark, root)
    assert(engine.ingestJsonLogs(Seq(
      """{"process_id":"svc-0","time":1760000000000000,"level":"INFO","message":"a"}""")) == 0L)
    engine.flush()
    assert(engine.ingestJsonLogs(Seq(
      """{"process_id":"svc-0","time":1760000000100000,"level":"WARN","message":"b","target":"x","value":1.5}""")) == 0L)
    engine.flush()
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    val schemas = walk(new java.io.File(s"$root/log"))
      .map(f => spark.read.parquet(f.getPath).schema.fieldNames.toSet)
      .distinct
    assert(schemas.size == 2, s"expected two distinct file schemas, got $schemas")
    // `value` is born-dynamic (absent from the base registry), so ONLY
    // flush 2's file carries it — base-registry columns like `target`
    // are null-widened into every flush and prove nothing about drift
    assert(schemas.exists(_.contains("value")) &&
      schemas.exists(!_.contains("value")))
    // a fresh engine serves the late column from disk alone, with
    // batch-1 rows visible as nulls under the merged schema
    val fresh = new DuoEngine(spark, root)
    val t = fresh.logTable()
    assert(t.count() == 2 && t.filter(col("value").isNull).count() == 1)
  }

  test("JSON ingest rejects corrupt lines and flattens nested values") {
    import org.apache.spark.sql.types._
    val engine = new DuoEngine(spark, tmpRoot(), memoryMode = true)
    // the dropped-line count is returned, never silent
    assert(engine.ingestJsonLogs(Seq(
      """{"process_id":"svc-0","time":1000,"level":"INFO","message":"ok","ctx":{"a":1},"ids":[1,2]}""",
      """{this is not json at all""",
      """{"process_id":"svc-0","time":2000,"level":"INFO","message":"ok2"}""")) == 1L)
    val tbl = engine.logTable()
    // the malformed line never becomes a permanent dynamic field
    assert(!tbl.schema.fieldNames.contains("_corrupt_record"))
    assert(!tbl.schema.fieldNames.contains("_graft_corrupt_record"))
    // nested object/array values arrive as JSON text (scalar columns
    // only, like the reference's scalar oneof wire values) — so the
    // Arrow WAL's supported-type set still covers every column
    assert(tbl.schema("ctx").dataType == StringType)
    assert(tbl.schema("ids").dataType == StringType)
    assert(tbl.filter(col("ctx") === """{"a":1}""").count() == 1)
    assert(tbl.count() == 2)
    // an all-corrupt batch is a clean no-op, still counted
    assert(engine.ingestJsonLogs(Seq("""not json""")) == 1L)
    assert(engine.logTable().count() == 2)
    // a fully-clean batch reports zero drops
    assert(engine.ingestJsonLogs(Seq(
      """{"process_id":"svc-0","time":3000,"level":"INFO","message":"ok3"}""")) == 0L)
  }

  test("ingestJsonLogDir: file feed ≡ line feed on drifted batches") {
    // the g08 premise: the distributed file path and the driver line
    // path share one normalization, so the SAME drifted content lands
    // identically whichever edge it arrives through
    val narrow = Seq(
      """{"process_id":"svc-0","time":1000,"level":"info","message":"a","user_id":42}""",
      """{"process_id":"svc-0","time":2000,"level":"wat","message":"b","user_id":7}""")
    val wide = Seq(
      """{"process_id":"svc-0","time":3000,"level":"ERROR","message":"c","target":"x","value":1.5,"ctx":{"k":1}}""")
    val lineEng = new DuoEngine(spark, tmpRoot(), memoryMode = true)
    assert(lineEng.ingestJsonLogs(narrow) == 0L)
    assert(lineEng.ingestJsonLogs(wide) == 0L)
    val feed = java.nio.file.Files.createTempDirectory("jsonfeed")
    java.nio.file.Files.createDirectories(feed.resolve("b1"))
    java.nio.file.Files.createDirectories(feed.resolve("b2"))
    java.nio.file.Files.write(feed.resolve("b1/part-0.json"),
      narrow.mkString("\n").getBytes("UTF-8"))
    java.nio.file.Files.write(feed.resolve("b2/part-0.json"),
      wide.mkString("\n").getBytes("UTF-8"))
    val fileEng = new DuoEngine(spark, tmpRoot(), memoryMode = true)
    assert(fileEng.ingestJsonLogDir(feed.resolve("b1").toString) == 0L)
    assert(fileEng.ingestJsonLogDir(feed.resolve("b2").toString) == 0L)
    val (a, b) = (lineEng.logTable(), fileEng.logTable())
    assert(a.schema == b.schema,
      s"schema drift between feeds: ${a.schema} vs ${b.schema}")
    val cols = a.columns.sorted.map(col).toIndexedSeq
    assert(a.select(cols: _*).collect().toSet ==
      b.select(cols: _*).collect().toSet)
  }

  test("ingestJsonLogDir direct: straight to cold store, malformed lines counted") {
    val feed = java.nio.file.Files.createTempDirectory("jsonfeed2")
    java.nio.file.Files.write(feed.resolve("part-0.json"),
      Seq(
        """{"process_id":"svc-0","time":1760000000000000,"level":"INFO","message":"a"}""",
        """{oops — not json""",
        """{"process_id":"svc-0","time":1760000000100000,"level":"WARN","message":"b","code":"c1"}""")
        .mkString("\n").getBytes("UTF-8"))
    val root = tmpRoot()
    val engine = new DuoEngine(spark, root)
    // malformed accounting works without caching the input (SPARK-21610
    // path: DROPMALFORMED re-read + line-count delta)
    assert(engine.ingestJsonLogDir(feed.toString) == 1L)
    // direct = true: no hot rows, no WAL — the cold store has the data
    assert(engine.logMemory.snapshot().isEmpty)
    assert(!new java.io.File(s"$root/wal/log").exists())
    // a fresh engine serves both rows (and the dynamic column) from
    // disk + the persisted registry alone
    val fresh = new DuoEngine(spark, root)
    val t = fresh.logTable() // unset bounds: logTable scans the full store
    assert(t.count() == 2)
    assert(t.schema.fieldNames.contains("code"))
    assert(t.filter(col("code") === "c1").count() == 1)
    // an all-corrupt directory is a counted no-op
    val bad = java.nio.file.Files.createTempDirectory("jsonfeed3")
    java.nio.file.Files.write(bad.resolve("part-0.json"),
      "nope\n\nalso nope".getBytes("UTF-8"))
    assert(engine.ingestJsonLogDir(bad.toString) == 2L)
  }

  test("compaction policy: triggers on depth or age, reads identical, late flush survives") {
    val root = tmpRoot()
    val store = new ParquetStore(spark, root, "span", "start")
    val day1 = 1760000000000000L
    def row(id: Long) = Seq((id, day1 + id, id)).toDF("id", "start", "trace_id")
    (1L to 3L).foreach(i => store.writeStaged(row(i)))
    val before = store.read(None, None).get.orderBy("id").collect().toSeq
    // below both thresholds: no drain
    assert(!store.maybeCompact(maxStagedFiles = 64))
    assert(store.stagedFileCount == 3)
    // depth trigger fires, staging drains into the partitioned layout
    assert(store.maybeCompact(maxStagedFiles = 3))
    assert(store.stagedFileCount == 0)
    assert(store.read(None, None).get.orderBy("id").collect().toSeq == before)
    // prefix read path agrees post-drain (directory pruning now applies)
    assert(store.readPrefixes(day1, day1 + 10L).get.count() == 3)
    // age trigger: a single staged file is too shallow for depth but
    // crosses the age horizon against a pinned "now"
    store.writeStaged(row(4L))
    assert(!store.maybeCompact(maxStagedFiles = 64,
      maxAgeUs = Some(3600L * 1000000L)))
    val future = System.currentTimeMillis() * 1000L + 7200L * 1000000L
    assert(store.maybeCompact(maxStagedFiles = 64,
      maxAgeUs = Some(3600L * 1000000L), nowUs = future))
    assert(store.read(None, None).get.count() == 4)
  }

  test("bloom NDV is sized: a small flush file is not a megabyte of bitset") {
    // parquet's default expected-NDV is 1,000,000: measured on this
    // store, a 26-row flush file carried ~1 KB of column data and
    // ~1.05 MB of trace_id bloom bitset. The store now sizes the hint
    // (DefaultBloomNdv) — a 2^16 bloom is ~80 KB; this pins that the
    // option actually reaches the writer on every write path.
    val root = tmpRoot()
    val store = new ParquetStore(spark, root, "span", "start")
    val t0 = 1760000000000000L
    def rows(ids: Long*) = ids.map(i => (i, t0 + i * 60L * 1000000L, i))
      .toDF("id", "start", "trace_id")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    // superseded files stay on disk until vacuum, so each step's own
    // output is what appeared during it
    def landsSized(op: String)(run: => Unit): Unit = {
      val before = files(new java.io.File(s"$root/span")).toSet
      run
      val landed = files(new java.io.File(s"$root/span")).filterNot(before)
      assert(landed.nonEmpty && landed.forall(_.length < 200 * 1024),
        s"$op: " +
          landed.map(f => s"${f.getName}=${f.length}").mkString(", "))
    }
    val date = java.time.LocalDate.ofInstant(
      java.time.Instant.ofEpochSecond(t0 / 1000000L),
      java.time.ZoneId.of(spark.conf.get("spark.sql.session.timeZone")))
    landsSized("writeStaged")(store.writeStaged(rows(1L)))
    landsSized("write")(store.write(rows(2L)))
    landsSized("compactDate")(store.compactDate(date.toString))
    landsSized("applyMirror")(
      store.applyMirror(Some(rows(3L)), Some(rows(2L)), Seq("id")))
    landsSized("replaceCommitted")(store.replaceCommitted(Some(rows(4L))))
    landsSized("compact")(store.compact())
  }

  test("coarse-granularity drain: reads identical, leaf dirs collapse") {
    val base = 1760000000000000L // µs epoch, mid-minute times below
    // 40 rows every 7 minutes ≈ 4.7 hours across two hour boundaries
    val rows = Seq.tabulate(40)(i =>
      (i.toLong, "INFO", base + i * 7L * 60L * 1000000L + 11L * 1000000L))
    def newStore(g: String): (ParquetStore, String) = {
      val root = tmpRoot()
      val st = new ParquetStore(spark, root, "log", "time")
      st.writeStaged(rows.toDF("id", "level", "time"))
      st.compact(granularity = g)
      (st, root)
    }
    def dirNames(root: String): Seq[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory)
          f +: Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        else Nil
      walk(new java.io.File(s"$root/log")).map(_.getName)
    }
    val (minuteStore, _) = newStore("minute")
    val (hourStore, hourRoot) = newStore("hour")
    val (dayStore, dayRoot) = newStore("day")
    // the coarse trees really are coarse: no minute dirs at hour
    // grain, no hour dirs at day grain
    assert(!dirNames(hourRoot).exists(_.startsWith("minute=")))
    assert(dirNames(hourRoot).exists(_.startsWith("hour=")))
    assert(!dirNames(dayRoot).exists(_.startsWith("hour=")))
    assert(dirNames(dayRoot).exists(_.startsWith("date=")))
    // read(): granularity-invariant (date pruning + row predicate)
    val want = rows.sortBy(_._1)
    def readAll(st: ParquetStore) = st.read(Some(base), Some(base + 5L * 3600L * 1000000L))
      .get.orderBy("id").as[(Long, String, Long)].collect().toSeq
    assert(readAll(minuteStore) == want)
    assert(readAll(hourStore) == want)
    assert(readAll(dayStore) == want)
    // readPrefixes: mid-minute bounds; the coarse fallback must return
    // EXACTLY what the minute layout's directory-granular read returns
    val lo = base + 40L * 60L * 1000000L + 17L * 1000000L
    val hi = base + 3L * 3600L * 1000000L + 5L * 1000000L
    def prefixRead(st: ParquetStore) = st.readPrefixes(lo, hi)
      .get.orderBy("id").as[(Long, String, Long)].collect().toSeq
    val viaMinute = prefixRead(minuteStore)
    assert(viaMinute.nonEmpty)
    assert(prefixRead(hourStore) == viaMinute)
    assert(prefixRead(dayStore) == viaMinute)
    // a coarse tree recompacts back to minute grain losslessly (the
    // partition dirs are pure functions of the time column)
    hourStore.compact(granularity = "minute")
    assert(readAll(hourStore) == want)
    assert(prefixRead(hourStore) == viaMinute)
    // the policy passes granularity through
    dayStore.writeStaged(Seq((99L, "WARN", base)).toDF("id", "level", "time"))
    assert(dayStore.maybeCompact(maxStagedFiles = 1, granularity = "day"))
    assert(!dirNames(dayRoot).exists(_.startsWith("hour=")))
    assert(dayStore.read(None, None).get.count() == 41)
  }

  test("retention: expire drops old dates and provably-dead staged " +
      "files, keeps straddlers whole") {
    val base = 1705276800000000L // 2024-01-15T00:00:00Z
    val day = 86400L * 1000000L
    val root = tmpRoot()
    val st = new ParquetStore(spark, root, "log", "time")
    def rows(pairs: (Long, Long)*) = pairs
      .map { case (id, t) => (id, "INFO", t) }
      .toDF("id", "level", "time").coalesce(1) // one staged file each
    st.writeStaged(rows(1L -> (base + 1000L), 2L -> (base + day + 1000L),
      3L -> (base + 2 * day + 1000L)))
    st.compact(granularity = "day") // dates 15, 16, 17
    st.writeStaged(rows(4L -> (base + 2000L))) // footer-provably dead
    st.writeStaged(rows(5L -> (base + day + 5000L),
      6L -> (base + 2 * day + 5000L))) // one file straddling the floor
    val cutoff = base + 2 * day + 3600L * 1000000L // mid-day-17
    assert(st.expire(cutoff) == ((2, 1)))
    // dates 15+16 dropped whole; the dead staged file dropped; the
    // straddler keeps BOTH rows — retention never splits a file, so
    // it can only ever RETAIN extra rows, never lose live ones
    assert(st.read(None, None).get.select("id").as[Long]
      .collect().toSet == Set(3L, 5L, 6L))
    // idempotent
    assert(st.expire(cutoff) == ((0, 0)))
    // exact trimming is the next drain's job: the rewrite re-derives
    // dirs from surviving rows, isolating the straddler's old row in
    // its own date dir, which the next expiry then drops
    st.compact(granularity = "day")
    assert(st.expire(cutoff) == ((1, 0)))
    assert(st.read(None, None).get.select("id").as[Long]
      .collect().toSet == Set(3L, 6L))
  }

  test("staged flush landing after the rewrite snapshot survives the commit") {
    val root = tmpRoot()
    val store = new ParquetStore(spark, root, "span", "start")
    val day1 = 1760000000000000L
    def row(id: Long) = Seq((id, day1 + id, id)).toDF("id", "start", "trace_id")
    store.writeStaged(row(1L))
    // crash AFTER the rewrite tree is written but BEFORE the manifest
    // commit: the table still reads as the pre-compaction state (the
    // orphan gen tree is referenced by nothing), and a flush landing
    // now is cleanly "late" — outside the interrupted rewrite
    store.compact(crashAfterStep = 1)
    store.writeStaged(row(2L))
    assert(store.read(None, None).get.select("id").as[Long]
      .collect().toSet == Set(1L, 2L))
    // the next drain folds both and commits
    store.compact()
    assert(store.read(None, None).get.select("id").as[Long]
      .collect().toSet == Set(1L, 2L))
    assert(store.stagedFileCount == 0)
    // crash AFTER the commit (manifest published): the drain is
    // already fully visible
    store.writeStaged(row(3L))
    store.compact(crashAfterStep = 2)
    assert(store.read(None, None).get.select("id").as[Long]
      .collect().toSet == Set(1L, 2L, 3L))
    assert(store.stagedFileCount == 0)
  }

  test("compaction commit survives a crash at every step") {
    val day1 = 1760000000000000L
    (1 to 2).foreach { step =>
      val root = tmpRoot()
      val store = new ParquetStore(spark, root, "span", "start")
      store.write(Seq((1L, day1, 100L), (2L, day1 + 1000L, 200L))
        .toDF("id", "start", "trace_id"))
      store.compact(crashAfterStep = step)
      // whatever the crash point, a reader finds the complete table —
      // the manifest publish is the single atomic commit, so the
      // table is either exactly pre- or exactly post-drain
      val rows = store.read(None, None).get.select("id").as[Long]
        .collect().toSeq.sorted
      assert(rows == Seq(1L, 2L), s"after crash at step $step")
      // and the next compaction completes cleanly; vacuum reclaims the
      // orphan tree and the superseded files once the grace passes
      store.compact()
      assert(store.read(None, None).get.count() == 2, s"recompact after $step")
      store.vacuum(graceMs = 0L)
      assert(store.read(None, None).get.count() == 2, s"post-vacuum after $step")
      val genDirs = Option(new java.io.File(s"$root/span").listFiles())
        .toSeq.flatten.filter(_.getName.startsWith("_gen-"))
      assert(genDirs.size == 1, s"exactly the live tree survives: $genDirs")
    }
  }

  test("snapshot isolation: a plan from before compact()/expire() " +
      "executes green after them") {
    val root = tmpRoot()
    val store = new ParquetStore(spark, root, "span", "start")
    val day1 = 1760000000000000L
    val day = 86400L * 1000000L
    def rows(ids: Long*) = ids.map(i => (i, day1 + (i % 3) * day, i))
      .toDF("id", "start", "trace_id").coalesce(1)
    store.writeStaged(rows(1L, 2L, 3L))
    store.compact() // manifest-planned tree
    store.writeStaged(rows(4L))
    // PLAN now (manifest generation G: gen tree + one staged file)...
    val planned = store.read(None, None).get.select("id")
    // ...then mutate the store underneath it: a second drain folds the
    // staged file into a NEW gen tree and tombstones everything the
    // old plan references; an expiry then drops a date
    store.compact()
    store.expire(day1 + day) // drops date of ids ≡ 0 (id 3)
    // the OLD plan still executes green and answers from ITS snapshot:
    // tombstoned files stay on disk until vacuum's grace passes
    assert(planned.as[Long].collect().toSet == Set(1L, 2L, 3L, 4L))
    // a NEW plan sees the post-expiry table
    assert(store.read(None, None).get.select("id").as[Long]
      .collect().toSet == Set(1L, 2L, 4L))
    // after the grace window, vacuum reclaims — and new plans still
    // answer identically
    store.vacuum(graceMs = 0L)
    assert(store.read(None, None).get.select("id").as[Long]
      .collect().toSet == Set(1L, 2L, 4L))
  }

  test("time travel: retained generations answer the table AS OF " +
      "their commit, as far back as the vacuum grace") {
    val root = tmpRoot()
    val store = new ParquetStore(spark, root, "span", "start")
    val day1 = 1760000000000000L
    val day = 86400L * 1000000L
    def rows(ids: Long*) = ids.map(i => (i, day1 + (i % 3) * day, i))
      .toDF("id", "start", "trace_id").coalesce(1)
    def idsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("id").as[Long].collect().toSet
    store.writeStaged(rows(1L, 2L))
    store.compact() // gen A: {1,2}
    val genA = store.generations().last
    store.writeStaged(rows(3L))
    store.compact() // gen B: {1,2,3}
    val genB = store.generations().last
    store.expire(day1 + day) // gen C: drops day-0 rows (id 3)
    val genC = store.generations().last
    // (each staged landing commits a generation of its own too)
    assert(Seq(genA, genB, genC).forall(store.generations().contains))
    // each retained generation answers ITS table
    assert(idsOf(store.readGeneration(genA).get) == Set(1L, 2L))
    assert(idsOf(store.readGeneration(genB).get) == Set(1L, 2L, 3L))
    assert(idsOf(store.readGeneration(genC).get) == Set(1L, 2L))
    assert(idsOf(store.read(None, None).get) == Set(1L, 2L))
    // vacuum past the grace prunes history; the current table remains
    store.vacuum(graceMs = 0L)
    assert(store.generations().size == 1)
    assert(store.readGeneration(genA).isEmpty)
    assert(idsOf(store.read(None, None).get) == Set(1L, 2L))
  }

  test("engine-surface time travel and generation-diff CDC: AsOf " +
      "views answer pinned history; changesBetween is the scoped " +
      "increment") {
    val root = tmpRoot()
    val st = new ParquetStore(spark, root, "log", "time")
    val day1 = 1760000000000000L
    val day = 86400L * 1000000L
    def batch(ids: Seq[Long], dayOff: Long) = ids
      .map(i => (s"svc-$i", day1 + dayOff * day + i * 1000000L, "INFO"))
      .toDF("process_id", "time", "level")
    st.write(batch(Seq(1L, 2L), 0L)) // gen A: day-1 rows
    st.write(batch(Seq(3L, 4L, 5L), 1L)) // day-2 append
    val zone = java.time.ZoneId.of(
      spark.conf.get("spark.sql.session.timeZone"))
    val day2Str = java.time.LocalDate.ofInstant(
      java.time.Instant.ofEpochSecond(day1 / 1000000L + 86400L),
      zone).toString
    st.compactDate(day2Str) // gen B: scoped fold of the increment
    val engine = new DuoEngine(spark, root)
    val gens = engine.generations("log")
    assert(gens.size == 3) // A, the append, the fold
    def pids(df: org.apache.spark.sql.DataFrame) =
      df.select("process_id").as[String].collect().toSet
    // each generation answers ITS committed table through the engine
    // view (conformed to the registry schema like every log view)
    assert(pids(engine.logTableAsOf(gens.head).get) ==
      Set("svc-1", "svc-2"))
    assert(pids(engine.logTableAsOf(gens.last).get) ==
      Set("svc-1", "svc-2", "svc-3", "svc-4", "svc-5"))
    // the file-level generation diff is exactly the day-2 increment:
    // the scoped fold touched no day-1 file
    assert(pids(st.changesBetween(gens.head, gens.last).get) ==
      Set("svc-3", "svc-4", "svc-5"))
    // unknown/pruned generations answer None, loudly not wrongly
    assert(engine.logTableAsOf("gen-0000-bogus.list").isEmpty)
    assert(st.changesBetween(gens.head, "gen-0000-bogus.list").isEmpty)
    // the delete side of the CDC pair: between a re-layout commit and
    // its predecessor the whole table churns (rewrite caveat, both
    // directions); between expiry generations removedBetween is
    // exactly the retired rows a downstream consumer must invalidate
    val preExpire = st.generations().last
    st.expire(day1 + day): Unit // retires the day-1 rows
    val postExpire = st.generations().last
    assert(pids(st.removedBetween(preExpire, postExpire).get) ==
      Set("svc-1", "svc-2"))
    assert(st.changesBetween(preExpire, postExpire).isEmpty,
      "expiry adds nothing — the insert side must be empty")
    // the search surfaces: a trace retired by expiry stays reachable
    // AS OF the pre-expiry span generation — "what did this trace
    // look like before yesterday's retention?" as one call
    import graft.model.Span
    val sst = new ParquetStore(spark, root, "span", "start")
    def spanRow(tid: Long, dayOff: Long) = Seq(
      Span(tid * 10, None, tid, "op", "svc-0", day1 + dayOff * day,
        Some(day1 + dayOff * day + 1000L), None)).toDF()
    sst.write(spanRow(9001L, 0L).union(spanRow(9002L, 1L))) // span gen A
    sst.expire(day1 + day): Unit // span gen B: the day-1 trace retired
    val sgens = engine.generations("span")
    assert(sgens.size == 2)
    val p = graft.query.TraceQueries.TraceSearchParams(
      service = "svc", unbounded = true)
    def tids(df: org.apache.spark.sql.DataFrame) =
      df.select("trace_id").as[Long].collect().toSet
    assert(tids(engine.searchTraces(p)) == Set(9002L))
    assert(tids(engine.searchTracesAsOf(p, sgens.head, gens.last).get) ==
      Set(9001L, 9002L))
    // log-side twin: the pinned older log generation answers its own
    // committed rows through the same search pipeline, while the
    // current table reflects the expiry above
    val lp = LogSearchParams(service = "svc", unbounded = true)
    assert(engine.searchLogsAsOf(lp, gens.head).get.count() == 2)
    assert(engine.searchLogs(lp).count() == 3)
  }

  test("AS-OF vs the hot view: un-flushed rows answer the plain " +
      "search and are invisible to asof-at-newest — a generation is " +
      "a storage coordinate, not a wall clock") {
    val root = tmpRoot()
    val engine = new DuoEngine(spark, root)
    val base = 1760000000000000L
    def line(msg: String, offUs: Long) =
      s"""{"process_id":"svc-0","time":${base + offUs},""" +
        s""""level":"INFO","message":"$msg"}"""
    def msgs(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select("message").as[String].collect().toSet
    // two flush cycles into the same minute fragment the date, so the
    // maintenance heal below commits a generation
    engine.ingestJsonLogs(Seq(line("cold-1", 0L),
      line("cold-2", 1000000L))): Unit
    engine.flush()
    engine.ingestJsonLogs(Seq(line("cold-3", 2000000L))): Unit
    engine.flush()
    val healed = engine.maintain(maxFilesPerDate = 1)
    assert(healed("log").nonEmpty, s"heal must have run: $healed")
    val gens = engine.generations("log")
    assert(gens.nonEmpty)
    // a hot row: ingested, WAL'd, NOT flushed
    engine.ingestJsonLogs(Seq(line("hot-1", 3000000L))): Unit
    val lp = LogSearchParams(service = "svc", unbounded = true)
    assert(msgs(engine.searchLogs(lp)) ==
      Set("cold-1", "cold-2", "cold-3", "hot-1"),
      "the plain search answers hot ∪ flushed")
    assert(msgs(engine.searchLogsAsOf(lp, gens.last).get) ==
      Set("cold-1", "cold-2", "cold-3"),
      "asof-at-newest answers the pinned generation ONLY — the " +
        "un-flushed tail has no storage coordinate")
  }

  test("one AS-OF timestamp is a consistent cross-table coordinate: " +
      "both tables pin to their newest generation committed ≤ T " +
      "while later commits land on only one table; T before the " +
      "first commit answers None") {
    import graft.model.Span
    val root = tmpRoot()
    val day1 = 1760000000000000L
    val sst = new ParquetStore(spark, root, "span", "start")
    val lst = new ParquetStore(spark, root, "log", "time")
    def spanRow(tid: Long) = Seq(Span(tid * 10, None, tid, "op",
      "svc-0", day1 + tid, Some(day1 + tid + 1000L), None)).toDF()
    val tBefore = System.currentTimeMillis() - 1L
    sst.write(spanRow(9001L))
    lst.write(Seq(("svc-0", day1 + 1L, "INFO"))
      .toDF("process_id", "time", "level"))
    Thread.sleep(3L)
    val t1 = System.currentTimeMillis()
    Thread.sleep(3L)
    // later commits land on ONLY the span table — the normal skew
    // (spans flush while logs idle) that makes independent per-table
    // pins inconsistent
    sst.write(spanRow(9002L))
    val engine = new DuoEngine(spark, root)
    assert(engine.generations("span").size == 2 &&
      engine.generations("log").size == 1)
    // resolution: newest generation ≤ T per table
    assert(engine.generationAsOf("span", t1)
      .contains(engine.generations("span").head))
    assert(engine.generationAsOf("log", t1)
      .contains(engine.generations("log").last))
    val p = graft.query.TraceQueries.TraceSearchParams(
      service = "svc", unbounded = true)
    def tids(df: org.apache.spark.sql.DataFrame) =
      df.select("trace_id").as[Long].collect().toSet
    // ONE timestamp answers the pre-skew epoch on both tables at once
    assert(tids(engine.searchTracesAsOf(p, t1).get) == Set(9001L))
    // now-ish: both pins resolve to newest — the late commit shows
    assert(tids(engine.searchTracesAsOf(p,
      System.currentTimeMillis()).get) == Set(9001L, 9002L))
    // log-side twin on the same coordinate
    assert(engine.searchLogsAsOf(
      LogSearchParams(service = "svc", unbounded = true), t1)
      .get.count() == 1L)
    // T predating the first commit: no generation can truthfully
    // answer it — None (the HTTP route's 404), never the oldest
    // surviving generation misdated as T
    assert(engine.generationAsOf("span", tBefore).isEmpty)
    assert(engine.searchTracesAsOf(p, tBefore).isEmpty)
  }

  test("writer fencing: a second writer on the same root fences the first") {
    val root = tmpRoot()
    val a = new ParquetStore(spark, root, "span", "start")
    val day1 = 1760000000000000L
    def row(id: Long) = Seq((id, day1 + id, id)).toDF("id", "start", "trace_id")
    a.writeStaged(row(1L)) // a claims the lease
    val b = new ParquetStore(spark, root, "span", "start")
    b.writeStaged(row(2L)) // b claims a higher epoch
    // the loser's next MUTATION throws loudly...
    intercept[graft.store.ParquetStore.WriterFencedException] {
      a.writeStaged(row(3L))
    }
    intercept[graft.store.ParquetStore.WriterFencedException] {
      a.compact()
    }
    // ...while readers (either handle) are unaffected
    assert(a.read(None, None).get.count() == 2)
    assert(b.read(None, None).get.count() == 2)
    // and the winner keeps working
    b.compact()
    assert(b.read(None, None).get.count() == 2)
  }

  test("publish-time fencing: a writer fenced DURING its in-flight " +
      "compact is rejected at its commit — the fencer's rows never " +
      "disappear") {
    val root = tmpRoot()
    val a = new ParquetStore(spark, root, "span", "start")
    val day1 = 1760000000000000L
    def row(id: Long) = Seq((id, day1 + id, id))
      .toDF("id", "start", "trace_id")
    a.writeStaged(row(1L))
    a.compact() // gen 1: {1}
    a.writeStaged(row(2L))
    // A's second compact passes its start-of-mutation fence and fully
    // writes its rewrite tree; then — before A's commit — writer B
    // claims a higher epoch (fencing A), lands row 3 and compacts.
    // The exact two-writer misconfiguration fencing exists for.
    var bStore: ParquetStore = null
    a.beforeCommit = () => {
      bStore = new ParquetStore(spark, root, "span", "start")
      bStore.writeStaged(row(3L))
      bStore.compact() // B's commit: {1, 2, 3} (drains A's staged 2)
    }
    try intercept[graft.store.ParquetStore.WriterFencedException] {
      a.compact()
    } finally a.beforeCommit = () => ()
    // B's generation stays the newest truth: nothing B committed is
    // lost, and A's staged row rode B's drain in
    def ids(st: ParquetStore) = st.read(None, None).get
      .select("id").as[Long].collect().toSet
    assert(ids(bStore) == Set(1L, 2L, 3L))
    // A's orphaned unpublished rewrite tree is invisible and vacuum
    // reclaims it; the table is unchanged
    bStore.vacuum(graceMs = 0L)
    assert(ids(bStore) == Set(1L, 2L, 3L))
    val genDirs = Option(new java.io.File(s"$root/span").listFiles())
      .toSeq.flatten.filter(_.getName.startsWith("_gen-"))
    assert(genDirs.size == 1,
      s"only B's live tree survives vacuum: $genDirs")
  }

  test("streaming ingest wires merged spans into the engine") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx = spark.sqlContext
    val engine = new DuoEngine(spark, tmpRoot(), memoryMode = true)
    val input = MemoryStream[SpanRecord]
    input.addData(
      rec(1, 21, 400, t0, None),
      rec(2, 21, 400, t0, Some(t0 + 5L)), // closes span 21
      rec(3, 22, 400, t0, None)) // stays open in state
    val q = graft.ingest.StreamingIngest.startSpans(
      engine, input.toDS(), Trigger.AvailableNow(), flushEveryBatches = 1000)
    q.awaitTermination()
    assert(engine.spanTable().count() == 1)
    assert(engine.spanTable().select("id").as[Long].collect().toSeq == Seq(21L))
  }

  test("process registry assigns {service}-{n} ids and round-trips") {
    import graft.model.TagValue
    val path = tmpRoot() + "/process.json"
    val reg = new ProcessRegistry(path)
    assert(reg.register("example",
      Map("duo-version" -> TagValue.str("0.2.0"))) == "example-0")
    assert(reg.register("example", Map.empty) == "example-1")
    assert(reg.register("log", Map.empty) == "log-0")
    val reloaded = new ProcessRegistry(path)
    assert(reloaded.all.map(_.id) == Seq("example-0", "example-1", "log-0"))
    assert(reloaded.byService("example").head.tags("duo-version") ==
      TagValue.str("0.2.0"))
  }

  test("services list is registry-derived and distinct") {
    import graft.model.TagValue
    val engine = new DuoEngine(spark, tmpRoot(), memoryMode = true)
    engine.processes.register("example", Map.empty[String, TagValue]): Unit
    engine.processes.register("example", Map.empty[String, TagValue]): Unit
    engine.processes.register("log", Map.empty[String, TagValue]): Unit
    assert(engine.services() == Seq("example", "log"))
  }

  test("process registry round-trips hostile and typed tag values") {
    import graft.model.TagValue
    val path = tmpRoot() + "/process.json"
    val reg = new ProcessRegistry(path)
    val tags = Map(
      "cmd" -> TagValue.str("""run {"x": 1} \ "quoted" done"""),
      "nl" -> TagValue.str("a\nb\tc"),
      "pid" -> TagValue.i64(4242L),
      "flag" -> TagValue.bool(true))
    reg.register("svc", tags)
    val got = new ProcessRegistry(path).byService("svc").head.tags
    assert(got("cmd") == tags("cmd")) // braces + escapes survive a real codec
    assert(got("nl") == tags("nl"))
    assert(got("pid") == tags("pid") && got("flag") == tags("flag"))
  }

  test("schema registry merge is monotone and rejects retypes") {
    import org.apache.spark.sql.types._
    val base = StructType(Seq(StructField("a", LongType)))
    val incoming = StructType(Seq(StructField("a", LongType),
      StructField("b", StringType)))
    val merged = SchemaRegistry.merge(base, incoming)
    assert(merged.fieldNames.toSeq == Seq("a", "b"))
    val conflicting = StructType(Seq(StructField("a", StringType)))
    intercept[IllegalArgumentException](SchemaRegistry.merge(merged, conflicting))
  }

  test("streamed span-log join equals the batch join exactly") {
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    val streamed = graft.queries.EngineQueries
      .spanLogJoinStreamGate(spark, d).collect().toSeq
    val (spans, logs) = graft.queries.EngineQueries.ordersAsSpans(spark, d)
    // the gate runs the UNCAPPED corpus since round 13
    val batch = logs
      .select(col("span_id"), col("time"), col("level"))
      .join(spans
          .select(col("id"), col("trace_id"), col("name"),
            col("process_id"), col("start"), col("end")),
        expr("span_id = id AND time >= start AND " +
          "time <= start + 3600000000"))
      .select(col("span_id"), col("trace_id"), col("name"),
        col("process_id"), col("time").as("log_time"), col("level"),
        col("start").as("span_start"), col("end").as("span_end"))
      .orderBy(col("span_id"), col("log_time")).collect().toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }
}

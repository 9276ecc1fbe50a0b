package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.util.Cols.nsToUs

/** Event-time windowed aggregation on the streaming path: the same
  * events parquet driven through readStream with a watermark must
  * reproduce the batch window aggregation (§2.8 extension — the
  * reference has no event-time windows at all).
  */
class StreamingWindowSpec extends SparkSpec {

  test("streamed tumbling-window counts equal the batch computation") {
    val d = "/root/testdata/sf0.001"
    val batchDf = Tables.events(spark, d) // also sets nanosAsLong

    // readStream needs a directory; stage the single file into one
    val streamDir = java.nio.file.Files.createTempDirectory("events-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$d/events.parquet"),
      streamDir.resolve("events.parquet"))

    // schema must match the FILE layout (ts may be a timestamp there);
    // normalizeEventTs folds it onto the canonical epoch-nanos long
    val rawSchema = spark.read.parquet(streamDir.toString).schema
    val streamed = Tables.normalizeEventTs(spark,
        spark.readStream.schema(rawSchema).parquet(streamDir.toString))
      .withColumn("tsx", timestamp_micros(nsToUs("ts")))
      .withWatermark("tsx", "1 hour")
      .groupBy(window(col("tsx"), "6 hours"))
      .agg(count(lit(1)).as("n"))
    val q = streamed.writeStream
      .outputMode("complete")
      .format("memory").queryName("win_stream")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val got = spark.table("win_stream")
      .select(col("window.start").cast("long").as("w"), col("n"))
      .orderBy(col("w")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq

    val want = batchDf
      .withColumn("tsx", timestamp_micros(nsToUs("ts")))
      .groupBy(window(col("tsx"), "6 hours"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").cast("long").as("w"), col("n"))
      .orderBy(col("w")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq

    assert(got.nonEmpty && got == want)
  }

  test("runParquet stages a keyed feed once; an unkeyed feed stages per call") {
    import spark.implicits._
    val derivations = spark.sparkContext.longAccumulator("feed_derivations")
    // one partition: every derivation of the feed bumps the counter once
    def feed = spark.range(0, 8, 1, 1).as[Long]
      .mapPartitions { it => derivations.add(1); it }.toDF("x")
    def runOnce(key: Option[String]): Seq[Long] =
      graft.util.StreamGate.runParquet(spark, "feed_memo_spec", Seq(feed),
          _.select((col("x") * 2).as("y")), feedKey = key)
        .collect().map(_.getLong(0)).toSeq.sorted
    val want = (0L until 8L).map(_ * 2)

    val key = Some(s"feed_memo_spec|${System.nanoTime()}")
    assert(runOnce(key) == want)
    assert(runOnce(key) == want)
    assert(derivations.value == 1L)

    derivations.reset()
    assert(runOnce(None) == want)
    assert(runOnce(None) == want)
    assert(derivations.value == 2L)
  }

  test("streaming dedup drops re-arrivals within the watermark horizon") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2025-10-09 $h%02d:$m%02d:00")
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val deduped = graft.operators.Dedup.dedupStream(
      input.toDF().toDF("doc_id", "text", "ts"))
    val q = deduped.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      // same content arrives three times inside the horizon → 1 emission
      input.addData((1L, "same text", ts(10, 0)), (2L, "same  text", ts(10, 1)),
        (3L, "other doc", ts(10, 2)))
      q.processAllAvailable()
      input.addData((4L, "same text", ts(10, 30)))
      q.processAllAvailable()
      def emittedBy(text: String): Long =
        spark.table("dedup_stream").filter(col("text").startsWith(text.take(4))).count()
      assert(emittedBy("same text") == 1)
      assert(emittedBy("other doc") == 1)
      // advance the watermark past the horizon; the state expires and
      // the same content is admitted again
      input.addData((5L, "advance marker", ts(13, 0)))
      q.processAllAvailable()
      input.addData((6L, "same text", ts(12, 30)))
      q.processAllAvailable()
      assert(emittedBy("same text") == 2)
    } finally q.stop()
  }

  test("streaming near-dup drops shingle-set-identical re-arrivals, keeps the rest") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2025-10-09 10:$m%02d:00")
    // cyclic rotations share the exact shingle SET (every wrap-around
    // trigram appears in both), so their minhash signatures are equal
    // by construction while the texts differ byte-wise
    val a = "w1 w2 w3 w4 w5 w1 w2"
    val aRot = "w3 w4 w5 w1 w2 w3 w4"
    val other = "x1 x2 x3 x4 x5 x6 x7"
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val out = graft.operators.Dedup.nearDupStream(
      input.toDF().toDF("doc_id", "text", "ts"))
    val q = out.writeStream.format("memory").queryName("neardup_stream")
      .outputMode("append").start()
    try {
      input.addData((1L, a, ts(0)), (2L, aRot, ts(1)), (3L, other, ts(2)),
        (4L, "tiny doc", ts(3)), (5L, "tiny\tdoc", ts(4)),
        (6L, "small one", ts(5)))
      q.processAllAvailable()
      val got = spark.table("neardup_stream").select("doc_id")
        .as[Long].collect().toSet
      // 2 is a near-dup of 1 (same shingle set); 5 is an exact dup of 4
      // via the short-doc fallback; 6 is a different short doc
      assert(got == Set(1L, 3L, 4L, 6L))
    } finally q.stop()
  }

  test("session_window merges at exactly the gap and breaks strictly beyond it") {
    import spark.implicits._
    def sessions(us: Seq[Long]): Seq[(Long, Long, Long)] =
      us.map(u => ("u1", u)).toDF("user_id", "tus")
        .withColumn("tsx", timestamp_micros(col("tus")))
        .groupBy(col("user_id"), session_window(col("tsx"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n"))
        .select(col("sw.start").cast("long").as("s"),
          col("sw.end").cast("long").as("e"), col("n"))
        .orderBy("s").as[(Long, Long, Long)].collect().toSeq
    // events at 0, 10 min, 40 min, 41 min: the gap between 10 and 40 is
    // EXACTLY the session gap. Spark merges windows that merely touch
    // ([10, 40) and [40, 70) share the boundary instant), so all four
    // events land in ONE session — this pins the > (not >=) break
    // semantics the w02 oracle mirrors.
    assert(sessions(Seq(0L, 600000000L, 2400000000L, 2460000000L)) ==
      Seq((0L, 2460 + 1800L, 4L)))
    // one microsecond past the gap DOES break: 10 min -> 30 min + 1 µs
    assert(sessions(Seq(0L, 600000000L, 2400000001L, 2460000000L)) ==
      Seq((0L, 600 + 1800L, 2L), (2400L, 2460 + 1800L, 2L)))
  }

  test("streamed session windows equal the batch w02 computation") {
    val d = "/root/testdata/sf0.001"
    val batchDf = Tables.events(spark, d)
    val streamDir = java.nio.file.Files.createTempDirectory("events-session-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$d/events.parquet"),
      streamDir.resolve("events.parquet"))

    val rawSchema = spark.read.parquet(streamDir.toString).schema
    val streamed = Tables.normalizeEventTs(spark,
        spark.readStream.schema(rawSchema).parquet(streamDir.toString))
      .withColumn("tsx", timestamp_micros(nsToUs("ts")))
      .withWatermark("tsx", "1 hour")
      .groupBy(col("user_id"), session_window(col("tsx"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"))
    val q = streamed.writeStream
      .outputMode("complete")
      .format("memory").queryName("session_stream")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    def norm(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, Long)] =
      df.select(col("user_id"), col("sw.start").cast("long").as("s"),
          col("sw.end").cast("long").as("e"), col("n_events"))
        .orderBy("user_id", "s").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq

    val got = norm(spark.table("session_stream"))
    val want = norm(batchDf
      .withColumn("tsx", timestamp_micros(nsToUs("ts")))
      .groupBy(col("user_id"), session_window(col("tsx"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events")))
    assert(got.nonEmpty && got == want)
  }

  test("session windows under a watermark drop late events and finalize in append mode") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2025-10-09 $h%02d:$m%02d:00")
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val sessions = input.toDF().toDF("user_id", "tsx")
      .withWatermark("tsx", "1 hour")
      .groupBy(col("user_id"), session_window(col("tsx"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("sw.start").as("s"), col("n"))
    val q = sessions.writeStream.format("memory").queryName("late_session")
      .outputMode("append").start()
    try {
      def rows() = spark.table("late_session")
        .select(date_format(col("s"), "HH:mm").as("s"), col("n"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      // one session forming at 10:00-10:10
      input.addData((1L, ts(10, 0)), (1L, ts(10, 10)))
      q.processAllAvailable()
      // advance event time; watermark becomes 12:00 after this batch
      input.addData((1L, ts(13, 0)))
      q.processAllAvailable()
      // a LATE event at 11:00 — older than the 12:00 watermark. It must
      // be dropped BEFORE aggregation: no [11:00, 11:30) session may
      // ever appear. The same batch finalizes the closed 10:00 session
      // (append mode emits once the watermark passes a session's end).
      input.addData((1L, ts(11, 0)))
      q.processAllAvailable()
      assert(rows() == Set(("10:00", 2L)), s"got ${rows()}")
      // advance far enough to finalize the 13:00 session too
      input.addData((1L, ts(16, 0)))
      q.processAllAvailable()
      input.addData((1L, ts(19, 0)))
      q.processAllAvailable()
      assert(rows().contains(("13:00", 1L)))
      // the late event never surfaced as its own session
      assert(!rows().exists(_._1 == "11:00"), s"late event leaked: ${rows()}")
    } finally q.stop()
  }

  test("streaming corpus cleaner gates quality then dedups within the horizon") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2025-10-09 10:$m%02d:00")
    val good = "one two three four five six seven eight nine ten eleven twelve"
    val other = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val cleaned = graft.operators.Pipelines.cleanStream(
      input.toDF().toDF("doc_id", "text", "ts"))
    val q = cleaned.writeStream.format("memory").queryName("clean_stream")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, good, ts(0)),
        (2L, "too short", ts(1)),          // quality gate drops it
        (3L, good, ts(2)),                 // duplicate content, dropped
        (4L, other, ts(3)))
      q.processAllAvailable()
      val got = spark.table("clean_stream").select("doc_id")
        .as[Long].collect().toSet
      assert(got == Set(1L, 4L))
    } finally q.stop()
  }

  test("parquet store compaction merges small files without changing data") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("compact-test").toString
    val store = new graft.store.ParquetStore(spark, root, "span", "start")
    val t0 = 1760000000000000L
    // two appends -> at least two files in the same minute partition
    store.write(Seq((1L, t0, 10L), (2L, t0 + 1000L, 11L)).toDF("id", "start", "trace_id"))
    store.write(Seq((3L, t0 + 2000L, 12L)).toDF("id", "start", "trace_id"))
    def parquetFiles(): Seq[java.io.File] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      walk(new java.io.File(s"$root/span"))
    }
    assert(parquetFiles().size >= 2)
    val before = store.read(None, None).get.select("id").as[Long].collect().sorted
    store.compact()
    store.vacuum(graceMs = 0L) // reclaim the superseded small files
    assert(parquetFiles().size == 1)
    val after = store.read(None, None).get.select("id").as[Long].collect().sorted
    assert(after.sameElements(before))
  }

  test("z-order compaction rewrites each partition in Morton order, data unchanged") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("zorder-test").toString
    val store = new graft.store.ParquetStore(spark, root, "span", "start")
    val t0 = 1760000000000000L
    // one minute partition, varied (second-offset, duration) rows —
    // the two trace-search predicate dimensions (F9/F10)
    val rnd = new scala.util.Random(3)
    val rows = (1L to 400L).map { i =>
      val startOff = rnd.nextInt(60) * 1000000L
      val durUs = rnd.nextInt(50000) * 1000L
      (i, t0 + startOff, t0 + startOff + durUs, i)
    }
    store.write(rows.toDF("id", "start", "end", "trace_id"))
    // 16-bit dims: second-of-epoch mod 2^16 (spans 0..59 s here) and
    // capped duration-ms
    val zx = ((col("start") / 1000000L).cast("long") % 65536)
    val zy = least((col("end") - col("start")) / 1000L, lit(65535L)).cast("long")
    store.compact(zorderOn = Some((zx, zy)))
    store.vacuum(graceMs = 0L) // only the z-ordered rewrite remains
    // the single compacted file's physical row order IS the z-order —
    // that is what makes row-group min/max stats tight in BOTH
    // dimensions (the skip guarantee itself is pinned by the p18 spec)
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    val files = walk(new java.io.File(s"$root/span"))
    assert(files.nonEmpty)
    val counted = files.map { f =>
      val zs = spark.read.parquet(f.getPath)
        .select(graft.operators.Pipelines.zorderKey(
          (col("start") / 1000000L).cast("long") % 65536,
          least((col("end") - col("start")) / 1000L, lit(65535L)).cast("long"))
          .as("z"))
        .as[Long].collect()
      zs.sliding(2).foreach {
        case Array(a, b) => assert(a <= b, s"$f not z-ordered: $a > $b")
        case _ =>
      }
      zs.length
    }
    assert(counted.sum == 400)
    val after = store.read(None, None).get.select("id").as[Long]
      .collect().sorted.toSeq
    assert(after == (1L to 400L))
  }

  test("staged flushes read immediately; compaction drains them into the hive layout") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("staged").toString
    val store = new graft.store.ParquetStore(spark, root, "span", "start")
    val t0 = 1760000040000000L
    def batch(ids: Range) = ids.map { i =>
      (i.toLong, t0 + i * 1000000L, t0 + i * 1000000L + 500L, i.toLong)
    }.toDF("id", "start", "end", "trace_id")
    // partitioned write + two staged flushes (the w11 cadence shape)
    store.write(batch(1 to 100))
    store.writeStaged(batch(101 to 200))
    store.writeStaged(batch(201 to 300))
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("id").as[Long].collect().sorted.toSeq
    // staged rows visible immediately, unioned with the partitioned tree
    assert(ids(store.read(None, None).get) == (1L to 300L))
    // the time predicate row-prunes staged files too
    assert(ids(store.read(Some(t0 + 150000000L), Some(t0 + 250000000L)).get)
      == (150L to 250L))
    // staging files are flat appends, invisible to the partitioned reader
    val staging = new java.io.File(s"$root/span/_staging")
    assert(staging.exists() && staging.listFiles()
      .exists(_.getName.endsWith(".parquet")))
    // a "crash" right after the commit (manifest published, marker
    // cleanup outstanding) must not lose staged rows: the drain is
    // already fully visible and staging reads as drained
    store.compact(crashAfterStep = 2)
    assert(ids(store.read(None, None).get) == (1L to 300L))
    assert(store.stagedFileCount == 0,
      "drained staged files must be tombstoned out of the staging view")
    // a clean compaction after more staged appends drains them too;
    // vacuum reclaims the tombstoned staging bytes
    store.writeStaged(batch(301 to 350))
    store.compact()
    assert(store.stagedFileCount == 0)
    store.vacuum(graceMs = 0L)
    assert(!new java.io.File(s"$root/span/_staging").exists(),
      "vacuum should reclaim the drained staging files and dir")
    assert(ids(store.read(None, None).get) == (1L to 350L))
  }

  test("per-date compaction is scoped, crash-safe, and preserves zero-padded dirs") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("cdate").toString
    val store = new graft.store.ParquetStore(spark, root, "span", "start")
    // day 1 at hour=08, day 2 at hour=00/minute=05 — the zero-padded
    // dir names hive partition-value INFERENCE silently renames
    // (hour=08 → int 8 → hour=8) unless the rewrite re-pins them
    val t1 = 1760000040000000L // 2025-10-09 08:54 UTC
    val t2 = 1760054700000000L // 2025-10-10 00:05 UTC
    def batch(ids: Range, t0: Long) = ids.map { i =>
      (i.toLong, t0 + i * 1000L, t0 + i * 1000L + 500L, i.toLong)
    }.toDF("id", "start", "end", "trace_id")
    // two writes → two files per partition (something to compact)
    store.write(batch(1 to 50, t1)); store.write(batch(51 to 100, t1))
    store.write(batch(101 to 150, t2)); store.write(batch(151 to 200, t2))
    def files(sub: String): Seq[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      walk(new java.io.File(s"$root/span/$sub")).map(_.getPath).sorted
    }
    val day2Before = files("date=2025-10-10")
    assert(files("date=2025-10-09").size >= 2 && day2Before.size >= 2)
    def ids(): Seq[Long] = store.read(None, None).get
      .select("id").as[Long].collect().sorted.toSeq
    // crash after the rewrite but before the manifest commit: the
    // table still reads exactly as before — no rows lost or doubled,
    // day 2 untouched
    store.compactDate("2025-10-09", crashAfterStep = 1)
    assert(ids() == (1L to 200L))
    assert(files("date=2025-10-10") == day2Before, "day 2 was touched")
    // clean pass + vacuum: one file per (hour, minute), padded dir
    // names intact (the rewrite re-derives them from the time column)
    store.compactDate("2025-10-09")
    store.vacuum(graceMs = 0L)
    val day1After = files("").filter(_.contains("date=2025-10-09"))
    assert(day1After.size == 1, s"expected 1 compacted file: $day1After")
    assert(day1After.head.contains("hour=08"),
      s"zero-padded hour dir lost: $day1After")
    assert(ids() == (1L to 200L))
    assert(files("date=2025-10-10") == day2Before, "day 2 was touched")
    // the whole-table pass preserves padding too (regression: hour=00
    // would otherwise come back as hour=0)
    store.compact()
    store.vacuum(graceMs = 0L)
    val all = files("")
    assert(all.exists(_.contains("hour=00")) &&
      all.exists(_.contains("minute=05")) && !all.exists(_.contains("hour=0/")),
      s"padding lost after full compact: $all")
    assert(ids() == (1L to 200L))
  }

  test("staged flushes tolerate schema drift (the log table's dynamic columns)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("stagedrift").toString
    val store = new graft.store.ParquetStore(spark, root, "log", "time")
    val t0 = 1760000040000000L
    store.write(Seq((1L, t0 + 1000000L, "a")).toDF("id", "time", "msg"))
    // a later staged flush carries a NEW column (merge-on-write drift)
    store.writeStaged(Seq((2L, t0 + 2000000L, "b", 7L))
      .toDF("id", "time", "msg", "code"))
    val got = store.read(None, None).get
      .orderBy("id").collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    val codeIdx = got.head.schema.fieldIndex("code")
    assert(got(0).isNullAt(codeIdx) && got(1).getLong(codeIdx) == 7L)
    // and the drained (compacted) table keeps the merged schema
    store.compact()
    val after = store.read(None, None).get.orderBy("id").collect()
    assert(after.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(after(1).getLong(after.head.schema.fieldIndex("code")) == 7L)
  }

  test("z-ordered store skips duration-band row groups neither time layout can") {
    import spark.implicits._
    // 40k spans over 3 minutes (t0 minute-aligned so the query window
    // is exactly one partition), long-tailed durations: 95% short
    // (< 5 s), 5% long (30-60 s) — the trace-search profile where a
    // "slow spans in a window" query (F9 ∧ F10) wants to touch only
    // the long tail
    val t0 = 1760000040000000L
    val rnd = new scala.util.Random(7)
    val rows = (1L to 40000L).map { i =>
      val startUs = t0 + rnd.nextInt(180) * 1000000L + rnd.nextInt(1000000)
      val durUs = if (rnd.nextInt(20) == 0)
        (30000 + rnd.nextInt(30000)) * 1000L
      else rnd.nextInt(5000) * 1000L
      (i, startUs, startUs + durUs, i % 97)
    }
    val df = rows.toDF("id", "start", "end", "trace_id")
    // the z dims must vary over comparable bit-ranges WITHIN one
    // storage partition, or the wider dim's bits dominate the Morton
    // order and the narrower dim's stats stay loose (an absolute
    // epoch-second x varies in only ~6 low bits inside a minute
    // partition — duration bits would out-rank every one of them and
    // the layout degenerates to a duration sort): ms-in-minute ×
    // capped duration-ms, both full 16-bit in-partition domains
    val zx = ((col("start") % 60000000L) / 1000L).cast("long")
    val zy = least((col("end") - col("start")) / 1000L, lit(65535L))
      .cast("long")
    def build(z: Option[(org.apache.spark.sql.Column,
        org.apache.spark.sql.Column)]): graft.store.ParquetStore = {
      val root = java.nio.file.Files.createTempDirectory("zskip").toString
      val st = new graft.store.ParquetStore(spark, root, "span", "start")
      st.write(df)
      // small row groups so the fixture splits into enough groups to
      // measure skipping (~13 per minute file)
      st.compact(zorderOn = z, blockSize = Some(32 * 1024L))
      st
    }
    val timeOnly = build(None)
    // start-sorted = Morton with a constant y (monotone in x): the
    // STRONGEST time-layout baseline — start stats are tight, but end
    // stats still stretch ~max-duration past each group's start range
    val startSorted = build(Some((zx, lit(0L))))
    val zOrdered = build(Some((zx, zy)))
    // query: one whole minute of starts, durations 30-60 s
    val (s1, s2) = (t0 + 60000000L, t0 + 119999999L)
    val (d1, d2) = (30000000L, 60000000L)
    val minuteStr = java.time.format.DateTimeFormatter.ofPattern("mm")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochMilli(s1 / 1000))
    // the reader's own row-group admission rule: footer [min,max] boxes
    // on (start, end) against the predicate + derived end-range box
    def skip(st: graft.store.ParquetStore): (Int, Int) = {
      val gs = st.rowGroupRanges(Seq("start", "end"))
        .filter(_._1.contains(s"minute=$minuteStr"))
      val skipped = gs.count { case (_, g) =>
        val (sLo, sHi) = g("start"); val (eLo, eHi) = g("end")
        !(sHi >= s1 && sLo <= s2 && eHi >= s1 + d1 && eLo <= s2 + d2)
      }
      (skipped, gs.size)
    }
    val (zSkip, zTot) = skip(zOrdered)
    val (sSkip, sTot) = skip(startSorted)
    val (tSkip, tTot) = skip(timeOnly)
    info(s"row groups skipped — z-order: $zSkip/$zTot, " +
      s"start-sorted: $sSkip/$sTot, time-only: $tSkip/$tTot")
    assert(zTot >= 8, s"fixture too small to measure: $zTot row groups")
    // the z layout must skip a real fraction; both time layouts skip
    // ~nothing because every group's end range spans the duration tail
    assert(zSkip.toDouble / zTot >= 0.25,
      s"z-order skipped only $zSkip/$zTot")
    assert(zSkip.toDouble / zTot > sSkip.toDouble / sTot + 0.2,
      s"z-order ($zSkip/$zTot) not clearly ahead of start-sorted ($sSkip/$sTot)")
    assert(zSkip.toDouble / zTot > tSkip.toDouble / tTot + 0.2,
      s"z-order ($zSkip/$zTot) not clearly ahead of time-only ($tSkip/$tTot)")
    // the derived end-range conjunct reaches the scan as a pushed
    // filter, and results are IDENTICAL to the plain F9 ∧ F10 filter
    // over the unclustered layout
    val viaZ = zOrdered.readSpanRange(s1, s2, d1, d2).get
    val pushed = viaZ.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metadata.getOrElse("PushedFilters", "")
    }
    assert(pushed.exists(m => m.contains("GreaterThanOrEqual(end,") &&
      m.contains("LessThanOrEqual(end,")),
      s"derived end conjunct not pushed: $pushed")
    val plain = timeOnly.read(Some(s1), Some(s2)).get
      .filter(col("start").between(s1, s2) &&
        (col("end") - col("start")).between(d1, d2))
    val got = viaZ.select("id").as[Long].collect().sorted
    val want = plain.select("id").as[Long].collect().sorted
    assert(got.sameElements(want) && got.nonEmpty)
  }
}

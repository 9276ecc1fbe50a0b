package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.ingest.{SpanMerger, SpanRecord}
import graft.model.{Log, Schemas, Span}
import graft.query.{LogQueries, TraceQueries}
import graft.store.{MemoryView, ParquetStore, ProcessRegistry, SchemaRegistry}

/** The engine facade: two-table store (hot memory view ∪ cold
  * time-partitioned parquet) + the reference's full query surface.
  *
  * Layout under `root` follows the reference
  * (duo/src/partition/writer.rs:22-30, duo/src/memory.rs:141-148),
  * with each flush's minute dirs under its own generation tree and
  * the manifest that lists them ([[graft.store.ParquetStore]]):
  * {{{
  * root/
  *   process.json
  *   schema/log_schema.json
  *   span/_gen-…/date=…/hour=…/minute=…/&lt;part&gt;.parquet
  *   span/_manifest/gen-…
  *   log/_gen-…/date=…/hour=…/minute=…/&lt;part&gt;.parquet
  *   log/_manifest/gen-…
  * }}}
  * A store in the reference's own layout (minute dirs straight under
  * `span/` and `log/`, no manifest) reads by listing until the first
  * flush folds its files into the first generation.
  *
  * `memoryMode = true` skips persistence entirely and queries serve from
  * the memory view alone (duo/src/main.rs:82-85, ST6).
  */
final class DuoEngine(val spark: SparkSession, root: String,
    memoryMode: Boolean = false,
    nowUs: () => Long = () => System.currentTimeMillis() * 1000L,
    walFormat: String = "parquet",
    maxHotRows: Long = DuoEngine.DefaultMaxHotRows) {

  require(walFormat == "parquet" || walFormat == "arrow",
    s"walFormat must be 'parquet' or 'arrow', got '$walFormat'")

  val processes = new ProcessRegistry(s"$root/process.json")
  private val logSchemaPath = s"$root/schema/log_schema.json"
  @volatile private var logSchema =
    SchemaRegistry.loadMerged(logSchemaPath, Schemas.logBase)

  val spanMemory = new MemoryView(spark, Schemas.span)
  val logMemory = new MemoryView(spark, logSchema)
  private val spanStore = new ParquetStore(spark, root, "span", "start")
  private val logStore = new ParquetStore(spark, root, "log", "time")

  private val openSpans =
    scala.collection.mutable.ArrayBuffer.empty[SpanRecord]

  // ---- WAL (S4): the reference snapshots in-memory batches to Arrow
  // IPC files every 10 s and replays them on boot (duo/src/ipc.rs:23-64,
  // duo/src/memory.rs:47-59). Two formats: "arrow" writes one Arrow IPC
  // file per batch — the reference's exact on-disk format (driver-side
  // snapshot of a bounded micro-batch, like the reference's memtable
  // snapshot); "parquet" (default) is the Spark-native analog with
  // identical append/replay/clear semantics.

  private def walDir(table: String) = s"$root/wal/$table"
  // WAL paths resolve through the root's own FileSystem (S5, like the
  // cold store): a local path, HDFS, or object-store root all work.
  private def walFs = graft.store.StoreFs.fs(
    new org.apache.hadoop.fs.Path(s"$root/wal"))
  // Seeded from the max sequence already on disk so a crash-restarted
  // engine appends AFTER the replayed files instead of truncating
  // 00000000000000000001.arrow (the reference's timestamped IPC names
  // never collide, duo/src/ipc.rs:31-56).
  private val walSeq = new java.util.concurrent.atomic.AtomicLong(
    Seq("span", "log")
      .flatMap(t => graft.store.StoreFs.list(walFs,
        new org.apache.hadoop.fs.Path(walDir(t))))
      .map(_.getPath.getName)
      // strictly-numeric names only: a stray `backup.arrow` must not
      // make every engine construction throw NumberFormatException
      .collect { case n if n.matches("\\d+\\.arrow") =>
        n.stripSuffix(".arrow").toLong }
      .foldLeft(0L)(math.max))

  private def walAppend(table: String, batch: DataFrame): Unit =
    if (walFormat == "arrow")
      store.ArrowWal.write(
        f"${walDir(table)}/${walSeq.incrementAndGet()}%020d.arrow",
        batch.schema, batch.collect().toSeq)
    else
      batch.write.mode("append").parquet(walDir(table))

  private def walClear(): Unit =
    Seq("span", "log")
      .map(t => new org.apache.hadoop.fs.Path(walDir(t)))
      .foreach(p => walFs.delete(p, true): Unit)

  private def walReplay(): Unit = Seq(
    ("span", spanMemory), ("log", logMemory)).foreach { case (t, view) =>
    val replayed =
      if (walFormat == "arrow") store.ArrowWal.replayDir(spark, walDir(t))
      else if (walFs.exists(new org.apache.hadoop.fs.Path(walDir(t))))
        Some(spark.read.option("mergeSchema", "true").parquet(walDir(t)))
      else None
    replayed.foreach(view.append)
  }
  if (!memoryMode) walReplay()

  // ---- ingest (ST1-ST5 condensed into an explicit micro-batch API) ----

  /** One ingest micro-batch (the 1 s tick, duo/src/grpc/server.rs:31-46):
    * merge partial span records with retained open spans, append intact
    * spans + logs to the memory views. Unlike the reference, a batch
    * with only spans or only logs still flushes (the reference skips
    * unless both are non-empty — a bug noted in SURVEY ST3).
    */
  def ingestBatch(spanRecords: Seq[SpanRecord], logs: DataFrame): Unit = {
    import spark.implicits._
    this.synchronized {
      val all = (openSpans.toSeq ++ spanRecords).groupBy(_.id)
        .map { case (_, rs) => SpanMerger.mergeAll(rs) }
      val (intact, ongoing) = all.partition(_.end.isDefined)
      openSpans.clear()
      openSpans ++= ongoing
      if (intact.nonEmpty)
        appendSpanBatch(intact.toSeq.map(SpanMerger.toSpan).toDF())
    }
    appendLogBatch(logs)
  }

  /** Append a batch of already-merged spans to the hot view (+WAL) —
    * the foreachBatch entry used by [[graft.ingest.StreamingIngest]].
    * Synchronized like [[appendLogBatch]]: the WAL-append → view-append
    * sequence must not interleave with a concurrent [[flush]]'s
    * drain → WAL-clear, or a batch's replay log can be cleared before
    * its rows reach the store (crash = silent loss).
    */
  def appendSpanBatch(batch: DataFrame): Unit = this.synchronized {
    // the view's append materializes the batch ONCE (eager local
    // checkpoint) and returns the delta; the emptiness probe and the
    // WAL append then read local blocks instead of each re-running
    // the upstream lineage (guide §5 — measured on g13's six-flush
    // build: three full derivations per append before this)
    val delta = spanMemory.append(batch)
    if (!delta.isEmpty) {
      if (!memoryMode) walAppend("span", delta)
      maybeEarlyFlush()
    }
  }

  /** Append a batch of log rows (dynamic columns welcome) to the hot
    * view, widening and persisting the merged schema (+WAL).
    * Synchronized: this is concurrently reachable (the HTTP ingest
    * route runs on a thread pool), and the registry read-modify-write
    * (merge + save) would otherwise lose a column when two batches
    * introduce different dynamic fields at once — conform would then
    * silently drop the lost column from every query result. The lock
    * also orders WAL appends against [[flush]]'s WAL clear.
    */
  def appendLogBatch(batch: DataFrame): Unit = this.synchronized {
    // single materialization per batch — see [[appendSpanBatch]]; an
    // EMPTY batch still widens nothing (the registry merge stays
    // behind the emptiness check, exactly as before)
    val delta = logMemory.append(batch)
    if (!delta.isEmpty) {
      logSchema = SchemaRegistry.merge(logSchema, delta.schema)
      if (!memoryMode) {
        SchemaRegistry.save(logSchema, logSchemaPath)
        walAppend("log", delta)
      }
      maybeEarlyFlush()
    }
  }

  /** Hot-view size guard (beyond the reference, VERDICT r14 #7): the
    * reference flushes on a fixed 60 s cadence only
    * (duo/src/grpc/server.rs:89-120), so between flushes its memtable
    * and WAL grow with ingest rate — unbounded under a spike. Here a
    * batch that pushes the combined hot-view row count past
    * `maxHotRows` forces the parquet flush early (same [[flush]]:
    * drain both views, land, clear WAL), bounding driver memory, WAL
    * replay cost, and the memory∪parquet union's un-pruned hot side
    * all at once. The cadence flush remains the normal path; this is
    * the backstop.
    */
  private def maybeEarlyFlush(): Unit =
    if (!memoryMode && spanMemory.rows + logMemory.rows >= maxHotRows) {
      org.slf4j.LoggerFactory.getLogger(classOf[DuoEngine])
        .info(s"hot view at ${spanMemory.rows + logMemory.rows} rows " +
          s">= $maxHotRows: forcing early flush")
      flush()
    }

  /** The 60 s parquet flush + WAL clear (ST5): drain both memory views
    * into the partitioned store, each table's rows committed as one
    * manifest generation ([[graft.store.ParquetStore.write]]), then
    * drop the replay log (duo/src/grpc/server.rs:89-120). No-op in
    * memory mode. Synchronized against the append paths (the monitor
    * is reentrant, so `maybeEarlyFlush`'s nested call is fine): a
    * WAL clear must never land between another thread's walAppend and
    * view append. A [[maintain]] tick's rewrites never hold up a
    * flush: a heal in flight commits over it.
    */
  def flush(): Unit = this.synchronized { if (!memoryMode) {
    val spans = spanMemory.drain()
    if (!spans.isEmpty) spanStore.write(spans)
    val logs = logMemory.drain()
    if (!logs.isEmpty) logStore.write(logs)
    walClear()
    invalidateColdReads()
  } }

  /** Periodic storage maintenance (the operator cadence the reference
    * lacks — duo never rewrites its partitions): plan small-file
    * compactions for both stores
    * ([[graft.store.ParquetStore.planCompactions]] — pure metadata,
    * one manifest GET, zero data reads) and heal up to `maxHeals` of
    * the most-fragmented date partitions each via the
    * manifest-committed per-date rewrite; concurrent readers planned
    * before a heal stay green (snapshot isolation — superseded files
    * live until the vacuum grace passes).
    * Each flush lands a file per touched minute, so a long-running
    * ingest inevitably fragments; a maintenance cadence calling this
    * keeps read plans bounded without holding up a flush (see
    * [[flush]]), and the planner's leaf-dir guard makes repeated calls
    * converge (a healed date is never re-flagged). Returns table →
    * dates healed. No-op in memory mode.
    *
    * @param vacuumGraceMs snapshot-isolation grace for the vacuum leg:
    *   files tombstoned longer ago than this are reclaimed. The
    *   default (30 min) comfortably exceeds any interactive query's
    *   runtime; a deployment sizes it to its slowest reader.
    */
  def maintain(maxFilesPerDate: Int = 8,
      minAvgBytes: Long = 4L * 1024 * 1024,
      maxHeals: Int = 2,
      vacuumGraceMs: Long = graft.store.StoreManifest.RetainMs)
      : Map[String, Seq[String]] =
    if (memoryMode) Map.empty
    else try Seq("span" -> spanStore, "log" -> logStore).map { case (n, st) =>
      val dates = st.planCompactions(maxFilesPerDate, minAvgBytes)
        .take(maxHeals)
      dates.foreach(d => st.compactDate(d))
      // reclaim what previous mutations deferred (tombstoned files,
      // orphan rewrite trees, aged manifest generations) — the other
      // half of the maintenance cadence; a no-op when nothing is ripe
      st.vacuum(vacuumGraceMs): Unit
      n -> dates
    }.toMap finally invalidateColdReads()

  /** Opt-in background cadences — the reference binary's timer loops
    * (duo/src/grpc/server.rs:31-120 drives a 1 s ingest tick, a 10 s
    * WAL snapshot and a 60 s parquet flush) re-expressed for this
    * engine's shape: the WAL here is written synchronously per append
    * (strictly stronger than the reference's 10 s snapshot window), so
    * the loops that remain are the parquet [[flush]] (durability
    * without an explicit call — a crashed unattended server loses at
    * most one cadence of hot rows, which the WAL replays anyway) and
    * [[maintain]] (small-file healing + vacuum, the cadence the
    * reference lacks entirely). Ticks run on a daemon scheduler,
    * serialize against ingest on the engine monitor, and log-and-
    * continue on failure (a transient store error must not kill the
    * cadence). `0` disables a loop. Returns a closeable that stops
    * both; idempotent. No-op scheduler in memory mode.
    */
  def startCadences(flushEveryMs: Long,
      maintainEveryMs: Long = 0L): AutoCloseable = {
    val log = org.slf4j.LoggerFactory.getLogger(classOf[DuoEngine])
    val exec = java.util.concurrent.Executors.newScheduledThreadPool(1,
      (r: Runnable) => {
        val t = new Thread(r, "duo-cadence")
        t.setDaemon(true)
        t
      })
    def loop(everyMs: Long, name: String)(body: => Unit): Unit =
      if (!memoryMode && everyMs > 0L) {
        exec.scheduleWithFixedDelay(() => {
          try body
          catch {
            case scala.util.control.NonFatal(e) =>
              log.warn(s"$name cadence tick failed", e)
          }
        }, everyMs, everyMs,
          java.util.concurrent.TimeUnit.MILLISECONDS): Unit
      }
    loop(flushEveryMs, "flush") { flush() }
    loop(maintainEveryMs, "maintain") { maintain(): Unit }
    () => {
      // graceful first: interrupting a mid-flight flush would strand
      // the WAL behind an already-landed parquet write (the replay-
      // duplicate window a crash has anyway — no reason to widen it
      // on an orderly shutdown)
      exec.shutdown()
      if (!exec.awaitTermination(30,
          java.util.concurrent.TimeUnit.SECONDS))
        exec.shutdownNow(): Unit
    }
  }

  // ---- query surface (memory ∪ parquet, SURVEY §3) ----

  /** Cold-read plan memo: `ParquetStore.read` pays its planning cost —
    * a file listing plus, on a drifted store with no recorded schema, a
    * DISTRIBUTED footer-merge job — every time it is called, and the
    * query surface calls it once per query (a single fieldStats page
    * over a 3-field drift store re-listed and re-inferred the same
    * files three times; measured as 2/3 of g06/g08's warm scan stages).
    * The returned DataFrame is a lazy PLAN over an immutable file set,
    * so per (store, window) it is reusable until the file set changes —
    * and every path that changes it from inside this engine
    * ([[flush]], [[maintain]], the direct-landing branch of
    * [[ingestJsonLogDir]]) invalidates below, and the key carries the
    * store's process-wide mutation epoch
    * (`graft.store.ParquetStore.mutationEpoch`), so ANY in-process
    * mutator of the same table root — this engine or a store handle
    * beside it — invalidates without an I/O round trip. Cross-process
    * writers are outside the contract (the engine's hot view + WAL are
    * process-local; tables are single-writer, fenced at the store).
    * Default-window queries key on a now()-derived range and never
    * repeat, hence the size cap instead of an eviction policy.
    */
  private val coldReadMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Option[Long], Option[Long]), Option[DataFrame]]
  private def invalidateColdReads(): Unit = coldReadMemo.clear()
  private def coldRead(store: ParquetStore, name: String,
      startUs: Option[Long], endUs: Option[Long]): Option[DataFrame] = {
    val epoch = store.mutationEpoch
    if (coldReadMemo.size > 64) {
      // evict this table's stale-epoch keys first — they are
      // unreachable (every lookup keys on the CURRENT epoch), and a
      // burst of one-shot now()-derived default-window keys must not
      // take the hot reusable fixed-window entries down with it
      // (ADVICE r21); the full clear is the fallback when the flood
      // really is current-epoch one-shot windows
      val it = coldReadMemo.keySet().iterator()
      while (it.hasNext) {
        val k = it.next()
        if (k._1 == name && k._2 < epoch) it.remove()
      }
      if (coldReadMemo.size > 64) coldReadMemo.clear()
    }
    coldReadMemo.computeIfAbsent(
      (name, epoch, startUs, endUs),
      _ => store.read(startUs, endUs))
  }

  /** Queryable log table: hot view ∪ parquet pruned to [start,end]. */
  def logTable(startUs: Option[Long] = None, endUs: Option[Long] = None): DataFrame = {
    val mem = SchemaRegistry.conform(logMemory.snapshot(), logSchema)
    if (memoryMode) mem
    else LogQueries.unionStore(mem,
      coldRead(logStore, "log", startUs, endUs)
        .map(SchemaRegistry.conform(_, logSchema)))
  }

  /** Queryable span table. */
  def spanTable(startUs: Option[Long] = None, endUs: Option[Long] = None): DataFrame = {
    val mem = spanMemory.snapshot()
    if (memoryMode) mem
    else LogQueries.unionStore(mem, coldRead(spanStore, "span", startUs, endUs))
  }

  /** Resolve the cold-storage read range for a query: an unset bound
    * defaults to the reference's 15-minutes-ending-now window
    * (duo/src/query.rs:104-109) so the default API call prunes to a
    * handful of partitions instead of scanning a year of parquet;
    * `unbounded` is the explicit full-scan opt-out. Only the parquet
    * read is windowed — the hot memory view is always fully visible,
    * exactly like the reference's memtable union.
    */
  private def storeRange(startUs: Option[Long], endUs: Option[Long],
      unbounded: Boolean): (Option[Long], Option[Long]) =
    if (unbounded) (None, None)
    else {
      val now = nowUs()
      (Some(startUs.getOrElse(now - DuoEngine.DefaultWindowUs)),
        Some(endUs.getOrElse(now)))
    }

  def searchLogs(p: LogQueries.LogSearchParams): DataFrame = {
    val (s, e) = storeRange(p.startUs, p.endUs, p.unbounded)
    LogQueries.search(logTable(s, e), p)
  }

  def fieldStats(field: String, p: LogQueries.LogSearchParams): Option[DataFrame] = {
    val (s, e) = storeRange(p.startUs, p.endUs, p.unbounded)
    LogQueries.fieldStats(logTable(s, e), field, p)
  }

  /** GET /api/services — the registered service names, from the process
    * registry like the reference (duo/src/web/services.rs: the service
    * list is registry-derived, not scanned from data).
    */
  def services(): Seq[String] =
    processes.all.map(_.serviceName).distinct

  /** The live merged log schema — GET /api/logs/schema's backing
    * accessor (duo/src/schema.rs:74-76 serializes the mutable merged
    * schema, not the base one). The route ([[graft.api.HttpApi]])
    * does NOT serialize StructType JSON: the reference's wire form is
    * serde-serialized Arrow Schema JSON (duo/src/web/logs.rs:38), so
    * it goes through [[graft.api.ArrowSchemaJson]] — the explicit
    * StructType→arrow-schema-53-serde translation, parity-pinned in
    * HttpApiSpec against the reference base schema's expected JSON.
    */
  def currentLogSchema: org.apache.spark.sql.types.StructType = logSchema

  def spanNames(service: String): DataFrame =
    LogQueries.spanNames(spanTable(), service)

  def searchTraces(p: TraceQueries.TraceSearchParams): DataFrame = {
    val (s, e) = storeRange(p.startUs, p.endUs, p.unbounded)
    TraceQueries.filterTraces(spark, spanTable(s, e), logTable(s, e), p)
  }

  def getTrace(traceId: Long): DataFrame =
    TraceQueries.getTrace(spark, spanTable(), logTable(), traceId)

  // ---- time travel at the query surface ----

  /** Retained manifest generations of a table's store, oldest →
    * newest — the AS-OF coordinates the `*AsOf` views accept. Empty in
    * memory mode or before the store's first compaction.
    */
  def generations(table: String): Seq[String] =
    if (memoryMode) Seq.empty else storeOf(table).generations()

  /** One retained generation's operation-audit string (see
    * [[graft.store.ParquetStore.generationInfo]]). None in memory
    * mode, for pruned generations, and for pre-audit ones.
    */
  def generationInfo(table: String, gen: String): Option[String] =
    if (memoryMode) None else storeOf(table).generationInfo(gen)

  /** All retained generations' audit strings from one listing (see
    * [[graft.store.ParquetStore.generationInfos]]). Empty in memory
    * mode.
    */
  def generationInfos(table: String): Map[String, Option[String]] =
    if (memoryMode) Map.empty else storeOf(table).generationInfos()

  /** Generation files currently standing a table's vacuum destructive
    * sweeps down, as (name, reason, reclaimable) — see
    * [[graft.store.ParquetStore.vacuumStandDowns]]; the operator
    * probe behind the [[maintain]] cadence's warn log. Empty ⇔ the
    * sweeps run (and in memory mode).
    */
  def vacuumStandDowns(table: String): Seq[(String, String, Boolean)] =
    if (memoryMode) Seq.empty else storeOf(table).vacuumStandDowns()

  /** A named durable incremental CDC consumer over one table's
    * generation history (see [[graft.store.CdcFeed]]): poll the
    * unconsumed increment, commit the cursor when it is safely down —
    * at-least-once, resync-on-retention-gap. Unavailable in memory
    * mode (no generations to feed from).
    */
  def cdcFeed(table: String, consumer: String,
      keyCols: Seq[String] = Nil): graft.store.CdcFeed = {
    require(!memoryMode, "cdcFeed needs a parquet store (memory mode)")
    storeOf(table).cdcFeed(consumer, keyCols)
  }

  private def storeOf(table: String): ParquetStore = table match {
    case "span" => spanStore
    case "log" => logStore
    case t => throw new IllegalArgumentException(
      s"unknown table '$t': expected span|log")
  }

  /** The COMMITTED log table as of one retained generation — the
    * operational question the storage engine's retained history
    * answers in one call: "what did this table hold before the last
    * retention/compaction?". Deliberately excludes the hot memory
    * view: version history covers commits, and un-flushed rows have
    * no generation coordinate. Conformed to the live registry schema like every
    * engine log view. None when the generation is pruned: history
    * keeps the newest three and all younger than
    * [[graft.store.StoreManifest.RetainMs]] (the default vacuum grace).
    */
  def logTableAsOf(gen: String): Option[DataFrame] =
    if (memoryMode) None
    else logStore.readGeneration(gen)
      .map(SchemaRegistry.conform(_, logSchema))

  /** Span-table counterpart of [[logTableAsOf]]. */
  def spanTableAsOf(gen: String): Option[DataFrame] =
    if (memoryMode) None else spanStore.readGeneration(gen)

  /** Trace search AS OF pinned generations of both stores — "what did
    * this trace look like before the last expiry?" as one call. The
    * search params' time window applies as a row predicate (partition
    * pruning still applies inside the pinned generation's trees).
    * NOTE: the two pins are independent coordinates with no
    * consistency guarantee between them — the caller owns their
    * compatibility. For a CONSISTENT cross-table coordinate use the
    * timestamp overload, which resolves both pins from one instant.
    */
  def searchTracesAsOf(p: TraceQueries.TraceSearchParams,
      spanGen: String, logGen: String): Option[DataFrame] =
    for {
      sp <- spanTableAsOf(spanGen)
      lg <- logTableAsOf(logGen)
    } yield TraceQueries.filterTraces(spark, sp, lg, p)

  /** The newest retained generation of `table` committed at or before
    * wall-clock `tsMillis` (generation names embed their commit
    * millis — see [[graft.store.ParquetStore.generationAsOf]]). None
    * when T predates retention, before the store's first commit, or
    * in memory mode. This is the resolution step that makes a single
    * timestamp a CONSISTENT cross-table AS-OF coordinate.
    */
  def generationAsOf(table: String, tsMillis: Long): Option[String] =
    if (memoryMode) None else storeOf(table).generationAsOf(tsMillis)

  /** Trace search AS OF one instant — "the store as of time T", both
    * tables pinned to their newest generation committed ≤ T, so later
    * commits landing on only ONE table (the normal skew: spans flush
    * while logs idle) can never mix epochs in one answer. None (the
    * HTTP route's 404) when either table cannot truthfully answer T:
    * no commit yet, or T predates its retention.
    */
  def searchTracesAsOf(p: TraceQueries.TraceSearchParams,
      asOfMillis: Long): Option[DataFrame] =
    for {
      sg <- generationAsOf("span", asOfMillis)
      lg <- generationAsOf("log", asOfMillis)
      r <- searchTracesAsOf(p, sg, lg)
    } yield r

  /** Log search AS OF a retained log-store generation — the log-side
    * twin of `searchTracesAsOf`. The search window applies as a row
    * predicate inside the pinned generation.
    */
  def searchLogsAsOf(p: LogQueries.LogSearchParams,
      gen: String): Option[DataFrame] =
    logTableAsOf(gen).map(LogQueries.search(_, p))

  /** Log search AS OF one instant (timestamp coordinate — see the
    * trace-side overload for the contract).
    */
  def searchLogsAsOf(p: LogQueries.LogSearchParams,
      asOfMillis: Long): Option[DataFrame] =
    generationAsOf("log", asOfMillis)
      .flatMap(g => searchLogsAsOf(p, g))

  /** Generation-diff CDC at the engine surface (the remote-facade
    * backing for `GET /api/changes`): rows added between two retained
    * generations of a table's store — file-granular by default (exact
    * when the lineage only added files; the documented compaction-
    * churn caveat), row-exact when `keyCols` names the row identity
    * (anti-join against the other generation's key set — see
    * [[graft.store.ParquetStore]]). Log-table frames are conformed to
    * the live registry like every other engine log view. None when a
    * generation is pruned (history: see [[logTableAsOf]]) or in
    * memory mode.
    */
  def changesBetween(table: String, from: String, to: String,
      keyCols: Seq[String] = Nil): Option[DataFrame] =
    if (memoryMode) None
    else {
      val df = storeOf(table).changesBetween(from, to, keyCols)
      if (table == "log") df.map(SchemaRegistry.conform(_, logSchema))
      else df
    }

  /** The delete side of [[changesBetween]]: rows a downstream
    * consumer must invalidate.
    */
  def removedBetween(table: String, from: String, to: String,
      keyCols: Seq[String] = Nil): Option[DataFrame] =
    if (memoryMode) None
    else {
      val df = storeOf(table).removedBetween(from, to, keyCols)
      if (table == "log") df.map(SchemaRegistry.conform(_, logSchema))
      else df
    }

  /** Log-registry GC — the operator-invoked maintenance call for
    * long-lived stores ([[graft.store.SchemaRegistry.gc]]): drop registry columns
    * that NO retained data observably carries. Liveness is a NON-NULL
    * count, not footer presence, because [[flush]] lands the hot
    * view's union schema — every file written after a column appeared
    * carries it as all-null padding, so footers cannot prove death;
    * but under the engine's resurrect-as-null contract (EngineSpec's
    * retired-column test) a column that is all-null across the
    * current table AND every retained generation (time travel reaches
    * them) is observationally identical to an absent one, which is
    * exactly when dropping it changes no retained query result. The
    * price is one column-pruned aggregate scan per retained frame —
    * the "full-schema scan to prove no survivor carries it" the
    * contract predicted gc would cost, paid only when the operator
    * invokes it (never automatic: existence must not depend on
    * retention timing by default). Base columns are never dropped.
    * After gc a saved query referencing a dropped column fails loudly
    * at analysis — the documented trade. Requires a flushed hot view
    * (un-flushed rows have no retained truth to scan). Returns the
    * dropped names (empty = nothing provably dead; idempotent).
    */
  def gcLogSchema(): Seq[String] = {
    if (memoryMode) return Seq.empty
    require(logMemory.isEmpty,
      "gcLogSchema: flush() the hot view first — un-flushed rows " +
        "have no retained on-disk truth to prove their columns live")
    val baseNames = Schemas.logBase.fieldNames.toSet
    val candidates = logSchema.fieldNames.toSeq.filterNot(baseNames)
    if (candidates.isEmpty) return Seq.empty
    // the retained truth: the current table (staged flushes
    // included) plus every OLDER retained generation (the newest is
    // a subset of the current read)
    val frames = logStore.read(None, None).toSeq ++
      logStore.generations().dropRight(1)
        .flatMap(g => logStore.readGeneration(g))
    val live = scala.collection.mutable.Set.empty[String]
    frames.foreach { df =>
      val toProbe = candidates
        .filter(c => df.columns.contains(c) && !live.contains(c))
      if (toProbe.nonEmpty) {
        import org.apache.spark.sql.functions.{col, count}
        val counts = df.agg(count(col(toProbe.head)).as(toProbe.head),
            toProbe.tail.map(c => count(col(c)).as(c)): _*)
          .collect()(0)
        toProbe.foreach(c =>
          if (counts.getAs[Long](c) > 0L) live += c)
      }
    }
    val before = logSchema
    val after = SchemaRegistry.gc(before, live.toSet, baseNames)
    val dropped = before.fieldNames.toSeq.diff(after.fieldNames.toSeq)
    if (dropped.nonEmpty) {
      logSchema = after
      SchemaRegistry.save(after, logSchemaPath)
    }
    dropped
  }

  /** Typed views for API-edge consumers. */
  def spans: Dataset[Span] = {
    import spark.implicits._
    spanTable().as[Span]
  }
  def logs: Dataset[Log] = {
    import spark.implicits._
    SchemaRegistry.conform(logTable(), Schemas.logBase).as[Log]
  }

  /** Ingest raw JSON log events — the reference's born-dynamic path
    * (duo/src/arrow.rs:70-91): field types are INFERRED by Spark's JSON
    * reader (long/double/boolean/string, the same four the reference
    * maps JSON values to), base columns are cast to their pinned
    * registry types, the level is normalized (unknown → DEBUG,
    * duo-api/src/common.rs:39-60), and new fields widen the schema
    * registry like any dynamic batch.
    *
    * @return the number of malformed lines dropped (also logged) —
    *         ingest data loss is counted, never silent
    */
  def ingestJsonLogs(jsonLines: Seq[String]): Long = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    if (jsonLines.isEmpty) return 0L
    // Malformed lines are parsed PERMISSIVE into a corrupt-record column
    // so they can be COUNTED before being filtered out (a silent
    // DROPMALFORMED would make ingest data loss invisible); nested
    // objects/arrays are re-serialized to JSON text (the registry and
    // Arrow WAL hold scalars only, matching the reference's scalar-oneof
    // wire values, duo-api/proto/common.proto).
    val corruptCol = "_graft_corrupt_record"
    val read = spark.read
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corruptCol)
      .json(spark.createDataset(jsonLines))
      .cache() // tiny driver-fed micro-batch; also required to filter on
               // the corrupt column alone (SPARK-21610)
    try {
      val hasCorrupt = read.schema.fieldNames.contains(corruptCol)
      val dropped =
        if (hasCorrupt) read.filter(col(corruptCol).isNotNull).count() else 0L
      if (dropped > 0)
        org.slf4j.LoggerFactory.getLogger(classOf[DuoEngine])
          .warn(s"ingestJsonLogs: dropped $dropped malformed line(s) " +
            s"of ${jsonLines.size}")
      val good =
        if (hasCorrupt) read.filter(col(corruptCol).isNull).drop(corruptCol)
        else read
      if (good.schema.isEmpty) return dropped // every line was corrupt
      appendLogBatch(normalizeInferredLogs(good))
      dropped
    } finally { read.unpersist(); () }
  }

  /** Shared dynamic-ingest normalization (duo/src/arrow.rs:70-91):
    * nested JSON values are re-serialized to JSON text (the registry and
    * WAL hold scalars only, matching the reference's scalar-oneof wire
    * values), base-registry columns are cast to their pinned types, and
    * `level` is normalized (unknown → DEBUG, duo-api/src/common.rs:39-60).
    */
  private def normalizeInferredLogs(good: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val raw = good.select(good.schema.fields.map { f =>
      f.dataType match {
        case _: org.apache.spark.sql.types.StructType |
             _: org.apache.spark.sql.types.ArrayType |
             _: org.apache.spark.sql.types.MapType =>
          to_json(col(f.name)).as(f.name)
        case _ => col(f.name)
      }
    }.toIndexedSeq: _*)
    val baseTypes = Schemas.logBase.fields.map(f => f.name -> f.dataType).toMap
    val cols = raw.schema.fields.map { f =>
      if (f.name == "level")
        when(upper(col("level")).isin(Schemas.levels: _*), upper(col("level")))
          .otherwise("DEBUG").as("level")
      else baseTypes.get(f.name) match {
        case Some(dt) if dt != f.dataType => col(f.name).cast(dt).as(f.name)
        case _ => col(f.name)
      }
    }
    raw.select(cols.toIndexedSeq: _*)
  }

  /** Distributed dynamic-schema JSON ingest — the backfill face of
    * [[ingestJsonLogs]]. The line-based API mirrors the reference's
    * single-process gRPC edge (duo/src/grpc/server.rs:124-169); this is
    * the shape a 100 TB deployment actually runs against the same
    * semantics: a directory of JSON-line files, schema INFERRED by
    * Spark's distributed JSON reader (executor-parallel inference pass,
    * duo/src/arrow.rs:70-91 analog), then the SAME registry merge +
    * normalization as the line path — one code path for the semantics
    * (`normalizeInferredLogs`), two feeds.
    *
    * `direct = true` (default) lands the normalized batch straight in
    * the partitioned cold store after widening the registry: a backfill
    * must not double-write through the WAL and buffer in the hot view —
    * the source files ARE its replay log. `direct = false` routes
    * through [[appendLogBatch]] (hot view + WAL), byte-identical to the
    * line path; memory-mode engines always take that route.
    *
    * Malformed-line accounting: a file-source frame may not be filtered
    * on ONLY its corrupt-record column (SPARK-21610), and caching a
    * backfill to work around that is exactly the scale bug this method
    * exists to avoid. So: inference runs PERMISSIVE (one pass); iff it
    * surfaced a corrupt-record column, the data is re-read under the
    * inferred data schema with DROPMALFORMED and the dropped count is
    * `non-blank lines − good rows` (one cheap text scan + one count
    * pass — paid only by corpora that actually contain bad lines; clean
    * backfills take inference + write and nothing else).
    *
    * @return the number of malformed lines dropped (logged, like the
    *         line path — ingest data loss is counted, never silent)
    */
  def ingestJsonLogDir(path: String, direct: Boolean = true): Long = {
    import org.apache.spark.sql.functions._
    val corruptCol = "_graft_corrupt_record"
    val inferred = spark.read
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corruptCol)
      .json(path)
    val hasCorrupt = inferred.schema.fieldNames.contains(corruptCol)
    val dataSchema = org.apache.spark.sql.types.StructType(
      inferred.schema.fields.filterNot(_.name == corruptCol))
    if (dataSchema.isEmpty) {
      // nothing ingestable: empty dir, or every line malformed — the
      // non-blank line count IS the dropped count (the JSON reader
      // skips blank lines entirely, so they are not data loss)
      if (!hasCorrupt) return 0L
      val dropped = spark.read.textFile(path)
        .filter(length(trim(col("value"))) > 0).count()
      org.slf4j.LoggerFactory.getLogger(classOf[DuoEngine])
        .warn(s"ingestJsonLogDir: dropped $dropped malformed line(s) " +
          s"from $path (no well-formed records)")
      return dropped
    }
    val (good, dropped) =
      if (hasCorrupt) {
        val g = spark.read.schema(dataSchema)
          .option("mode", "DROPMALFORMED").json(path)
        val total = spark.read.textFile(path)
          .filter(length(trim(col("value"))) > 0).count()
        (g, total - g.count())
      } else (inferred, 0L)
    if (dropped > 0)
      org.slf4j.LoggerFactory.getLogger(classOf[DuoEngine])
        .warn(s"ingestJsonLogDir: dropped $dropped malformed line(s) " +
          s"from $path")
    val norm = normalizeInferredLogs(good)
    if (direct && !memoryMode) {
      this.synchronized {
        logSchema = SchemaRegistry.merge(logSchema, norm.schema)
        SchemaRegistry.save(logSchema, logSchemaPath)
      }
      logStore.write(norm)
      invalidateColdReads()
    } else appendLogBatch(norm)
    dropped
  }
}

object DuoEngine {
  /** Default cold-read window: 15 minutes (duo/src/query.rs:106). */
  val DefaultWindowUs: Long = 15L * 60L * 1000000L

  /** Default hot-view row ceiling before an early flush is forced.
    * Sizing: hot rows live as driver-checkpointed local blocks and are
    * replayed from the WAL on restart — at ~200 B/row the default caps
    * the hot side near 1 GB and the replay near one flush interval of
    * a hot ingest. A deployment tunes it to its flush cadence × peak
    * rate; the 60 s cadence flush remains the normal drain.
    */
  val DefaultMaxHotRows: Long = 4000000L
}

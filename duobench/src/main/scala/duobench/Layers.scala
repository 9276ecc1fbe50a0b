package duobench

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.DuoEngine

/** Per-layer metrics of a traced run. Read-side layers are per call of
  * the workload's layer route (median over calls of the call's self
  * time in that layer); write-side layers are per engine call (median
  * duration). Store figures are read off the engine at the end.
  */
object Layers {
  import Main.Metric

  /** Span names whose self time each read-side layer metric reports. */
  val ReadLayers: Seq[(String, String)] = Seq(
    "api.render_ms" -> "api.render",
    "engine.table_ms" -> "engine.table",
    "query.build_ms" -> "query.build",
    "spark.plan_ms" -> "spark.plan",
    "spark.exec_ms" -> "spark.exec")

  /** Used heap after full collections: the least of five, 100 ms
    * apart, so objects freed by Spark's cleaner thread after one
    * collection are gone by a later one.
    */
  def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    (1 to 5).map { _ =>
      System.gc()
      Thread.sleep(100)
      (rt.totalMemory() - rt.freeMemory()) / (1024.0 * 1024.0)
    }.min
  }

  private def ms(ns: Long): Double = ns / 1e6

  private def dirBytes(p: java.nio.file.Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** Mean self time per layer plus the mean remainder, per route: the
    * columns add up to the mean traced call time.
    */
  def reconcile(bds: Seq[Tracer.Breakdown]): Seq[String] =
    bds.groupBy(_.root.name).toSeq.sortBy(_._1).map { case (route, bs) =>
      val n = bs.size.toDouble
      val layers = bs.flatMap(_.byLayer.keys).distinct.sorted
      val parts = layers.map(l => l -> bs.map(_.byLayer.getOrElse(l, 0L)).sum / n / 1e6)
      val rem = bs.map(_.remainderNs).sum / n / 1e6
      val total = bs.map(_.totalNs).sum / n / 1e6
      require(bs.forall(b => b.attributedNs + b.remainderNs == b.totalNs))
      f"$route%-18s n=${bs.size}%4d total=$total%8.2f ms = " +
        parts.map { case (l, v) => f"$l $v%.2f" }.mkString(" + ") + f" + remainder $rem%.2f"
    }

  def metrics(wl: Workload, engine: DuoEngine, storeRoot: java.nio.file.Path,
      tracer: Tracer, probe: SparkProbe, http: Tally, plain: Tally,
      traced: Tally): Seq[Metric] = {
    val route = wl.layerRoute
    val bds = Tracer.breakdowns(tracer.spans)
    reconcile(bds).foreach(println)
    val okRoots = traced.outcomes.filter(o => o.ok && o.route == route).map(_.rootSpan).toSet
    val calls = bds.filter(b => okRoots.contains(b.root.id))
    def med(xs: Seq[Double]) = Stats.median(xs)
    def layer(name: String) = med(calls.map(b => ms(b.byLayer.getOrElse(name, 0L))))
    def spanMed(name: String) = med(tracer.spans.filter(_.name == name).map(s => ms(s.durNs)))
    val work = calls.flatMap(b => probe.workOf(b.root.id.toString))
    val rowsOut = calls.map(_.root.tags.get("rows").map(_.toLong).getOrElse(0L)).sum
    val httpMs = med(http.latencies(route))
    val plainMs = med(plain.latencies(route))
    val tracedMs = med(traced.latencies(route))

    // store figures
    val scanned = calls.map(_.root.tags.get("files").map(_.toDouble).getOrElse(0.0))
    val live = engine.spanTable().inputFiles.length + engine.logTable().inputFiles.length
    val hot = engine.spanMemory.rows + engine.logMemory.rows
    val walBytes = dirBytes(storeRoot.resolve("wal"))
    val lateMs = med(http.outcomes.map(_.lateMs))

    Seq(
      Metric("api.http_ms", httpMs - plainMs, "ms"),
      Metric("api.response_kb",
        http.outcomes.filter(o => o.ok && o.route == route)
          .map(_.answer.get.body.length / 1024.0).sum /
          math.max(1, http.latencies(route).size), "kB")) ++
      ReadLayers.map { case (m, span) => Metric(m, layer(span), "ms") } ++
      Seq(
        Metric("engine.ingest_ms", spanMed("engine.ingest"), "ms"),
        Metric("engine.flush_ms", spanMed("engine.flush"), "ms"),
        Metric("engine.maintain_ms", spanMed("engine.maintain"), "ms"),
        Metric("spark.jobs", med(work.map(_.jobs.toDouble)), "count"),
        Metric("spark.stages", med(work.map(_.stages.toDouble)), "count"),
        Metric("spark.tasks", med(work.map(_.tasks.toDouble)), "count"),
        Metric("spark.task_busy_ms", med(work.map(_.taskBusyMs.toDouble)), "ms"),
        Metric("spark.sched_wait_ms", med(work.map(_.schedWaitMs.toDouble)), "ms"),
        Metric("spark.shuffle_kb", med(work.map(_.shuffleBytes / 1024.0)), "kB"),
        Metric("spark.rows_read_per_row_returned",
          work.map(_.rowsRead).sum.toDouble / math.max(1L, rowsOut), "ratio"),
        Metric("store.files_scanned", med(scanned), "count"),
        Metric("store.live_files", live.toDouble, "count"),
        Metric("store.generations",
          (engine.generations("span").size + engine.generations("log").size).toDouble, "count"),
        Metric("store.hot_rows", hot.toDouble, "count"),
        Metric("store.wal_bytes_per_row", walBytes.toDouble / math.max(1L, hot), "B"),
        Metric("store.bytes_per_input_byte",
          dirBytes(storeRoot).toDouble / math.max(1L, wl.inputBytes), "ratio"),
        Metric("store.schema_cols", engine.currentLogSchema.size.toDouble, "count"),
        Metric("loadgen.late_ms", lateMs, "ms"),
        Metric("trace.unattributed_ms", med(calls.map(b => ms(b.remainderNs))), "ms"),
        Metric("trace.overhead_ms", tracedMs - plainMs, "ms"))
  }
}

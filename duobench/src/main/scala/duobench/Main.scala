package duobench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.DuoEngine
import graft.api.HttpApi

/** The duo serving benchmark: builds a seeded store, serves it with
  * `graft.api.HttpApi` over a `graft.DuoEngine`, drives one workload
  * over real HTTP for a fixed time, checks every answer, and prints
  * one JSON record as the last stdout line (prefixed with
  * [[Main.ResultTag]]; the launcher strips the tag).
  *
  * Usage: `duobench.Main --workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --dir <scratch dir>`. With `--trace 1` the same
  * request sequence is also replayed in-process, untraced and traced,
  * and the record carries the per-layer metrics instead of the
  * end-to-end ones.
  */
object Main {
  val ResultTag = "DUOBENCH_RESULT "
  /** Set-up repetitions; `setup_s` is their median. */
  val SetupReps = 3
  /** Per-request deadline: a slower answer is a failed call. */
  val DeadlineMs = 30000L
  /** Answers per run recomputed in-process and compared. */
  val SampleChecks = 2

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      dir: Path)

  def parseArgs(args: Seq[String]): Args = {
    val m = args.grouped(2).collect { case Seq(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toDouble, trace,
      Paths.get(need("dir")))
    require(a.seconds > 0, "--seconds must be positive")
    require(Workload.Names.contains(a.workload),
      s"unknown workload '${a.workload}' (expected ${Workload.Names.mkString(", ")})")
    a
  }

  /** One metric of the record. */
  final case class Metric(name: String, value: Double, unit: String)

  private val t0 = System.nanoTime()
  /** Elapsed seconds since the JVM reached `main`, for the phase log. */
  def elapsed: String = f"[${(System.nanoTime() - t0) / 1e9}%6.1f s]"

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv.toSeq)
    val cores = Workload.Cores
    Files.createDirectories(args.dir)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("duobench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", args.dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", args.dir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val probe = new SparkProbe
    spark.sparkContext.addSparkListener(probe)
    val code =
      try run(spark, probe, args)
      finally spark.stop()
    sys.exit(code)
  }

  private def run(spark: SparkSession, probe: SparkProbe, args: Args): Int = {
    println(s"$elapsed spark up")
    val wl = Workload(args.workload, args.seed)
    println(s"$elapsed inputs generated")
    val tracer = new Tracer(enabled = args.trace)
    val off = new Tracer(enabled = false)
    val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

    // ---- the store: built once from the seeded inputs ----
    val root = args.dir.resolve("store")
    val b0 = System.nanoTime()
    wl.build(spark, new DuoEngine(spark, root.toString, nowUs = () => wl.nowUs), tracer)
    println(f"$elapsed store build: ${(System.nanoTime() - b0) / 1e9}%.3f s")

    // ---- set-up, several times; the last engine serves. One set-up
    // opens an engine over the store (replaying the hot tail's WAL),
    // starts the HTTP API and warms it with a few calls ----
    var engine: DuoEngine = null
    var api: HttpApi = null
    val setupS = (1 to SetupReps).map { rep =>
      if (api != null) api.stop()
      val t0 = System.nanoTime()
      engine = new DuoEngine(spark, root.toString, nowUs = () => wl.nowUs)
      api = new HttpApi(engine)
      api.start()
      val warm = new HttpChannel(api.boundPort, DeadlineMs)
      wl.warmup.foreach { c =>
        val w0 = System.nanoTime()
        val a = warm.call(c)
        println(f"$elapsed   warm ${c.route} ${(System.nanoTime() - w0) / 1e6}%.0f ms")
        Answers.check(c, a, wl.truth).foreach(e =>
          throw new IllegalStateException(s"warm-up ${c.route} failed: $e"))
      }
      val s = (System.nanoTime() - t0) / 1e9
      println(f"$elapsed setup $rep: $s%.3f s")
      s
    }

    try {
      // ---- the measured HTTP pass ----
      // a traced run splits its time between the HTTP pass and the two
      // in-process replays, so it takes as long as an untraced one
      val seconds = if (args.trace) args.seconds / 3 else args.seconds
      val http = new Tally
      wl.run(spark, engine, new HttpChannel(api.boundPort, DeadlineMs), off, http, seconds)
      println(s"$elapsed measured")
      val mismatches = sampleCheck(wl, engine, http, args.seed)
      println(s"$elapsed checked")
      report("http", http)

      var replays = Seq.empty[Tally]
      val metrics =
        if (!args.trace) endToEnd(wl, http, setupS)
        else {
          val plain = new Tally
          wl.run(spark, engine, new InProcessChannel(engine, off), off, plain, seconds)
          report("in-process", plain)
          val traced = new Tally
          wl.run(spark, engine, new InProcessChannel(engine, tracer), tracer, traced, seconds)
          report("traced", traced)
          probe.drain()
          val out = args.dir.getParent.resolve("out")
          Files.createDirectories(out)
          Files.write(out.resolve(s"spans-${wl.name}.jsonl"),
            tracer.toJsonLines(epochOffsetNs).toSeq.asJava)
          replays = Seq(plain, traced)
          Layers.metrics(wl, engine, root, tracer, probe, http, plain, traced)
        }
      val tallies = http +: replays
      val failed = tallies.map(_.failed).sum + mismatches
      val record = Record.json(failed == 0, tallies.map(_.attempted).sum, failed, metrics)
      tallies.flatMap(_.errors).take(10).foreach(e => System.err.println(s"failed call: $e"))
      println(s"$elapsed done")
      println(ResultTag + record)
      0
    } finally api.stop()
  }

  private def report(pass: String, t: Tally): Unit = {
    val byRoute = t.outcomes.groupBy(_.route).toSeq.sortBy(_._1)
    byRoute.foreach { case (route, os) =>
      val xs = os.filter(_.ok).map(_.latencyMs)
      val s = Stats.summarize(xs)
      println(f"$pass%-10s $route%-13s ${os.count(!_.ok)}%3d failed  $s  " +
        f"p25=${Stats.quantile(xs, 0.25)}%.1f p75=${Stats.quantile(xs, 0.75)}%.1f " +
        xs.map(x => f"$x%.0f").mkString(","))
    }
  }

  /** Re-run a seeded sample of the store-only answers in-process and
    * compare them with what HTTP served. Returns the mismatches.
    */
  private def sampleCheck(wl: Workload, engine: DuoEngine, http: Tally, seed: Long): Int = {
    val ch = new InProcessChannel(engine, new Tracer(enabled = false))
    val pool = http.outcomes.filter(o => o.ok && o.call.pure)
    val sample = new Random(seed ^ 0x5eedL).shuffle(pool).take(SampleChecks)
    val bad = sample.count { o =>
      val c = o.call
      val want = Answers.digest(c, o.answer.get.body)
      val got = Answers.digest(c, ch.call(c).body)
      if (want != got) System.err.println(s"mismatch on ${c.route}: $c")
      want != got
    }
    println(s"sample check: ${sample.size - bad}/${sample.size} answers equal an in-process recomputation")
    bad
  }

  private def endToEnd(wl: Workload, http: Tally, setupS: Seq[Double]): Seq[Metric] = {
    val main = Stats.summarize(http.latencies(wl.mainRoute))
    val side = Stats.summarize(http.latencies(wl.sideRoute))
    println(s"main ${wl.mainRoute}: $main (tail ${main.tailName} of n=${main.n})")
    println(s"side ${wl.sideRoute}: $side (tail ${side.tailName} of n=${side.n})")
    // completed calls over the time they took: continuous, where a
    // count over the nominal seconds would move in whole-call steps
    val done = http.outcomes.filter(_.ok)
    val span = (done.map(_.doneNs).maxOption.getOrElse(0L) -
      http.outcomes.map(_.sentNs).minOption.getOrElse(0L)) / 1e9
    Seq(
      Metric("setup_s", Stats.median(setupS), "s"),
      Metric("throughput_rps", if (span > 0) done.size / span else 0.0, "1/s"),
      Metric("main_p50_ms", main.p50, "ms"),
      Metric("heap_retained_mb", Layers.retainedHeapMb(), "MB"))
  }
}

/** The printed record. */
object Record {
  def json(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[Main.Metric]): String = {
    val ms = metrics.map { m =>
      val v = if (m.value.isNaN || m.value.isInfinite) "null" else BigDecimal(m.value).toString
      s""""${m.name}": {"value": $v, "unit": "${m.unit}"}"""
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": ${math.max(1, attempted)}, "failed": $failed, "metrics": {$ms}}"""
  }
}

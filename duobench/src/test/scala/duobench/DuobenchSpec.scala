package duobench

import org.scalatest.funsuite.AnyFunSuite

class DuobenchSpec extends AnyFunSuite {

  test("quantiles interpolate like Python's inclusive method") {
    val xs = Seq(1.0, 2.0, 3.0, 4.0)
    assert(Stats.median(xs) == 2.5)
    assert(Stats.quantile(xs, 0.0) == 1.0)
    assert(Stats.quantile(xs, 1.0) == 4.0)
    assert(math.abs(Stats.quantile(xs, 0.9) - 3.7) < 1e-12)
    assert(Stats.quantile(Seq(5.0), 0.99) == 5.0)
    assert(Stats.median(Nil).isNaN)
  }

  test("the tail is the highest percentile with at least ten samples beyond it") {
    assert(Stats.tailQuantile(1000).contains(0.99))
    assert(Stats.tailQuantile(999).contains(0.95))
    assert(Stats.tailQuantile(200).contains(0.95))
    assert(Stats.tailQuantile(100).contains(0.9))
    assert(Stats.tailQuantile(99).contains(0.75))
    assert(Stats.tailQuantile(40).contains(0.75))
    assert(Stats.tailQuantile(20).contains(0.5))
    assert(Stats.tailQuantile(19).isEmpty)
    // too few samples: the summary falls back to the median and says so
    val s = Stats.summarize(Seq.tabulate(5)(_.toDouble))
    assert(s.tailQ == 0.5 && s.tail == s.p50 && s.tailName == "p50" && s.n == 5)
  }

  test("latency runs from the due time, and the sender's delay is reported") {
    val tally = new Tally
    val due = System.nanoTime() - 50000000L // sent 50 ms after it was due
    Load.timed(tally, 0, Call.Services(), due, _ => None) {
      Thread.sleep(20)
      Answer(200, "{}")
    }
    val o = tally.outcomes.head
    assert(o.lateMs >= 50.0)
    assert(o.latencyMs >= o.lateMs + 20.0)
  }

  test("checking an answer is not part of the call's latency") {
    val tally = new Tally
    val due = System.nanoTime()
    Load.timed(tally, 0, Call.Services(), due, _ => { Thread.sleep(200); None }) {
      Answer(200, "{}")
    }
    assert(tally.outcomes.head.latencyMs < 150.0)
  }

  test("failed, wrong and slow answers count as failures, never as samples") {
    val tally = new Tally
    val truth = Truth(Set("api"), Map.empty, Map.empty)
    val now = System.nanoTime()
    val ok = Call.Services()
    def check(c: Call)(a: Answer) = Answers.check(c, a, truth)
    Load.timed(tally, 0, ok, now, check(ok))(Answer(200, """{"data":["api"],"total":0}"""))
    Load.timed(tally, 0, ok, now, check(ok))(Answer(500, "internal error"))
    Load.timed(tally, 0, ok, now, check(ok))(Answer(200, """{"data":["api","ghost"]}"""))
    Load.timed(tally, 0, ok, now, check(ok))(Answer(200, "not json"))
    Load.timed(tally, 0, ok, now, check(ok))(
      throw new java.net.http.HttpTimeoutException("request timed out"))
    assert(tally.attempted == 5)
    assert(tally.failed == 4)
    assert(tally.latencies("services").size == 1)
    assert(tally.errors.exists(_.contains("status 500")))
    assert(tally.errors.exists(_.contains("timed out")))
  }

  test("ingest answers must account for every line sent") {
    val truth = Truth(Set.empty, Map.empty, Map.empty)
    val c = Call.Ingest(Seq("{}", "{}", "{bad"), bad = 1)
    assert(Answers.check(c, Answer(200, """{"accepted":2,"malformed":1}"""), truth).isEmpty)
    assert(Answers.check(c, Answer(200, """{"accepted":3,"malformed":0}"""), truth).nonEmpty)
    assert(Answers.check(c, Answer(200, """{"accepted":1,"malformed":1}"""), truth).nonEmpty)
  }

  test("layer self times plus the remainder equal the traced request time") {
    val t = new Tracer(enabled = true)
    t.span("route.traces") {
      Thread.sleep(3)
      t.span("engine.table")(Thread.sleep(5))
      t.span("spark.plan")(Thread.sleep(4))
      t.span("spark.exec") {
        Thread.sleep(6)
        t.span("api.render")(Thread.sleep(2)) // nested: charged to itself only
      }
    }
    t.span("op.flush")(t.span("engine.flush")(Thread.sleep(1)))
    val bds = Tracer.breakdowns(t.spans)
    assert(bds.map(_.root.name) == Seq("route.traces", "op.flush"))
    bds.foreach(b => assert(b.attributedNs + b.remainderNs == b.totalNs))
    val b = bds.head
    assert(b.byLayer.keySet == Set("engine.table", "spark.plan", "spark.exec", "api.render"))
    // the root's own 3 ms sleep is the unattributed remainder, not dropped
    assert(b.remainderNs >= 3000000L)
    assert(b.byLayer("spark.exec") >= 6000000L && b.byLayer("spark.exec") < b.totalNs)
    assert(Layers.reconcile(bds).size == 2)
    // spans are written in duo's span schema
    val line = t.toJsonLines(0L).next()
    Seq("\"id\"", "\"parent_id\"", "\"trace_id\"", "\"name\"", "\"process_id\"",
      "\"start\"", "\"end\"", "\"tags\"").foreach(k => assert(line.contains(k)))
  }

  test("a disabled tracer records nothing and runs the body") {
    val t = new Tracer(enabled = false)
    assert(t.span("route.x")(41 + 1) == 42)
    assert(t.spans.isEmpty && t.lastRootId == 0L)
  }

  test("the record is one JSON object with the four keys") {
    val r = Record.json(correct = true, attempted = 3, failed = 0,
      Seq(Main.Metric("setup_s", 1.25, "s"), Main.Metric("x", Double.NaN, "ms")))
    val j = org.json4s.jackson.JsonMethods.parse(r)
    import org.json4s._
    assert((j \ "correct") == JBool(true))
    assert((j \ "metrics" \ "setup_s" \ "unit") == JString("s"))
    assert(!r.contains("\n"))
  }
}

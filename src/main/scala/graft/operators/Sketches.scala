package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFns.tokens

/** Mergeable sketch aggregates — the cardinality/frequency toolkit a
  * 100 TB corpus census actually runs on, where exact distinct counts
  * and exact heavy-hitter tables would shuffle the full key set:
  *
  *   - [[hllGate]]: HyperLogLog distinct-count registers (Flajolet et
  *     al., AofA'07) — p=9, 512 registers, both the raw harmonic-mean
  *     estimator and the small-range linear-counting correction.
  *   - [[cmsHeavyHitters]]: count-min sketch frequency estimates
  *     (Cormode & Muthukrishnan, J.Alg'05) — depth 4 × width 1024,
  *     probed at the corpus' exact top-K tokens so the gate pins the
  *     one-sided overestimate guarantee.
  *   - [[kmvSourceOverlap]]: K-minimum-values distinct sketches
  *     (Bar-Yossef et al., RANDOM'02; Beyer et al., SIGMOD'07) per
  *     corpus source, pairwise-merged for union-cardinality and
  *     Jaccard-overlap estimates between sources.
  *
  * Everything is DETERMINISTIC — hashes are md5-derived exactly like
  * the dedup family's (same `conv(substring(md5(..),1,15),16,10)`
  * 60-bit decode), register folds are max/min/count over integers, and
  * the only floating-point steps are the final estimator divisions —
  * so the DuckDB oracle replays every sketch bit-for-bit. That is the
  * design point: a sketch whose value depends on partitioning or
  * arrival order can't be oracle-gated, and can't be trusted to merge
  * across 1000 executors either. All three sketches merge by
  * associative folds (register max, cell sum, bottom-K of a union), so
  * the map-side partial aggregation Spark already performs IS the
  * sketch-merge tree a cluster run would use — shuffle volume per
  * group is bounded by the sketch size (512/4096/256 rows), never by
  * the data.
  *
  * The reference has no sketch surface (duo's stats endpoints,
  * duo/src/web/services.rs, return exact group-bys at trace scale);
  * this extends SURVEY §2 the same way the dedup/similarity families
  * do — operators a training-data pipeline needs at a scale the
  * reference never reaches.
  */
object Sketches {

  // ---------------------------------------------------------------- HLL

  /** Register-count exponent: m = 2^9 = 512 registers, standard error
    * 1.04/sqrt(512) ~ 4.6%.
    */
  private val HllP = 9
  private val HllM = 1 << HllP
  /** Fixed-point scale for the harmonic sum: SUM(2^-rho) is summed as
    * the INTEGER SUM(2^(52-rho)) — rho <= 52, so each term fits a long
    * and 512 of them stay under 2^61. Float summation order (which
    * differs between Spark's partial aggregation and DuckDB) never
    * enters the sketch; the one double division happens after.
    */
  private val HllScale = 1L << 52

  /** The raw estimator's whole numerator alpha_m·m²·2^52 folded to ONE
    * double constant in Scala and emitted as its exact round-trip
    * literal into both engines — DuckDB would otherwise run the
    * constant chain in DECIMAL arithmetic and drift at the 1e-9 level.
    */
  private val HllRawNumerator: Double =
    0.7213 / (1.0 + 1.079 / 512.0) * 262144.0 * 4503599627370496.0

  /** 60-bit md5 hash, the dedup family's decode with a per-sketch
    * domain prefix.
    */
  private def h60(c: Column, prefix: String): Column =
    conv(substring(md5(concat(lit(prefix), c.cast("string"))), 1, 15),
      16, 10).cast("long")

  /** HLL register table for `elem` grouped by `group`: top-9 hash bits
    * pick the register, rho = leading-zero rank of the remaining 51
    * bits. `length(ltrim(bin(w),'0'))` is the integer bit-length — both
    * engines agree exactly, where a float log2 could round either way
    * at powers of two. Duplicate elements collapse by construction
    * (same hash → same register/rho under max), which is WHY an HLL
    * union is just a register max — the mergeability the spec pins.
    */
  def hllRegisters(rows: DataFrame, group: Column, elem: Column,
      prefix: String): DataFrame =
    rows.select(group.as("g"), h60(elem, prefix).as("h"))
      .withColumn("bucket", shiftright(col("h"), 60 - HllP))
      .withColumn("w", col("h").bitwiseAND(lit((1L << (60 - HllP)) - 1)))
      .withColumn("rho", when(col("w") === 0, lit(52))
        .otherwise(lit(52) - length(ltrim(bin(col("w")), "0"))))
      .groupBy(col("g"), col("bucket"))
      .agg(max(col("rho")).as("mreg"))

  /** Estimate from a register table: integer-scaled harmonic sum, then
    * the alpha_m-corrected raw estimator, with the standard
    * linear-counting switch when registers are sparse (raw <= 2.5m and
    * zero registers exist). The double math is written as one SQL
    * expression mirrored verbatim in the oracle so both engines
    * execute the identical IEEE op sequence; ln() may differ by an
    * ulp between libms, so estimates are rounded to 6 decimals (the
    * t15/t16 convention).
    */
  def hllEstimate(regs: DataFrame): DataFrame =
    regs.groupBy(col("g"))
      .agg(count(lit(1)).as("n_regs"),
        sum(expr("shiftleft(cast(1 as bigint), cast(52 - mreg as int))"))
          .as("present"))
      .select(col("g"), (lit(HllM.toLong) - col("n_regs")).as("zeros"),
        (col("present") +
          (lit(HllM.toLong) - col("n_regs")) * lit(HllScale))
          .as("sum_scaled"))
      .withColumn("raw",
        lit(HllRawNumerator) / col("sum_scaled").cast("double"))
      .withColumn("hll_est",
        when(col("zeros") > 0 && col("raw") <= lit(2.5 * HllM),
          round(expr("512.0 * ln(512.0 / cast(zeros as double))"), 6))
          .otherwise(round(col("raw"), 6)))
      .drop("raw")

  /** x01 gate: HLL distinct counts per event_type for BOTH user_id
    * (~150 distinct per group at sf0.01 → the linear-counting branch)
    * and event_id (unique per row → the raw harmonic branch), next to
    * the exact distinct count. zeros/sum_scaled pin the full register
    * table with integer columns; hll_est pins the estimator.
    */
  def hllGate(events: DataFrame): DataFrame = {
    def side(elem: Column, tag: String, prefix: String): DataFrame = {
      val est = hllEstimate(hllRegisters(events, col("event_type"), elem,
        prefix)).withColumnRenamed("g", "event_type")
      val exact = events.groupBy(col("event_type"))
        .agg(countDistinct(elem).as("n_exact"))
      est.join(exact, "event_type").withColumn("elem", lit(tag))
    }
    side(col("user_id"), "user", "x01u:")
      .unionAll(side(col("event_id"), "event", "x01e:"))
      .select(col("event_type"), col("elem"), col("n_exact"),
        col("zeros"), col("sum_scaled"), col("hll_est"))
      .orderBy(col("event_type"), col("elem"))
  }

  // ----------------------------------------------------------- count-min

  private val CmsW = 1024
  private val CmsD = 4
  private val CmsTopK = 20

  /** 28-bit md5 hash (7 hex digits) into a CMS cell for row j. */
  private def cmsCell(j: Int, token: Column): Column =
    conv(substring(md5(concat(lit(s"x02:$j:"), token)), 1, 7), 16, 10)
      .cast("long") % CmsW

  /** x02 gate: count-min sketch over the corpus token stream, probed at
    * the exact top-20 tokens (deterministic tie-break on token text).
    * The counter build is ONE token-stream scan — each occurrence
    * explodes into its D (row, cell) pairs map-side and partial
    * aggregation collapses them to at most D·W = 4096 groups before
    * the shuffle, the sketch's whole point at scale. The probe side is
    * a broadcast of D·K = 80 rows. cms_est >= true_cnt always (the
    * one-sided CMS guarantee — a spec property), with equality unless
    * the probe token collides in all D rows.
    */
  def cmsHeavyHitters(docs: DataFrame): DataFrame = {
    val toks = docs.select(explode(tokens(col("text"))).as("token"))
    val truth = toks.groupBy(col("token")).agg(count(lit(1)).as("true_cnt"))
    val probes = truth.orderBy(col("true_cnt").desc, col("token"))
      .limit(CmsTopK)
    def jCells(base: DataFrame): DataFrame = base.select(
      base.columns.toIndexedSeq.map(col) :+
        explode(array((0 until CmsD).map(j =>
          struct(lit(j).as("j"), cmsCell(j, col("token")).as("cell"))): _*))
          .as("jc"): _*)
      .select((base.columns.toIndexedSeq.map(col) :+ col("jc.j").as("j")) :+
        col("jc.cell").as("cell"): _*)
    val counters = jCells(toks).groupBy(col("j"), col("cell"))
      .agg(count(lit(1)).as("c"))
    broadcast(jCells(probes)).join(counters, Seq("j", "cell"))
      .groupBy(col("token"), col("true_cnt"))
      .agg(min(col("c")).as("cms_est"))
      .orderBy(col("token"))
  }

  // ---------------------------------------------------------------- KMV

  private val KmvK = 256

  /** Per-source bottom-K sketch of the distinct-shingle hash set, as
    * ONE aggregation pass: [[graft.functions.BottomKAgg]] — the same
    * imperative aggregate the streamed build (w13) folds micro-batches
    * with — keeps the K smallest DISTINCT hashes per source directly.
    * Its update/merge are associative and commutative, so Spark runs
    * it with map-side partial aggregation: each task's partial buffer
    * is ≤ K longs per source, and the one shuffle this plan contains
    * carries sketch-sized partials (K·sources·tasks longs), never the
    * gram stream. The full-buffer fast path (one compare against the
    * Kth minimum) makes the per-row cost O(1) once a partial fills —
    * on a uniform hash stream all but O(K·ln n) of the n updates take
    * that path.
    *
    * This retires the round-12 three-pass form (occurrence-count
    * threshold → per-class containment stats → pruned two-phase rank
    * window): that design bounded the rank shuffle by PRUNING the
    * stream before a window sort, at the cost of scanning the gram
    * stream three times and a provable-containment guard. The
    * imperative aggregate gets the same bound from the aggregation
    * buffer itself — the insight w13 already pinned ("KMV's state
    * bound comes from the AGGREGATE") applies to the batch build too:
    * one scan, no threshold, no salt classes, no window, and the
    * 100 TB story improves (a skewed source no longer funnels its
    * pruned ~16k rows through one sort task; partials merge
    * tree-wise in the hash aggregate).
    */
  def kmvSketches(docs: DataFrame): DataFrame = {
    // the gram_hashes codegen kernel hashes every 3-gram straight off
    // the token array (no shingle-string materialization, one md5 each
    // in a primitive loop) — bit-identical to the SQL
    // conv(substring(md5(g),1,15),16,10) decode the oracle replays, so
    // the sketch is unchanged; duplicate grams collapse in BottomKAgg's
    // distinct insert exactly like duplicate shingles did in the old
    // dense_rank fold
    graft.functions.VectorExprs.register(docs.sparkSession)
    docs
      .select(col("source"),
        explode(call_function("gram_hashes", tokens(col("text")), lit(3)))
          .as("h"))
      .groupBy(col("source"))
      .agg(call_function("bottom_k_agg", col("h"), lit(KmvK)).as("sk"))
      .select(col("source"), explode(col("sk")).as("h"))
  }

  /** x03 gate: pairwise source overlap from the KMV sketches alone.
    * For each source pair the union sketch is the bottom-K of the two
    * sketches' union; theta (the Kth smallest hash) gives the union
    * cardinality estimate (K-1)·2^60/theta, and the shared fraction
    * inside the union's bottom-K estimates Jaccard (reported in exact
    * integer ppm). When the union holds fewer than K hashes the sketch
    * IS the set and the estimate is exact — the small-pair branch.
    * Sketch rows per pair are bounded by 2K regardless of corpus size:
    * the pairwise stage costs O(sources² · K), never a corpus shuffle.
    */
  def kmvSourceOverlap(docs: DataFrame): DataFrame = {
    val sk = kmvSketches(docs)
    val srcs = sk.select(col("source")).distinct()
    val pairs = srcs.select(col("source").as("sa"))
      .crossJoin(srcs.select(col("source").as("sb")))
      .filter(col("sa") < col("sb"))
    val perHash = broadcast(pairs)
      .join(sk, col("source") === col("sa") || col("source") === col("sb"))
      .groupBy(col("sa"), col("sb"), col("h"))
      .agg(count(lit(1)).as("n_sides"))
    perHash.withColumn("rn", row_number().over(
        Window.partitionBy(col("sa"), col("sb")).orderBy(col("h"))))
      .filter(col("rn") <= KmvK)
      .groupBy(col("sa"), col("sb"))
      .agg(count(lit(1)).as("k_used"), max(col("h")).as("theta"),
        sum(when(col("n_sides") === 2, 1L).otherwise(0L)).as("shared_topk"))
      .select(col("sa").as("source_a"), col("sb").as("source_b"),
        col("k_used"), col("theta"), col("shared_topk"),
        when(col("k_used") < KmvK, col("k_used").cast("double"))
          .otherwise(round(
            expr("255.0 * 1152921504606846976.0 / cast(theta as double)"),
            6)).as("union_est"),
        expr("shared_topk * 1000000 div k_used").as("jacc_ppm"))
      .orderBy(col("source_a"), col("source_b"))
  }

  // ------------------------------------------------- log2-histogram quantiles

  private val QProbes = Seq(50, 95, 99)

  /** x04: mergeable quantile sketch as a log2 histogram over integer
    * cents — bucket = bit-length of round(value·100), the same
    * integer `length(ltrim(bin(x),'0'))` trick as HLL's rho, so the
    * sketch is EXACTLY reproducible anywhere (a float-log bucketing
    * like DDSketch's can round either way at boundaries). Buckets
    * merge by count addition; quantiles come from the cumulative
    * histogram with all-integer linear interpolation inside the hit
    * bucket — rank k = ceil(q·n/100) via (q·n+99) div 100,
    * estimate = 2^(b-1) + (k−cum_prev)·2^(b-1) div cnt cents.
    * Relative error is bounded by the bucket width (≤2×, much tighter
    * interpolated
    * — the accuracy spec measures it). The histogram is at most ~50
    * rows per group regardless of data size; the quantile extraction
    * windows over THAT table, never the corpus.
    */
  def logHistQuantiles(events: DataFrame): DataFrame =
    quantilesFromHist(histBuckets(events))

  /** x04's histogram build alone — the additive, mergeable half: one
    * partial-aggregated groupBy collapsing (event_type, value) rows to
    * ≤ ~50 bucket-count cells per type. Factored out so the streamed
    * w12 gate maintains THIS as complete-mode state and the batch x04
    * path stays `quantilesFromHist(histBuckets(ev))` — one build, two
    * execution modes.
    */
  def histBuckets(events: DataFrame): DataFrame = {
    val cents = round(col("value") * 100).cast("long")
    events
      .select(col("event_type"),
        when(cents <= 0, lit(0))
          .otherwise(length(ltrim(bin(cents), "0"))).cast("int").as("bucket"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** x04's quantile extraction over an already-built histogram table —
    * windows over the ≤ ~50-rows-per-group sketch, never the corpus.
    */
  def quantilesFromHist(hist: DataFrame): DataFrame = {
    val cum = hist.withColumn("cum", sum(col("cnt")).over(
      Window.partitionBy(col("event_type")).orderBy(col("bucket"))))
    val probes = hist.groupBy(col("event_type")).agg(sum(col("cnt")).as("n"))
      .select(col("event_type"), col("n"),
        explode(array(QProbes.map(lit(_)): _*)).as("q"))
      .withColumn("k", expr("(q * n + 99) div 100"))
    probes.join(cum, "event_type")
      .filter(col("cum") >= col("k") && col("cum") - col("cnt") < col("k"))
      .withColumn("est_cents", when(col("bucket") === 0, lit(0L)).otherwise(
        expr("shiftleft(cast(1 as bigint), bucket - 1) + " +
          "((k - (cum - cnt)) * shiftleft(cast(1 as bigint), bucket - 1))" +
          " div cnt")))
      .select(col("event_type"), col("q"), col("n"), col("bucket"),
        (col("est_cents").cast("double") / 100.0).as("est"))
      .orderBy(col("event_type"), col("q"))
  }

  // ----------------------------------------- partition-sketch rollup

  val RollupLoDay = "2024-01-05"
  val RollupHiDay = "2024-01-15"

  /** x05: incremental sketch-view maintenance — the pattern that makes
    * distinct-count dashboards feasible at 100 TB. A deployment
    * PERSISTS one small register table per storage partition (here:
    * per event day, mirroring the reference's date=/hour= layout,
    * duo/src/partition/writer.rs:22-30), maintained incrementally as
    * partitions land; a query over any date range then prunes to the
    * in-range partition sketches and max-merges registers — never
    * rescanning the raw data. This gate runs both halves: builds the
    * per-(event_type, day) partition sketch table, prunes it to
    * [[RollupLoDay]]..[[RollupHiDay]], merges, and estimates.
    *
    * Correctness of the merge IS HLL mergeability: max over
    * per-partition register maxima equals the registers of the
    * directly-filtered scan, so the oracle replays the direct form and
    * the spec asserts rolled ≡ direct inside Spark too.
    *
    * Scale shape: the partition sketch build is one partial-aggregated
    * groupBy (shuffle rows ≤ partitions × 512 registers); the
    * query-time rollup touches only the pruned sketch rows — constant
    * work per partition regardless of raw row counts.
    */
  /** The per-day partition column — integer ns→µs division (`div`,
    * not `/`): long/long `/` is double division, which loses precision
    * above 2^53 — epoch-ns is ~1.7e18, so an event within ~128ns of a
    * day boundary could otherwise land in the wrong partition sketch
    * while the oracle's exact epoch_ns(ts)//1000 keeps it (the
    * q23/q27 convention).
    */
  private def rollupDay: Column =
    to_date(timestamp_micros(graft.util.Cols.nsToUs("ts")))

  /** The persisted partition-sketch table's build: per-(event_type,
    * day) HLL register PARTIALS over a slice of events. Registers
    * merge by max, so PARTIAL tables from different slices (batch
    * appends, streamed flushes — w14's path) need no upsert: append
    * them all and let [[rollupQuery]]'s max fold them — the
    * incremental-view-maintenance trick mergeability buys.
    */
  def rollupSketchTable(events: DataFrame): DataFrame =
    hllRegisters(events.withColumn("day", rollupDay),
      struct(col("event_type").as("event_type"), col("day").as("day")),
      col("user_id"), "x05:")
      .select(col("g.event_type").as("event_type"), col("g.day").as("day"),
        col("bucket"), col("mreg"))

  /** The query half: prune the sketch table to a day range, max-merge
    * registers (duplicate/partial rows fold correctly by the same
    * max), estimate, and join the exact count from the raw events for
    * the gate's accuracy pin.
    */
  def rollupQuery(parts: DataFrame, events: DataFrame, lo: String,
      hi: String): DataFrame = {
    val pruned = parts.filter(col("day").between(lit(lo), lit(hi)))
    val merged = pruned
      .groupBy(col("event_type").as("g"), col("bucket"))
      .agg(max(col("mreg")).as("mreg"))
    val nDays = pruned.select(col("event_type"), col("day")).distinct()
      .groupBy(col("event_type")).agg(count(lit(1)).as("n_days"))
    val exact = events.filter(rollupDay.between(lit(lo), lit(hi)))
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
    hllEstimate(merged).withColumnRenamed("g", "event_type")
      .join(nDays, "event_type").join(exact, "event_type")
      .select(col("event_type"), col("n_days"), col("n_exact"),
        col("zeros"), col("sum_scaled"), col("hll_est"))
      .orderBy(col("event_type"))
  }

  def hllPartitionRollup(events: DataFrame, lo: String = RollupLoDay,
      hi: String = RollupHiDay): DataFrame =
    rollupQuery(rollupSketchTable(events), events, lo, hi)

  // ------------------------------------------------------ streamed HLL

  /** w08: the HLL register build maintained as a REAL streaming
    * aggregation — the production shape of a sketch (registers folded
    * incrementally as data arrives, queried any time). The events
    * feed arrives as two parquet micro-batches through the
    * distributed file-source harness, the register max-fold runs in
    * complete mode (the register table is the bounded state), and the
    * estimate extracted from the landed registers must equal the
    * batch x01 user-branch EXACTLY — streaming-vs-batch equality IS
    * the mergeability theorem, now across micro-batch boundaries
    * instead of partitions. Oracle: the x01 pipeline restricted to
    * the user element.
    */
  def hllStreamGate(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("event_type"), col("user_id"))
    val regs = graft.util.StreamGate.runParquetMem(s, "w08_hll_stream",
      Seq(ev.filter(col("user_id") % 2 === 0),
        ev.filter(col("user_id") % 2 =!= 0)),
      "complete",
      df => hllRegisters(df, col("event_type"), col("user_id"), "x01u:"),
      statePartitions = Some(8),
      feedKey = Some(s"w08|$d"))
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
    hllEstimate(regs).withColumnRenamed("g", "event_type")
      .join(exact, "event_type")
      .select(col("event_type"), col("n_exact"), col("zeros"),
        col("sum_scaled"), col("hll_est"))
      .orderBy(col("event_type"))
  }

  // ------------------------------------------------------ streamed CMS

  /** w10: the count-min counter build maintained as a REAL streaming
    * aggregation — w08's complete-mode pattern applied to the
    * frequency sketch (HLL folds by register max, CMS by cell SUM; the
    * two streamed gates pin both fold shapes). The documents feed
    * arrives as two parquet micro-batches, each occurrence explodes
    * into its D (row, cell) pairs map-side, and the landed counter
    * table — the sketch's whole state, ≤ D·W = 4096 rows — must equal
    * the batch build cell-for-cell: streaming-vs-batch equality is
    * CMS mergeability (cell-wise addition) across micro-batch
    * boundaries. The gate hashes the ENTIRE counter table, a stronger
    * pin than x02's top-K probes.
    */
  def cmsStreamGate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    graft.util.StreamGate.runParquetMem(s, "w10_cms_stream",
      Seq(docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 =!= 0)),
      "complete",
      df => df
        .select(explode(tokens(col("text"))).as("token"))
        .select(col("token"), explode(array((0 until CmsD).map(j =>
          struct(lit(j).as("j"), cmsCell(j, col("token")).as("cell"))): _*))
          .as("jc"))
        .groupBy(col("jc.j").as("j"), col("jc.cell").as("cell"))
        .agg(count(lit(1)).as("c")),
      statePartitions = Some(8),
      feedKey = Some(s"w10|$d"))
      .orderBy(col("j"), col("cell"))
  }

  // ----------------------------------------------- streamed histogram

  /** w12: the log₂-histogram quantile sketch maintained as a REAL
    * streaming aggregation — the additive third fold shape after
    * w08's register MAX and w10's cell SUM (bucket counts add across
    * micro-batches; together the three gates pin every merge algebra
    * the sketch family uses). The events feed arrives as two parquet
    * micro-batches through the distributed file-source harness, the
    * [[histBuckets]] build runs in complete mode (the ≤ ~50-cells-
    * per-type histogram is the bounded state), and the landed
    * histogram must equal the batch x04 build CELL-FOR-CELL — w10's
    * stronger pin, which implies quantile equality since extraction
    * is a deterministic function of the cells (SketchesSpec runs
    * [[quantilesFromHist]] over the landed state and asserts it
    * against batch x04 too). Oracle: x04's histogram CTEs.
    */
  def histStreamGate(s: SparkSession, d: String): DataFrame =
    histStreamRun(s, Tables.events(s, d), Some(s"w12|$d"))

  private[graft] def histStreamRun(s: SparkSession,
      events: DataFrame, feedKey: Option[String] = None): DataFrame = {
    val ev = events.select(col("event_id"), col("event_type"), col("value"))
    def half(r: Int) = ev.filter(col("event_id") % 2 === r)
      .select(col("event_type"), col("value"))
    graft.util.StreamGate.runParquetMem(s, "w12_hist_stream",
      Seq(half(0), half(1)),
      "complete",
      df => histBuckets(df),
      statePartitions = Some(8),
      feedKey = feedKey)
      .orderBy(col("event_type"), col("bucket"))
  }

  // ----------------------------------------------------- streamed KMV

  /** w13: the KMV bottom-K sketch maintained as a REAL streaming
    * aggregation — the FOURTH (and last) merge algebra in the sketch
    * family streamed: w08 folds registers by MAX, w10 counters by SUM,
    * w12 buckets by ADDITION — all value-domain-bounded state; KMV
    * folds by ORDER STATISTICS (union, keep the K minima), whose
    * bound comes from the aggregate itself, so no composition of
    * built-in streaming folds keeps its state bounded. The custom
    * [[graft.functions.BottomKAgg]] imperative aggregate carries a
    * ≤ K-long sorted buffer per source through the state store; the
    * documents feed arrives as two parquet micro-batches, and the
    * landed per-source sketch must equal the batch [[kmvSketches]]
    * build HASH-FOR-HASH (the oracle replays the same distinct
    * gram-hash bottom-K directly). The gate explodes the landed
    * sketch arrays AFTER the stream (scalar-only rows for the
    * comparator, t12's discipline).
    */
  def kmvStreamGate(s: SparkSession, d: String): DataFrame =
    kmvStreamRun(s, Tables.documents(s, d), Some(s"w13|$d"))

  private[graft] def kmvStreamRun(s: SparkSession,
      documents: DataFrame, feedKey: Option[String] = None): DataFrame = {
    graft.functions.VectorExprs.register(s)
    val docs = documents
      .select(col("doc_id"), col("source"), col("text"))
    def half(r: Int) = docs.filter(col("doc_id") % 2 === r)
      .select(col("source"), col("text"))
    graft.util.StreamGate.runParquetMem(s, "w13_kmv_stream",
      Seq(half(0), half(1)),
      "complete",
      df => df
        .select(col("source"),
          explode(call_function("gram_hashes", tokens(col("text")), lit(3)))
            .as("h"))
        .groupBy(col("source"))
        .agg(call_function("bottom_k_agg", col("h"), lit(KmvK)).as("sk")),
      statePartitions = Some(8),
      feedKey = feedKey)
      .select(col("source"), explode(col("sk")).as("h"))
      .orderBy(col("source"), col("h"))
  }

  // ------------------------------------- streamed sketch-view upkeep

  /** w14: the PERSISTED partition-sketch view maintained by a stream —
    * x05's dashboard pattern run end-to-end the way a deployment
    * actually runs it. The events feed arrives as two parquet
    * micro-batches; each flush computes its per-(event_type, day)
    * register PARTIALS (one batch-local partial aggregation, O(sketch)
    * rows) and APPENDS them to a persisted register table — no
    * streaming state at all: the sketch store itself is the state,
    * and HLL mergeability (register max) makes appended partials
    * exactly as good as an upsert, so the flush path is append-only
    * and crash-trivial. The query half then prunes the LANDED store
    * to the date range, max-merges, and estimates — and must equal
    * the batch x05 gate EXACTLY (same oracle). This composes with
    * w08 from the other side: w08 streams the register FOLD through
    * the state store; w14 streams the partials into a PERSISTED view
    * and lets the query-time merge fold them — the two halves of
    * incremental sketch-view maintenance.
    */
  def rollupStreamGate(s: SparkSession, d: String): DataFrame =
    rollupStreamRun(s, Tables.events(s, d), Some(s"w14|$d"))

  private[graft] def rollupStreamRun(s: SparkSession,
      events: DataFrame, feedKey: Option[String] = None): DataFrame = {
    val ev = events
      .select(col("event_id"), col("event_type"), col("user_id"), col("ts"))
    def half(r: Int) = ev.filter(col("event_id") % 2 === r)
      .select(col("event_type"), col("user_id"), col("ts"))
    val store = java.nio.file.Files
      .createTempDirectory("w14_sketch_store").toString
    graft.util.StreamGate.runParquetForeach(s, "w14_rollup_stream",
      Seq(half(0), half(1)),
      df => df,
      batch => rollupSketchTable(batch)
        .write.mode("append").parquet(store),
      feedKey = feedKey)
    rollupQuery(s.read.parquet(store),
      ev.select(col("event_type"), col("user_id"), col("ts")),
      RollupLoDay, RollupHiDay)
  }

  // ------------------------------------------------------------- gating

  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    "x01_hll_distinct" -> ((s, d) => hllGate(Tables.events(s, d))),
    "x02_cms_heavy_hitters" -> ((s, d) =>
      cmsHeavyHitters(Tables.documents(s, d))),
    "x03_kmv_overlap" -> ((s, d) =>
      kmvSourceOverlap(Tables.documents(s, d))),
    "x04_hist_quantiles" -> ((s, d) =>
      logHistQuantiles(Tables.events(s, d))),
    "x05_sketch_rollup" -> ((s, d) =>
      hllPartitionRollup(Tables.events(s, d))),
    "w08_hll_stream" -> (hllStreamGate _),
    "w10_cms_stream" -> (cmsStreamGate _),
    "w12_hist_stream" -> (histStreamGate _),
    "w13_kmv_stream" -> (kmvStreamGate _),
    "w14_rollup_stream" -> (rollupStreamGate _))

  /** DuckDB replays of the sketch pipelines — same md5 decodes (via
    * `Dedup.hexValSql`'s char arithmetic), same integer folds, same
    * final double expressions verbatim.
    */
  val oracle: Map[String, String] = {
    def baseSql(v: String, digits: Int): String =
      (0 until digits).map { j =>
        s"CAST(${Dedup.hexValSql(s"substr(md5($v), ${j + 1}, 1)")} " +
          s"AS BIGINT) * ${1L << (4 * (digits - 1 - j))}"
      }.mkString("CAST((", " + ", ") AS BIGINT)")
    def b60(v: String) = baseSql(v, 15)
    def b28(v: String) = baseSql(v, 7)
    val wMask = (1L << (60 - HllP)) - 1
    // w08's oracle: the x01 register/estimator chain over the user
    // element alone — the streamed registers must equal the batch ones
    val w08Sql: String =
      s"""WITH h AS (SELECT event_type,
         |  ${b60("'x01u:' || CAST(user_id AS VARCHAR)")} AS h60
         | FROM events),
         |b AS (SELECT event_type, h60 // ${wMask + 1} AS bucket,
         |  h60 % ${wMask + 1} AS w FROM h),
         |r AS (SELECT event_type, bucket,
         |  CASE WHEN w = 0 THEN 52
         |       ELSE 52 - length(ltrim(bin(w), '0')) END AS rho FROM b),
         |regs AS (SELECT event_type, bucket, MAX(rho) AS mreg
         | FROM r GROUP BY 1, 2),
         |agg AS (SELECT event_type,
         |  COUNT(*) AS n_regs,
         |  CAST(SUM(1::BIGINT << CAST(52 - mreg AS INT)) AS BIGINT)
         |    AS present
         | FROM regs GROUP BY 1),
         |sc AS (SELECT event_type,
         |  CAST($HllM - n_regs AS BIGINT) AS zeros,
         |  present + ($HllM - n_regs) * (1::BIGINT << 52) AS sum_scaled
         | FROM agg),
         |rw AS (SELECT *,
         |  $HllRawNumerator / CAST(sum_scaled AS DOUBLE) AS raw
         | FROM sc),
         |ex AS (SELECT event_type, COUNT(DISTINCT user_id) AS n_exact
         | FROM events GROUP BY 1)
         |SELECT r.event_type, ex.n_exact, r.zeros, r.sum_scaled,
         | CASE WHEN r.zeros > 0 AND r.raw <= ${2.5 * HllM}
         |      THEN ROUND(512.0 * ln(512.0 / CAST(r.zeros AS DOUBLE)), 6)
         |      ELSE ROUND(r.raw, 6) END AS hll_est
         |FROM rw r JOIN ex ON r.event_type = ex.event_type
         |ORDER BY r.event_type""".stripMargin
    // x05's oracle is deliberately the DIRECT form (filter the raw
    // rows, then one register build): equality against the rolled-up
    // partition sketches is exactly HLL mergeability over the
    // partition dimension
    val x05Sql: String = {
      val dayExpr = "CAST(make_timestamp(epoch_ns(ts)//1000) AS DATE)"
      s"""WITH ev AS (SELECT event_type, user_id, day FROM
         |  (SELECT event_type, user_id, $dayExpr AS day FROM events)
         | WHERE day BETWEEN DATE '$RollupLoDay' AND DATE '$RollupHiDay'),
         |nd AS (SELECT event_type, CAST(COUNT(DISTINCT day) AS BIGINT)
         |  AS n_days FROM ev GROUP BY 1),
         |h AS (SELECT event_type,
         |  ${b60("'x05:' || CAST(user_id AS VARCHAR)")} AS h60 FROM ev),
         |b AS (SELECT event_type, h60 // ${wMask + 1} AS bucket,
         |  h60 % ${wMask + 1} AS w FROM h),
         |r AS (SELECT event_type, bucket,
         |  CASE WHEN w = 0 THEN 52
         |       ELSE 52 - length(ltrim(bin(w), '0')) END AS rho FROM b),
         |regs AS (SELECT event_type, bucket, MAX(rho) AS mreg
         | FROM r GROUP BY 1, 2),
         |agg AS (SELECT event_type,
         |  COUNT(*) AS n_regs,
         |  CAST(SUM(1::BIGINT << CAST(52 - mreg AS INT)) AS BIGINT)
         |    AS present
         | FROM regs GROUP BY 1),
         |sc AS (SELECT event_type,
         |  CAST($HllM - n_regs AS BIGINT) AS zeros,
         |  present + ($HllM - n_regs) * (1::BIGINT << 52) AS sum_scaled
         | FROM agg),
         |rw AS (SELECT *,
         |  $HllRawNumerator / CAST(sum_scaled AS DOUBLE) AS raw
         | FROM sc),
         |ex AS (SELECT event_type, COUNT(DISTINCT user_id) AS n_exact
         | FROM ev GROUP BY 1)
         |SELECT r.event_type, nd.n_days, ex.n_exact, r.zeros, r.sum_scaled,
         | CASE WHEN r.zeros > 0 AND r.raw <= ${2.5 * HllM}
         |      THEN ROUND(512.0 * ln(512.0 / CAST(r.zeros AS DOUBLE)), 6)
         |      ELSE ROUND(r.raw, 6) END AS hll_est
         |FROM rw r JOIN ex ON r.event_type = ex.event_type
         |JOIN nd ON r.event_type = nd.event_type
         |ORDER BY r.event_type""".stripMargin
    }
    Map(
      "w08_hll_stream" -> w08Sql,
      "x05_sketch_rollup" -> x05Sql,
      // streamed-view maintenance lands register PARTIALS whose max-
      // merge equals the direct build, so the oracle IS x05's replay
      "w14_rollup_stream" -> x05Sql,
      // w10's oracle: x02's counter-build CTE alone — the streamed
      // counter table must equal the batch build cell-for-cell
      "w10_cms_stream" -> {
        val cell = (tok: String, j: String) =>
          s"${b28(s"'x02:' || CAST($j AS VARCHAR) || ':' || $tok")} % $CmsW"
        s"""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS token
           | FROM documents),
           |js AS (SELECT unnest(range(0, $CmsD)) AS j),
           |cells AS (SELECT j, ${cell("token", "j")} AS cell
           | FROM toks CROSS JOIN js)
           |SELECT CAST(j AS INT) AS j, cell, COUNT(*) AS c FROM cells
           |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
      },
      "w12_hist_stream" ->
        s"""WITH c AS (SELECT event_type,
           |  CAST(ROUND(value * 100, 0) AS BIGINT) AS cents FROM events),
           |hb AS (SELECT event_type, CASE WHEN cents <= 0 THEN 0
           |  ELSE length(ltrim(bin(cents), '0')) END AS bucket FROM c)
           |SELECT event_type, CAST(bucket AS INT) AS bucket,
           |  COUNT(*) AS cnt
           |FROM hb GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      "x04_hist_quantiles" ->
        s"""WITH c AS (SELECT event_type,
           |  CAST(ROUND(value * 100, 0) AS BIGINT) AS cents FROM events),
           |hb AS (SELECT event_type, CASE WHEN cents <= 0 THEN 0
           |  ELSE length(ltrim(bin(cents), '0')) END AS bucket FROM c),
           |hist AS (SELECT event_type, bucket, COUNT(*) AS cnt FROM hb
           | GROUP BY 1, 2),
           |cum AS (SELECT *, CAST(SUM(cnt) OVER (PARTITION BY event_type
           |  ORDER BY bucket) AS BIGINT) AS cum FROM hist),
           |tot AS (SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS n
           | FROM hist GROUP BY 1),
           |probes AS (SELECT event_type, n, q, (q * n + 99) // 100 AS k
           | FROM tot CROSS JOIN (SELECT unnest([${QProbes.mkString(", ")}])
           |   AS q))
           |SELECT p.event_type, p.q, p.n, CAST(c.bucket AS INT) AS bucket,
           | CAST(CASE WHEN c.bucket = 0 THEN 0
           |  ELSE (1::BIGINT << (c.bucket - 1)) +
           |    ((p.k - (c.cum - c.cnt)) * (1::BIGINT << (c.bucket - 1)))
           |      // c.cnt END AS DOUBLE) / 100.0 AS est
           |FROM probes p JOIN cum c ON p.event_type = c.event_type
           |WHERE c.cum >= p.k AND c.cum - c.cnt < p.k
           |ORDER BY p.event_type, p.q""".stripMargin,
      "x01_hll_distinct" ->
        s"""WITH ue AS (
           | SELECT event_type, 'user' AS elem,
           |   'x01u:' || CAST(user_id AS VARCHAR) AS v FROM events
           | UNION ALL
           | SELECT event_type, 'event', 'x01e:' || CAST(event_id AS VARCHAR)
           | FROM events),
           |h AS (SELECT event_type, elem, ${b60("v")} AS h60 FROM ue),
           |b AS (SELECT event_type, elem, h60 // ${wMask + 1} AS bucket,
           |  h60 % ${wMask + 1} AS w FROM h),
           |r AS (SELECT event_type, elem, bucket,
           |  CASE WHEN w = 0 THEN 52
           |       ELSE 52 - length(ltrim(bin(w), '0')) END AS rho FROM b),
           |regs AS (SELECT event_type, elem, bucket, MAX(rho) AS mreg
           | FROM r GROUP BY 1, 2, 3),
           |agg AS (SELECT event_type, elem,
           |  COUNT(*) AS n_regs,
           |  CAST(SUM(1::BIGINT << CAST(52 - mreg AS INT)) AS BIGINT)
           |    AS present
           | FROM regs GROUP BY 1, 2),
           |sc AS (SELECT event_type, elem,
           |  CAST($HllM - n_regs AS BIGINT) AS zeros,
           |  present + ($HllM - n_regs) * (1::BIGINT << 52) AS sum_scaled
           | FROM agg),
           |rw AS (SELECT *,
           |  $HllRawNumerator / CAST(sum_scaled AS DOUBLE) AS raw
           | FROM sc),
           |ex AS (
           | SELECT event_type, 'user' AS elem,
           |   COUNT(DISTINCT user_id) AS n_exact FROM events GROUP BY 1
           | UNION ALL
           | SELECT event_type, 'event', COUNT(DISTINCT event_id)
           | FROM events GROUP BY 1)
           |SELECT r.event_type, r.elem, ex.n_exact, r.zeros, r.sum_scaled,
           | CASE WHEN r.zeros > 0 AND r.raw <= ${2.5 * HllM}
           |      THEN ROUND(512.0 * ln(512.0 / CAST(r.zeros AS DOUBLE)), 6)
           |      ELSE ROUND(r.raw, 6) END AS hll_est
           |FROM rw r JOIN ex
           |  ON r.event_type = ex.event_type AND r.elem = ex.elem
           |ORDER BY r.event_type, r.elem""".stripMargin,
      "x02_cms_heavy_hitters" -> {
        val cell = (tok: String, j: String) =>
          s"${b28(s"'x02:' || CAST($j AS VARCHAR) || ':' || $tok")} % $CmsW"
        s"""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS token
           | FROM documents),
           |truth AS (SELECT token, COUNT(*) AS true_cnt FROM toks
           | GROUP BY 1),
           |probes AS (SELECT token, true_cnt FROM truth
           | ORDER BY true_cnt DESC, token LIMIT $CmsTopK),
           |js AS (SELECT unnest(range(0, $CmsD)) AS j),
           |cells AS (SELECT j, ${cell("token", "j")} AS cell
           | FROM toks CROSS JOIN js),
           |counters AS (SELECT j, cell, COUNT(*) AS c FROM cells
           | GROUP BY 1, 2),
           |pc AS (SELECT token, true_cnt, j, ${cell("token", "j")} AS cell
           | FROM probes CROSS JOIN js)
           |SELECT token, true_cnt, MIN(c) AS cms_est
           |FROM pc JOIN counters USING (j, cell)
           |GROUP BY 1, 2 ORDER BY token""".stripMargin
      },
      "w13_kmv_stream" ->
        s"""WITH toks AS (SELECT source, string_split(text, ' ') AS t
           | FROM documents),
           |shl AS (SELECT source, CASE WHEN len(t) >= 3
           |  THEN list_distinct([t[i]||' '||t[i+1]||' '||t[i+2]
           |                      for i in range(1, len(t)-1)])
           |  ELSE [] END AS shl FROM toks),
           |sg AS (SELECT source, unnest(shl) AS g FROM shl),
           |h AS (SELECT DISTINCT source, ${b60("g")} AS h FROM sg)
           |SELECT source, h FROM h
           |QUALIFY row_number() OVER (PARTITION BY source ORDER BY h)
           |  <= $KmvK
           |ORDER BY source, h""".stripMargin,
      "x03_kmv_overlap" ->
        s"""WITH toks AS (SELECT source, string_split(text, ' ') AS t
           | FROM documents),
           |shl AS (SELECT source, CASE WHEN len(t) >= 3
           |  THEN list_distinct([t[i]||' '||t[i+1]||' '||t[i+2]
           |                      for i in range(1, len(t)-1)])
           |  ELSE [] END AS shl FROM toks),
           |sg AS (SELECT source, unnest(shl) AS g FROM shl),
           |h AS (SELECT DISTINCT source, ${b60("g")} AS h FROM sg),
           |sk AS (SELECT source, h FROM h
           | QUALIFY row_number() OVER (PARTITION BY source ORDER BY h)
           |   <= $KmvK),
           |srcs AS (SELECT DISTINCT source FROM sk),
           |pairs AS (SELECT a.source AS sa, b.source AS sb
           | FROM srcs a JOIN srcs b ON a.source < b.source),
           |u AS (SELECT sa, sb, h, COUNT(*) AS n_sides
           | FROM pairs JOIN sk ON sk.source = sa OR sk.source = sb
           | GROUP BY 1, 2, 3),
           |r AS (SELECT * FROM u
           | QUALIFY row_number() OVER (PARTITION BY sa, sb ORDER BY h)
           |   <= $KmvK)
           |SELECT sa AS source_a, sb AS source_b,
           | COUNT(*) AS k_used, MAX(h) AS theta,
           | CAST(SUM(CASE WHEN n_sides = 2 THEN 1 ELSE 0 END) AS BIGINT)
           |   AS shared_topk,
           | CASE WHEN COUNT(*) < $KmvK THEN CAST(COUNT(*) AS DOUBLE)
           |      ELSE ROUND(255.0 * 1152921504606846976.0 /
           |                 CAST(MAX(h) AS DOUBLE), 6) END AS union_est,
           | (CAST(SUM(CASE WHEN n_sides = 2 THEN 1 ELSE 0 END) AS BIGINT)
           |   * 1000000) // COUNT(*) AS jacc_ppm
           |FROM r GROUP BY sa, sb ORDER BY sa, sb""".stripMargin)
  }
}

package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, TextAnalysis}

/** Empirical scale probe: measures how the bucketed operators' runtime
  * and shuffle volume actually grow when the corpus grows ~10×, turning
  * the Σ bucket² scaling claims in SCALE.md from analysis into
  * measurement.
  *
  * The 10× corpus is synthesized from the sf0.1 fixtures IN PROCESS
  * (nothing written outside /tmp): ten copies of `documents` under
  * shifted ids with every token suffixed `_k` per copy k>0, so each
  * copy reproduces the base corpus's duplicate/df structure in a
  * DISJOINT shingle space — near-dup structure (and therefore pair
  * counts and per-bucket reducer load) scales exactly linearly, which
  * is what a grown real corpus with stable duplication rates looks
  * like. Embeddings get ten copies with a tiny per-copy offset; their
  * LSH bucket COUNT is fixed by nPlanes, so bucket sizes grow 10× and
  * candidate pairs ~100× — the probe exists to show precisely that
  * (the documented mitigation: planes grow ~log n with the corpus).
  *
  * Usage: `runMain graft.ScaleProbe [sfDir] [queryName...]` — prints one
  * JSON line per (query, scale) with seconds, shuffle MB, and result
  * rows; the SCALE.md table is transcribed from this output. Trailing
  * query names restrict the probe (prefix match) for fast iteration on
  * one operator's scaling row.
  */
/** Listing-counting FileSystem for the g12 manifest probe: every
  * `listStatus` through the `probefs://` scheme increments the
  * counter, so the probe reports LIST-call counts — the metric an
  * object store actually rate-limits — not just wall time.
  */
class CountingProbeFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "probefs"
  override def getUri: java.net.URI = java.net.URI.create("probefs:///")
  override def listStatus(f: org.apache.hadoop.fs.Path)
      : Array[org.apache.hadoop.fs.FileStatus] = {
    CountingProbeFs.lists.incrementAndGet(): Unit
    super.listStatus(f)
  }
}
object CountingProbeFs {
  val lists = new java.util.concurrent.atomic.AtomicInteger(0)
}

object ScaleProbe {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val only: Set[String] = args.drop(1).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val shuffleWrite = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        shuffleWrite.addAndGet(
          sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten): Unit
      }
    })

    val docs1 = Tables.documents(spark, sfDir).localCheckpoint(true)
    val embs1 = Tables.embeddings(spark, sfDir).localCheckpoint(true)

    // m disjoint-token-space copies: copy 0 is the original; copy k
    // suffixes every token so shingles/words never collide across
    // copies — the duplicate structure replicates instead of compounding
    def docsN(m: Int): DataFrame = {
      val copies = (0 until m).map { k =>
        val base = docs1.select(
          (col("doc_id") * m + k).as("doc_id"), col("text"),
          col("lang"), col("source"), col("n_chars"))
        if (k == 0) base
        else base.withColumn("text",
          concat_ws(" ", transform(split(col("text"), " "),
            t => concat(t, lit(s"_$k")))))
      }
      copies.reduce(_ unionAll _)
    }
    def embsN(m: Int): DataFrame =
      (0 until m).map { k =>
        embs1.select((col("vec_id") * m + k).as("vec_id"),
          transform(col("embedding"), x => x + lit(k * 1e-4f)).as("embedding"),
          col("label"))
      }.reduce(_ unionAll _)

    // span/log feeds for the big-state streaming gates (w07/w09): m
    // copies under shifted ids — id/parent_id/trace_id shift together
    // so per-trace structure (and therefore merge/join semantics)
    // replicates; null parent_ids stay null (roots stay roots). State
    // keys (span ids) grow exactly m×.
    val (sp1, lg1) = {
      val (sp, lg) = graft.queries.EngineQueries.ordersAsSpans(spark, sfDir)
      (sp.localCheckpoint(true), lg.localCheckpoint(true))
    }
    def spansN(m: Int): DataFrame = (0 until m).map { k =>
      sp1.select((col("id") * m + k).as("id"),
        (col("parent_id") * m + k).as("parent_id"),
        (col("trace_id") * m + k).as("trace_id"),
        col("name"), col("process_id"), col("start"), col("end"),
        col("tags"))
    }.reduce(_ unionAll _)
    def logsN(m: Int): DataFrame = (0 until m).map { k =>
      lg1.select(col("process_id"), col("time"),
        (col("trace_id") * m + k).as("trace_id"),
        (col("span_id") * m + k).as("span_id"), col("level"))
    }.reduce(_ unionAll _)

    // events grow by copy too: ids and users shift per copy (distinct
    // users ×m), event days stay — the partition dimension a real
    // month of m× traffic keeps
    val evs1 = Tables.events(spark, sfDir).localCheckpoint(true)
    def evsN(m: Int): DataFrame = (0 until m).map { k =>
      evs1.select((col("event_id") * m + k).as("event_id"), col("ts"),
        (col("user_id") * m + k).as("user_id"), col("event_type"),
        col("value"), col("props"))
    }.reduce(_ unionAll _)

    // SPARK_GRAFT_SCALE_TIERS picks the tiers (default "1x,10x"; the
    // 100x tier runs a restricted operator set below and wants a
    // bigger driver heap — SPARK_DRIVER_MEM=48g — because the
    // streamed-ingest row holds ~60M-key state in the JVM)
    val tiers = sys.env.getOrElse("SPARK_GRAFT_SCALE_TIERS", "1x,10x")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq

    // streaming state metrics: every StreamingQueryProgress carries
    // per-operator state rows / bytes; the buffer aggregates across a
    // gate's micro-batches (max state footprint + batch count — commit
    // count = batches × statePartitions × stores-per-operator)
    val progresses = new scala.collection.mutable.ArrayBuffer[
      org.apache.spark.sql.streaming.StreamingQueryProgress]
    spark.streams.addListener(
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        override def onQueryStarted(e: org.apache.spark.sql.streaming
          .StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(e: org.apache.spark.sql.streaming
            .StreamingQueryListener.QueryProgressEvent): Unit =
          progresses.synchronized { progresses += e.progress: Unit }
        override def onQueryTerminated(e: org.apache.spark.sql.streaming
          .StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      })

    /** One streaming-gate execution: wall time + the state story the
      * batch `measure` cannot see (max state rows/MB, batch count).
      */
    def measureStream(query: String, scale: String,
        df: => DataFrame): Unit = {
      if (only.nonEmpty && !only.exists(query.startsWith)) return
      progresses.synchronized(progresses.clear())
      val t0 = System.nanoTime()
      val rows = df.count()
      val sec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(2000) // listener events drain asynchronously
      val ps = progresses.synchronized(progresses.toVector)
      val stateRows = (0L +: ps.map(_.stateOperators.map(_.numRowsTotal).sum)).max
      val stateMb = (0L +: ps.map(_.stateOperators.map(_.memoryUsedBytes).sum))
        .max / 1e6
      // micro-batches = progress entries that consumed input: stateless
      // foreachBatch gates (w14) have empty stateOperators, so counting
      // those would record batches:0 for a gate that ran real batches
      val batches = ps.count(_.numInputRows > 0)
      println(f"""{"query":"$query","scale":"$scale","rows":$rows,""" +
        f""""sec":$sec%.2f,"state_rows":$stateRows,""" +
        f""""state_mb":$stateMb%.1f,"batches":$batches}""")
    }

    def measure(query: String, scale: String, df: => DataFrame): Unit = {
      if (only.nonEmpty && !only.exists(query.startsWith)) return
      df.count() // warm: plan analysis + codegen compile outside the clock
      Thread.sleep(1000)
      shuffleWrite.set(0L)
      val t0 = System.nanoTime()
      val rows = df.count()
      val sec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(1000) // listener events drain asynchronously
      val mb = shuffleWrite.get() / 1e6
      println(f"""{"query":"$query","scale":"$scale","rows":$rows,"sec":$sec%.2f,"shuffle_mb":$mb%.1f}""")
    }

    // ---- 100× tier (runs AFTER any 1x/10x tiers below): the
    // operators whose 10× behavior IS the scale argument, one decade
    // further — auto-resolution actually engages its next ⌈log₂⌉
    // steps (d09: 4→11 planes), the one-pass KMV's exchange must stay
    // sketch-bounded, and the whole staged ingest loop carries
    // ~60M-key merge state.
    def run100x(): Unit = {
      val scale = "100x"
      lazy val d100 = docsN(100).localCheckpoint(true)
      lazy val e100 = embsN(100).localCheckpoint(true)
      if (only.isEmpty || only.exists("d09_embedding_lsh_auto".startsWith))
        measure("d09_embedding_lsh_auto", scale,
          Dedup.embeddingPairsLsh(e100, 0.4))
      // m07's 100× row runs on the LINEAR-FAMILY fixture (round 14):
      // the standard fixture has 47 fixed envelope families, so at
      // 100× each family holds ~100× the docs and the TRUE pair set
      // is quadratic — the attempted run filled the disk with real
      // output (a fixture property; kept documented in SCALE.md).
      // Scaling the family space with the corpus (47 × copies) keeps
      // family SIZES at their 1× value, so true pairs grow linearly —
      // a grown real corpus's duplication structure — and the row
      // measures the OPERATOR (Σ bucket² banded-join overhead at the
      // banded-step resolution), not the fixture's output.
      if (only.isEmpty || only.exists("m07_audio_near_dup".startsWith))
        measure("m07_audio_near_dup_linear", scale,
          graft.operators.Multimodal.audioNearDupPairs(spark, d100,
            linearFamilies =
              Some(graft.operators.Multimodal.AudFamilies * 100)))
      // m08's linear decade: fixed 64-bit signature, family space ∝
      // corpus — Σ bucket² must stay ∝ n with zero resolution change
      if (only.isEmpty || only.exists("m08_video_near_dup".startsWith))
        measure("m08_video_near_dup_linear", scale,
          graft.operators.Multimodal.videoNearDupPairs(spark, d100,
            linearFamilies =
              Some(graft.operators.Multimodal.VidFamilies * 100)))
      // m06 completes the linear trilogy: image dHash, same 64-bit
      // no-resolution-change shape as m08
      if (only.isEmpty || only.exists("m06_image_near_dup".startsWith))
        measure("m06_image_near_dup_linear", scale,
          graft.operators.Multimodal.perceptualNearDupPairs(spark, d100,
            linearFamilies =
              Some(graft.operators.Multimodal.PatFamilies * 100)))
      if (only.isEmpty || only.exists("x03_kmv_overlap".startsWith))
        measure("x03_kmv_overlap", scale,
          graft.operators.Sketches.kmvSourceOverlap(d100))
      // g12's third decade (round 16): "one GET plans the table" must
      // hold when the same ~181 minute dirs carry 100× the file bytes
      // — plan_lists stays at the constant handful while the listing
      // baseline stays O(dirs)
      if (only.isEmpty || only.exists("g12_manifest_read".startsWith))
        g12Probe(scale, evsN(100).localCheckpoint(true))
      // t23's third decade (round 16): five epochs of one partial agg
      // each — the shuffle is five 5-value gradient rows at ANY corpus
      // size, so wall time must track the feature scan alone
      if (only.isEmpty || only.exists("t23_lr_train_score".startsWith))
        measure("t23_lr_train_score", scale,
          TextAnalysis.lrQualityScore(d100,
            TextAnalysis.trainQualityLr(d100)))
      // the heaviest corpora in the suite: built and checkpointed at
      // most ONCE, shared by the w11 and qsurf rows
      lazy val sp100 = spansN(100).localCheckpoint(true)
      lazy val lg100 = logsN(100).localCheckpoint(true)
      if (only.isEmpty || only.exists("w11_ingest_loop".startsWith)) {
        // 60M-key merge state exceeds any reasonable JVM heap under
        // the default in-heap HDFS state store (measured: OOM at 48g —
        // the provider holds 2 in-memory versions of a ~30 GB object
        // map). This is the scale point where a deployment flips the
        // state BACKEND, not the heap: RocksDB keeps state off-heap
        // with the same exactly-once checkpoint contract. One conf
        // line — the operator, plan, and oracle semantics are
        // untouched, which is itself the measurement: the ingest loop
        // scales to 100× by configuration, not redesign. Since round
        // 14 the selection is the engine config: StateBackend
        // .forExpectedKeys(60M keys) > HeapKeyCeiling picks RocksDB —
        // the rule encodes the OOM measurement this comment records —
        // and the pick rides the gate harness's scoped stream conf
        // instead of a hand-set session string.
        measureStream("w11_ingest_loop", scale,
          graft.queries.EngineQueries.ingestLoopRun(spark, sp100, lg100,
            stateBackend = Some(graft.util.StateBackend
              .forExpectedKeys(60L * 1000 * 1000))))
      }
      if (only.isEmpty || only.exists("qsurf".startsWith))
        querySurfaceProbe(spark, scale, sp100, lg100)
      Dedup.releaseIntermediates()
    }

    for (scale <- Seq("1x", "10x") if tiers.contains(scale)) {
      val (d, e, ev) =
        if (scale == "1x") (docs1, embs1, evs1)
        else (docsN(10).localCheckpoint(true),
          embsN(10).localCheckpoint(true),
          evsN(10).localCheckpoint(true))
      measure("d03_minhash_lsh", scale, Dedup.minhashLshPairs(d, 0.5))
      measure("d14_cdc_segment_dedup", scale, Dedup.cdcSegmentDedup(d))
      // vocab trained OUTSIDE the timed closure: `df` is by-name, so an
      // inline subwordVocab(d) would re-run the whole training job
      // inside both the warm and the timed pass — the probe would
      // measure training+tokenization, not the tokenization operator
      lazy val vocab = TextAnalysis.subwordVocab(d)
      measure("t11_subword", scale,
        TextAnalysis.subwordTokenCounts(d, vocab))
      measure("d17_winnowing", scale, Dedup.winnowingPairs(d))
      measure("d18_prefix_join", scale, Dedup.prefixJaccardJoin(d))
      measure("d19_exact_substring", scale, Dedup.exactSubstringDedup(d))
      measure("p15_shard_shuffle", scale,
        graft.operators.Pipelines.shardShuffle(d))
      measure("m05_payload_dedup", scale,
        graft.operators.Multimodal.payloadDedupGroups(d))
      // sketches: shuffle volume should stay ~flat as the corpus grows
      // (bounded by sketch size), runtime ~linear in the scan
      measure("x03_kmv_overlap", scale,
        graft.operators.Sketches.kmvSourceOverlap(d))
      // importance resampling: shuffle grows with distinct (doc,
      // bucket) pairs (~linear); the 1024-row term table stays flat
      measure("t17_dsir_select", scale, TextAnalysis.dsirSelect(d))
      // grid/sketch summaries: shuffle bounded by the 1024-cell grid /
      // partitions × 512 registers — flat at any corpus size
      measure("p18_zorder_stats", scale,
        graft.operators.Pipelines.zorderStats(ev))
      measure("x05_sketch_rollup", scale,
        graft.operators.Sketches.hllPartitionRollup(ev))
      // top-K sample: per-partition heaps, no shuffle at all
      measure("p19_weighted_sample", scale,
        graft.operators.Pipelines.weightedSample(d))
      // bigram LM: the most join-heavy of the round-11 text ops —
      // census tables vocabulary-bounded, scoring rows one per
      // distinct (doc, v, w)
      measure("t19_bigram_lm", scale, TextAnalysis.bigramSurprisal(d))
      // in-engine LR training + scoring: five epochs = five feature
      // scans each collapsing to ONE 5-gradient row (shuffle flat at
      // any corpus size); scoring map-side — wall must track the scan
      measure("t23_lr_train_score", scale,
        TextAnalysis.lrQualityScore(d, TextAnalysis.trainQualityLr(d)))
      // perceptual audio: decode + fingerprint map-side, band join on
      // 2-byte keys
      // cliff row: resolution PINNED at the gate default — this is the
      // designed super-linear measurement (collision classes fixed,
      // Σ bucket² grows ~quadratically)
      measure("m07_audio_near_dup", scale,
        graft.operators.Multimodal.audioNearDupPairs(spark, d,
          frames = graft.operators.Multimodal.AudFrames))
      // the mitigation, AUTO-SIZED at the BANDED step (round 13):
      // Resolution.Auto counts the corpus and derives 17 frames at 1×
      // (identical to the cliff row's input) and 33 at 10× — step =
      // maxHam+1 bands × ⌈log₂10⌉, because the bits split across the
      // pigeonhole bands and per-band classes must track n. The pair
      // set TIGHTENS with resolution (6.19M at 33 frames vs 10.37M at
      // the retired step-1 rule's 21 — fixed maxHam over more bits is
      // a narrower near-dup band); see the Resolution scaladoc.
      if (scale == "10x")
        measure("m07_audio_near_dup_auto", scale,
          graft.operators.Multimodal.audioNearDupPairs(spark, d))
      // LINEAR-FAMILY rows (round 14): family space ∝ corpus, so true
      // pairs replicate (linear) and the row isolates operator
      // overhead — the 1×/10× pair for the 100× decade below
      measure("m07_audio_near_dup_linear", scale,
        graft.operators.Multimodal.audioNearDupPairs(spark, d,
          linearFamilies = Some(graft.operators.Multimodal.AudFamilies *
            (if (scale == "1x") 1 else 10))))
      // binary codes: two popcounts per candidate, broadcast queries
      measure("s12_binary_hamming", scale,
        graft.operators.Similarity.binaryHammingTopK(e, 5L, 10))
      // cliff row: EVERY knob pinned at the historical gate default
      // (the designed super-linear measurement — bucket count fixed,
      // sizes grow 10×); explicit tables/probes keep this baseline
      // stable now that the un-pinned defaults engage the frontier
      // schedule above the calibration corpus
      measure("d09_embedding_lsh", scale,
        Dedup.embeddingPairsLsh(e, 0.4, nPlanes = 4, nTables = 8,
          probeFlips = 0))
      // the mitigation, now FULLY auto-sized: no hand-passed knob —
      // Resolution.Auto counts the corpus and derives 8 planes at 10×
      // (+⌈log₂10⌉ = 4 past the 4-plane calibration), and the
      // (tables, probes) schedule picks the measured frontier's
      // (4, 2) above the calibration corpus — half the index replicas
      // of the old 8-table default, recall bought back with probes
      if (scale == "10x")
        measure("d09_embedding_lsh_auto", scale,
          Dedup.embeddingPairsLsh(e, 0.4))
      // TABLES-vs-PROBES frontier (round 16): the recall knob's COST
      // asymmetry measured — a table multiplies the index (one
      // exploded (tbl, bucket) row per vector per table, the replica
      // that scales with a 100 TB corpus), a probe only explodes the
      // probe side of the join. Each row reports recall vs the exact
      // n² baseline, wall time, and the index rows the config pays;
      // the SCALE.md claim is equal-or-better recall at half the
      // index (pinned functionally in DedupSpec).
      if (scale == "1x" &&
          (only.isEmpty || only.exists("d09_multiprobe_frontier".startsWith))) {
        val nVecs = e.count()
        val exact = Dedup.embeddingPairs(e, 0.4, maxRows = nVecs)
          .select("vec_a", "vec_b")
          .as[(Long, Long)](org.apache.spark.sql.Encoders.product)
          .collect().toSet
        for ((tables, flips) <- Seq((8, 0), (4, 0), (4, 2), (2, 0), (2, 3))) {
          val t0 = System.nanoTime()
          val got = Dedup.embeddingPairsLsh(e, 0.4,
              nPlanes = graft.util.Resolution.Fixed(4),
              nTables = tables, probeFlips = flips)
            .select("vec_a", "vec_b")
            .as[(Long, Long)](org.apache.spark.sql.Encoders.product)
            .collect().toSet
          val sec = (System.nanoTime() - t0) / 1e9
          val recall = if (exact.isEmpty) 1.0
            else (got & exact).size.toDouble / exact.size
          println(f"""{"query":"d09_multiprobe_frontier","scale":"$scale",""" +
            f""""tables":$tables,"flips":$flips,"recall":$recall%.3f,""" +
            f""""sec":$sec%.2f,"index_rows":${nVecs * tables}}""")
        }
      }
      // trigram LM: one census level deeper than t19 — the trigram
      // table is the only vocabulary²-ish growth; scoring rows stay
      // one per distinct (doc, u, v, w)
      measure("t20_trigram_lm", scale, TextAnalysis.trigramSurprisal(d))
      // perceptual video: m07's shape one modality over — fixed
      // 16-bit per-frame words ⇒ the same Σ bucket² growth, with the
      // resolution ceiling capped by the pure-JVM container profile
      // (≤ 4 sampled frames); production's knob is frame count/word
      // width, same ~log n rule as d09/m07
      measure("m08_video_near_dup", scale,
        graft.operators.Multimodal.videoNearDupPairs(spark, d))
      // LINEAR-FAMILY m08 rows (round 14; see m07): family space ∝
      // corpus so true pairs replicate — here the 64-bit signature
      // absorbs the scaled space with NO resolution growth
      measure("m08_video_near_dup_linear", scale,
        graft.operators.Multimodal.videoNearDupPairs(spark, d,
          linearFamilies = Some(graft.operators.Multimodal.VidFamilies *
            (if (scale == "1x") 1 else 10))))
      measure("m06_image_near_dup_linear", scale,
        graft.operators.Multimodal.perceptualNearDupPairs(spark, d,
          linearFamilies = Some(graft.operators.Multimodal.PatFamilies *
            (if (scale == "1x") 1 else 10))))
      // composed cleaning pipeline: three chained stages, shuffle
      // ~linear (map-side scoring, sample-bounded cutoffs, one hash
      // groupBy) — composition must not introduce super-linear cost
      measure("p21_clean_corpus", scale,
        graft.operators.Pipelines.cleanTrainingCorpus(d))
      // FULL five-stage recipe (p21 + fuzzy MinHash-CC + decontam):
      // the fuzzy stage runs over the already-reduced survivors and
      // the decontam index is fixed-size, so growth must track p21's
      measure("p22_clean_corpus_full", scale,
        graft.operators.Pipelines.cleanTrainingCorpusFull(d))
      // thresholded kNN join: candidates are d09's bucket-bounded LSH
      // chain; the per-query rank window sees candidate lists, never
      // the corpus — output is capped at n×k rows, so rows must grow
      // exactly 10× while shuffle tracks the candidate volume
      measure("s14_knn_join", scale,
        graft.operators.Similarity.knnJoin(e))
      // the datum behind s14's scale claim: the rank window partitions
      // on query_id over the symmetrized CANDIDATE list — report its
      // per-query size distribution so "bucket-bounded, never the
      // corpus" is a measured number, not an assertion
      if (only.isEmpty || only.exists("s14_knn_join".startsWith)) {
        val cand = Dedup.embeddingPairsLsh(e, 0.2)
        val sym = cand.select(col("vec_a").as("q"))
          .unionAll(cand.select(col("vec_b").as("q")))
        val r = sym.groupBy("q").count()
          .agg(max("count").as("mx"), avg("count").as("av")).collect()(0)
        println(f"""{"query":"s14_window_input","scale":"$scale",""" +
          f""""max_per_query":${r.getLong(0)},""" +
          f""""avg_per_query":${r.getDouble(1)}%.1f}""")
      }
      // filtered ANN: pre-filter scan-and-score — linear in the
      // filtered corpus, query side broadcast
      measure("s13_filtered_topk", scale,
        graft.operators.Similarity.filteredTopK(e, 5L, 10,
          col("label") === 3))
      // big-state streaming gates: state rows must grow ∝ distinct
      // span ids (w07: open-span upsert state; w09: buffered join
      // rows), batch count stays fixed by the feed split — confirming
      // the state-partition sizing rule (commits = batches ×
      // partitions × stores) holds as state grows 10×
      val (sp, lg) = if (scale == "1x") (sp1, lg1)
        else (spansN(10).localCheckpoint(true),
          logsN(10).localCheckpoint(true))
      measureStream("w07_spanmerge_stream", scale,
        graft.queries.EngineQueries.spanMergeStreamRun(spark, sp))
      measureStream("w09_spanlog_join_stream", scale,
        graft.queries.EngineQueries.spanLogJoinStreamRun(spark, sp, lg,
          // size the join's state partitions to THIS tier's buffered
          // volume (both sides buffer) — the bench-scale default is a
          // this-volume answer, not a constant for the 10× tier
          statePartitions = Some(graft.util.StateBackend
            .partitionsForStateRows(sp.count() + lg.count()))))
      // the WHOLE ingest loop as one scaling unit: merge state ∝
      // span ids, staged flush file count FIXED by batch count (the
      // round-12 staged path — the partitioned writer would scale
      // files with event-time spread), read-back + search over the
      // landed store
      measureStream("w11_ingest_loop", scale,
        graft.queries.EngineQueries.ingestLoopRun(spark, sp, lg))
      // round 20 (VERDICT r19 #7): the reference-shaped QUERY surface
      // per decade — g01/g03/g05 over real landed stores; see
      // querySurfaceProbe
      if (only.isEmpty || only.exists("qsurf".startsWith))
        querySurfaceProbe(spark, scale, sp, lg)
      // bounded-state streamed sketches: the state story is the
      // INVERSE of w07/w09's — feed grows 10×, state stays pinned by
      // the sketch bound (≤ ~50 buckets/type, ≤ K hashes/source,
      // w14's persisted partials O(days × 512))
      // stream-static decontam flagging: the static bench index is
      // fixed (bench suites don't grow with the corpus), the streamed
      // side scans linearly, and state ∝ flagged ids
      measureStream("w15_decontam_stream", scale,
        Dedup.decontamStreamRun(spark, d))
      measureStream("w12_hist_stream", scale,
        graft.operators.Sketches.histStreamRun(spark, ev))
      measureStream("w13_kmv_stream", scale,
        graft.operators.Sketches.kmvStreamRun(spark, d))
      measureStream("w14_rollup_stream", scale,
        graft.operators.Sketches.rollupStreamRun(spark, ev))
      // engine-harness gates over the 10× events feed, UN-memoized
      // (the probe measures the whole build+read path): g06 rides the
      // driver-line ingest edge (cost ∝ lines through the driver —
      // the bound g08 exists to remove), g08 the distributed file
      // edge, g07 the three-flush store + prefix-listing read
      measure("g06_dynamic_schema", scale,
        graft.queries.EngineQueries.dynamicSchemaRun(spark, ev))
      measure("g08_json_dir_ingest", scale,
        graft.queries.EngineQueries.jsonDirRun(spark, ev))
      measure("g07_prefix_read", scale,
        graft.queries.EngineQueries.prefixReadRun(spark, ev))
      // g09's coarse fallback, measured where it could go wrong: a
      // day-grain tree serving a 30-min vs a 3-hour window — 31 vs 181
      // missing minute prefixes over the SAME one date dir. The
      // memoized ancestor listing must make the driver's listing+plan
      // time track DIRECTORIES TOUCHED (flat across widths), never the
      // window width; at 10× the date dir holds 10× the files but is
      // still one listing
      if (only.isEmpty || only.exists("g09_prefix_read_coarse".startsWith))
        graft.queries.EngineQueries.prefixReadCoarseProbe(spark, ev)
          .foreach { case (label, prefixes, listMs, rows) =>
            println(f"""{"query":"g09_coarse_fallback","scale":"$scale",""" +
              f""""window":"$label","missing_prefixes":$prefixes,""" +
              f""""driver_list_ms":$listMs%.1f,"rows":$rows}""")
          }
      // g12: the manifest's claim is LIST-call elimination — build the
      // g07 store on a counting FileSystem, drain (publishes the
      // manifest), and count listStatus calls for the same prefix read
      // planned from the manifest vs from listings. At 10× the tree
      // holds 10× the files across the same ~105 minute dirs; the
      // manifest plan must stay at a CONSTANT handful of LISTs
      // (the _manifest dir itself) while the listing plan pays
      // O(dirs). Executed counts too — executor file reads are
      // opens, not lists, so the gap is pure planning.
      if (only.isEmpty || only.exists("g12_manifest_read".startsWith))
        g12Probe(scale, ev)
      Dedup.releaseIntermediates()
    }
    if (only.isEmpty || only.exists("manifest_publish_cost".startsWith))
      publishCostProbe()
    if (only.isEmpty || only.exists("mirror_step".startsWith))
      mirrorProbe(spark)
    if (tiers.contains("100x")) run100x()
    spark.stop()
  }

  /** Round-20: the mirror consumer's per-step cost measured against
    * table size — the claim in [[graft.store.ParquetStore.applyMirror]]
    * is O(touched dates) data movement per step, never the table. Two
    * sink sizes (4× apart in dates), the same mutation on each: the
    * source expires its oldest date, the mirror consumes the removal.
    * The step must tombstone only the touched date's sink files
    * (files_rewritten flat) and take ~the same wall on both sizes.
    */
  private def mirrorProbe(spark: SparkSession): Unit = {
    for (dates <- Seq(50, 200)) {
      val root = java.nio.file.Files
        .createTempDirectory(s"mirror_$dates").toString
      val src = new graft.store.ParquetStore(spark, root, "src", "start")
      val sink = new graft.store.ParquetStore(spark, root, "sink", "start")
      val day = 86400L * 1000000L
      val base = 1760000000000000L
      val rowsPerDate = 200L
      val df = spark.range(dates.toLong * rowsPerDate).select(
        col("id"),
        (lit(base) + (col("id") % dates) * day +
          floor(col("id") / dates).cast("long") % 5L * 60L * 1000000L)
          .as("start"),
        col("id").as("trace_id"))
      src.writeStaged(df)
      src.compact(granularity = "day")
      val feed = src.cdcFeed(s"mprobe$dates", keyCols = Seq("id"))
      feed.consumeInto(sink, mirror = true): Unit // bootstrap snapshot
      src.expire(base + day): Unit // the mutation: oldest date retired
      val sinkFiles = sink.manifestFiles.map(_.size).getOrElse(0)
      val deadBefore = sink.manifestDead.map(_.size).getOrElse(0)
      val ta = System.nanoTime()
      feed.consumeInto(sink, mirror = true): Unit
      val applySec = (System.nanoTime() - ta) / 1e9
      val rewritten = sink.manifestDead.map(_.size).getOrElse(0) - deadBefore
      val rows = sink.read(None, None).map(_.count()).getOrElse(0L)
      println(f"""{"query":"mirror_step","dates":$dates,""" +
        f""""sink_files":$sinkFiles,"files_rewritten":$rewritten,""" +
        f""""rows_after":$rows,"sec":$applySec%.2f}""")
      feed.reset()
    }
  }

  /** Round-20 decade probe for the REFERENCE-SHAPED query surface
    * (VERDICT r19 #7): the pipeline operators had 10×/100× rows; the
    * g01 log search / g03 trace search / g05 trace-id lookup shapes
    * did not. Each tier lands the m× span/log corpora (structure-
    * preserving copies: per-trace span trees replicate, the ~7-year
    * event-time spread stays) in real stores — staged flush →
    * day-grain compact, the backfill shape — then measures:
    *
    *  - a fixed ONE-DAY windowed log search and trace search (wall +
    *    the manifest-ADMITTED file count vs the table total: the
    *    "plan ∝ window, not table" claim as per-decade numbers — the
    *    admitted count must stay ~flat while the total grows 10×/
    *    decade, because a day window admits the same dates whatever
    *    the corpus size; per-file ROWS grow, which the wall tracks);
    *  - an UNBOUNDED trace-id point lookup — the parquet bloom
    *    filter's path: every file is admitted, the bloom consults
    *    per row group before scanning, so the wall must grow with
    *    bytes scanned, never explode with candidate row groups.
    */
  private def querySurfaceProbe(spark: SparkSession, scale: String,
      spans: DataFrame, logs: DataFrame): Unit = {
    import graft.query.{LogQueries, TraceQueries}
    val root = java.nio.file.Files
      .createTempDirectory(s"qsurf_$scale").toString
    val sst = new graft.store.ParquetStore(spark, root, "span", "start")
    val lst = new graft.store.ParquetStore(spark, root, "log", "time")
    sst.writeStaged(spans)
    sst.compact(granularity = "day")
    lst.writeStaged(logs)
    lst.compact(granularity = "day")
    val mm = spans.agg(min(col("start")).as("lo"), max(col("start"))
      .as("hi"), min(col("trace_id")).as("t")).collect()(0)
    val dayUs = 86400L * 1000000L
    val wLo = mm.getAs[Long]("lo") +
      (mm.getAs[Long]("hi") - mm.getAs[Long]("lo")) / 2
    val wHi = wLo + dayUs
    val probeTid = mm.getAs[Long]("t")
    val sTotal = sst.manifestFiles.map(_.size).getOrElse(-1)
    val lTotal = lst.manifestFiles.map(_.size).getOrElse(-1)
    // `df` is re-evaluated inside the clock: a trace search runs its
    // fetches when its frame is built
    def probe(name: String, planned: Long, total: Long)
        (df: => DataFrame): Unit = {
      df.count() // warm: plan + codegen outside the clock
      val t0 = System.nanoTime()
      val rows = df.count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"""{"query":"$name","scale":"$scale","rows":$rows,""" +
        f""""sec":$sec%.2f,"files_planned":$planned,""" +
        f""""files_total":$total}""")
    }
    val logWin = lst.read(Some(wLo), Some(wHi)).get
    probe("qsurf_g01_log_search",
      logWin.inputFiles.length.toLong, lTotal.toLong) {
      LogQueries.search(logWin, LogQueries.LogSearchParams(
        service = "oltp", startUs = Some(wLo), endUs = Some(wHi),
        limit = 1000))
    }
    val spanWin = sst.read(Some(wLo), Some(wHi)).get
    probe("qsurf_g03_trace_search",
      spanWin.inputFiles.length.toLong, sTotal.toLong) {
      TraceQueries.filterTraces(spark, spanWin, logWin,
        graft.query.TraceQueries.TraceSearchParams(service = "oltp",
          startUs = Some(wLo), endUs = Some(wHi), limit = 100))
    }
    // the bloom path: unbounded window, every file admitted — the
    // per-row-group bloom consult is what keeps the lookup cheap
    val spanAll = sst.read(None, None).get
    probe("qsurf_g05_trace_lookup", sTotal.toLong, sTotal.toLong) {
      spanAll.filter(col("trace_id") === probeTid)
    }
  }

  /** The schema the driver-side manifest probes record over their
    * synthetic entries (every generation records one; these probes
    * plan no data read).
    */
  private val EntryFixtureSchema =
    new org.apache.spark.sql.types.StructType().add("time", "long")

  /** The commit protocol's metadata write amplification, measured —
    * round 19 closes VERDICT r18 #1 with the TWO-LEVEL layout
    * (per-date manifest files + a manifest-list per generation, the
    * Iceberg shape): a flush-cadence commit writes one small manifest
    * + a delta behind the same CAS rename atom; the periodic
    * checkpoint REUSES untouched dates' manifests by name and merges
    * only the accumulated ones, so rollover bytes track partitions
    * touched since the last checkpoint; and a WINDOWED plan
    * ([[graft.store.StoreManifest.readStateFor]]) reads only the
    * window's manifests. This probe runs a w11-like commit cadence
    * (10 hot-date commits of 10 files, CAS-chained, plus enough more
    * to force one rollover) on a multi-date table at growing file
    * counts, purely driver-side (no Spark jobs — the cost under
    * measurement is filesystem metadata I/O). The flat-curve claims:
    * per-commit delta bytes, rollover bytes, and the cold windowed
    * plan wall all stay constant as the table grows 10×/100×; only
    * the deliberate full assembly (`read_full_cold_ms`) and the
    * first-ever checkpoint remain O(files).
    */
  private def publishCostProbe(): Unit = {
    import org.apache.hadoop.fs.Path
    import graft.store.{StoreFs, StoreManifest}
    // default tiers cover the per-round record; the 100-TB
    // extrapolation targets (10⁶ and, since the two-level layout,
    // 10⁷ files) are opt-in via env because their checkpoint writes
    // cost real wall/disk on every probe run
    val tiers = sys.env.get("SPARK_GRAFT_PUBCOST_TIERS")
      .map(_.split(",").toSeq.flatMap(_.trim.toIntOption))
      .filter(_.nonEmpty)
      .getOrElse(Seq(1000, 10000, 100000))
    for (n <- tiers) {
      val local = java.nio.file.Files.createTempDirectory(s"pubcost_$n")
      graft.util.StreamGate.deferDelete(local)
      val fs = StoreFs.fs(new Path(local.toString))
      val m = new StoreManifest(fs, local.toString)
      val mdir = new Path(local.toString, "_manifest")
      def metaBytes(): Long =
        StoreFs.list(fs, mdir)
          .filter(_.getPath.getName.startsWith("gen-"))
          .map(_.getLen).sum +
        StoreFs.list(fs, new Path(mdir, "mf")).map(_.getLen).sum
      // the realistic shape of a big table: ~1000 files per date
      // partition, dates growing with the table (10⁶ files = ~3
      // years of dates; 10⁷ = the multi-tenant tier) — what the
      // two-level layout prunes on
      val filesPerDate = 1000
      def dateOf(i: Int): String =
        java.time.LocalDate.ofEpochDay(19700L + i / filesPerDate).toString
      val entries = (0 until n).map(i => StoreManifest.Entry(
        f"date=${dateOf(i)}/hour=${i / 60 % 24}%02d/part-$i%08d.parquet",
        1234567L, 1700000000000L + i))
      // the checkpoint: the once-per-CheckpointEvery O(touched) cost
      // (here everything is touched — it is the FIRST publish)
      val tc = System.nanoTime()
      m.publish(entries, Nil, Nil, Nil, EntryFixtureSchema, None)
      val ckptMs = (System.nanoTime() - tc) / 1e6
      var parent = m.read().map(_.gen)
      val ckptBytes = metaBytes()
      // delta commits and the cadence-rollover checkpoint are costed
      // separately: the flat-curve claim is about the DELTAS (every
      // flush pays one), while the rollover pays ∝ partitions touched
      // since the last checkpoint (manifest merge + reuse), never the
      // table
      var deltaNs = 0L; var deltaBytes = 0L; var deltas = 0
      var rollNs = 0L; var rollBytes = 0L; var rolls = 0
      val pubs = 10
      val hotDate = java.time.LocalDate.ofEpochDay(
        19700L + n / filesPerDate + 1L).toString
      (0 until pubs).foreach { k =>
        // the flush-cadence shape: each commit lands 10 new files in
        // the hot (current) date, patch-shaped like the store's own
        // mutations — the commit writes one small manifest + a delta
        val newFiles = (0 until 10).map(i => StoreManifest.Entry(
          f"date=$hotDate/part-$k%03d-$i.parquet", 1234567L,
          1700000100000L + k))
        val before = metaBytes()
        val t0 = System.nanoTime()
        m.publish(adds = newFiles, drops = Nil,
          deadPlus = Nil, deadMinus = Nil, schema = EntryFixtureSchema,
          parent = parent)
        val dt = System.nanoTime() - t0
        val snap = m.read().get
        // commit footprint = growth of the whole _manifest dir
        // (generation + manifests written, minus retention's prunes)
        val bytes = math.max(0L, metaBytes() - before)
        if (snap.gen.endsWith(".delta")) {
          deltaNs += dt; deltaBytes += bytes; deltas += 1
        } else { rollNs += dt; rollBytes += bytes; rolls += 1 }
        parent = Some(snap.gen)
      }
      // drive the chain to its rollover so every tier reports one:
      // the checkpoint must REUSE the untouched dates' manifests (its
      // bytes ∝ the hot date, not the table)
      while (rolls == 0) {
        val newFiles = Seq(StoreManifest.Entry(
          f"date=$hotDate/part-roll-${deltas + rolls}.parquet",
          1234567L, 1700000200000L))
        val before = metaBytes()
        val t0 = System.nanoTime()
        m.publish(adds = newFiles, drops = Nil, deadPlus = Nil,
          deadMinus = Nil, schema = EntryFixtureSchema, parent = parent)
        val dt = System.nanoTime() - t0
        val snap = m.read().get
        val bytes = math.max(0L, metaBytes() - before)
        if (snap.gen.endsWith(".delta")) {
          deltaNs += dt; deltaBytes += bytes; deltas += 1
        } else { rollNs += dt; rollBytes += bytes; rolls += 1 }
        parent = Some(snap.gen)
      }
      // plan-wall measurements on a COLD planner (fresh StoreManifest
      // = empty memos, like a new driver): the two-level claim is
      // that a windowed plan reads only the window's manifests — flat
      // as the table grows — while the full assembly stays O(files)
      val coldFull = new StoreManifest(fs, local.toString)
      val tf = System.nanoTime()
      val fullEntries = coldFull.read().map(_.entries.size).getOrElse(0)
      val fullColdMs = (System.nanoTime() - tf) / 1e6
      val windowAdmit: String => Boolean = {
        val d0 = dateOf(0)
        pk => pk.isEmpty || pk == s"date=$d0"
      }
      val coldWin = new StoreManifest(fs, local.toString)
      val tw = System.nanoTime()
      val winEntries = coldWin.readStateFor(windowAdmit)
        .map(_.entries.size).getOrElse(0)
      val winColdMs = (System.nanoTime() - tw) / 1e6
      // min of 3: the full-assembly garbage above makes a single
      // warm sample GC-noisy at the big tiers
      val winWarmMs = (0 until 3).map { _ =>
        val t = System.nanoTime()
        coldWin.readStateFor(windowAdmit): Unit
        (System.nanoTime() - t) / 1e6
      }.min
      println(f"""{"query":"manifest_publish_cost","files":$n,""" +
        f""""dates":${(n + filesPerDate - 1) / filesPerDate},""" +
        f""""delta_commits":$deltas,""" +
        f""""avg_delta_ms":${deltaNs / 1e6 / math.max(1, deltas)}%.2f,""" +
        f""""avg_delta_bytes":${deltaBytes / math.max(1, deltas)},""" +
        f""""rollover_checkpoints":$rolls,""" +
        f""""avg_rollover_ms":${rollNs / 1e6 / math.max(1, rolls)}%.2f,""" +
        f""""avg_rollover_bytes":${rollBytes / math.max(1, rolls)},""" +
        f""""read_full_cold_ms":$fullColdMs%.2f,""" +
        f""""read_window_cold_ms":$winColdMs%.2f,""" +
        f""""read_window_warm_ms":$winWarmMs%.2f,""" +
        f""""window_entries":$winEntries,"full_entries":$fullEntries,""" +
        f""""checkpoint_ms":$ckptMs%.2f,"checkpoint_bytes":$ckptBytes,""" +
        f""""retained_bytes":${metaBytes()},"gens":${m.genNames().size}}""")
    }
  }

  /** `rows` in duo's native un-manifested layout: minute dirs straight
    * under `tableDir` and no manifest — a store in this state plans by
    * listing until its first write or compaction commits a generation.
    */
  private[graft] def writeNativeLayout(rows: org.apache.spark.sql.DataFrame,
      tableDir: String, timeCol: String): Unit =
    graft.store.ParquetStore.withPartCols(rows, timeCol)
      .write.mode("append").partitionBy("date", "hour", "minute")
      .parquet(tableDir)

  /** The g12 LIST-elimination measurement at one tier: a compacted
    * (manifest-planned) store vs a never-compacted (legacy listing)
    * store over the SAME content — since round 16 the manifest is the
    * table of record once a store compacts (rewrites live in `_gen-*`
    * trees the legacy listing never sees), so the listing baseline is
    * duo's native un-manifested layout: plain minute dirs that no
    * store mutation has touched.
    */
  private def g12Probe(scale: String,
      ev: org.apache.spark.sql.DataFrame): Unit = {
    val spark = ev.sparkSession
    spark.sparkContext.hadoopConfiguration
      .set("fs.probefs.impl", classOf[CountingProbeFs].getName)
    val (logs, schema, startUs, endUs) =
      graft.queries.EngineQueries.g07ProbeParts(spark, ev)
    for (mode <- Seq("manifest", "listing")) {
      val local = java.nio.file.Files.createTempDirectory(s"g12_$mode")
      graft.util.StreamGate.deferDelete(local)
      val root = s"probefs://$local"
      val st = new graft.store.ParquetStore(spark, root, "log", "time")
      if (mode == "manifest") {
        graft.queries.EngineQueries.prefixReadBuild(spark, logs, root)
        st.compact()
      } else writeNativeLayout(graft.queries.EngineQueries.g07Logs(logs),
        s"$root/log", "time")
      // warm once (FS handle, parquet session state), then count
      st.readPrefixes(startUs, endUs, schema = Some(schema)): Unit
      CountingProbeFs.lists.set(0)
      val t0 = System.nanoTime()
      val df = st.readPrefixes(startUs, endUs, schema = Some(schema))
        .getOrElse(sys.error("g12 probe: store served nothing"))
      val planLists = CountingProbeFs.lists.get
      val planMs = (System.nanoTime() - t0) / 1e6
      val rows = df.count()
      val totalLists = CountingProbeFs.lists.get
      println(f"""{"query":"g12_manifest_plan","scale":"$scale",""" +
        f""""mode":"$mode","plan_lists":$planLists,""" +
        f""""total_lists":$totalLists,"plan_ms":$planMs%.1f,""" +
        f""""rows":$rows}""")
    }
  }
}

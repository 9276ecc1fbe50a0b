package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Multimodal, Pipelines, Similarity, TextAnalysis}

/** Physical-plan shape assertions for the round-5 pipeline operators —
  * the properties that make them scale are visible in the plan, so pin
  * them: a regression that silently introduces a shuffle or drops a
  * broadcast fails here, not at 100 TB.
  */
class PlanShapeSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (1L, "alpha beta gamma delta other words here below the line"),
    (2L, "entirely unrelated text with different words in this row"))
    .toDF("doc_id", "text")

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("chunkDocs is a map-side generate: no shuffle in the plan") {
    val plan = planOf(TextAnalysis.chunkDocs(docs))
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
  }

  test("contamination overlap broadcasts the benchmark side") {
    val plan = planOf(Dedup.contaminationOverlap(docs, benchMod = 2L,
      minPpm = 1L))
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
  }

  test("sequencePack computes the global layout without a global window") {
    // the md5 key's first hex digit is its most significant character,
    // so the global cumsum runs as 16 parallel per-digit windows plus
    // a broadcast 16-row prefix join — never one total-order task
    val plan = planOf(Pipelines.sequencePack(docs, maxTokens = 8L))
    assert(plan.contains("hashpartitioning"), s"no partitioned window:\n$plan")
    assert(!plan.contains("SinglePartition"), s"global-order cumsum:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"prefix join not broadcast:\n$plan")
  }

  test("sequencePackPartitioned windows in parallel, never one task") {
    val plan = planOf(Pipelines.sequencePackPartitioned(docs, maxTokens = 8L))
    // the scale fix over sequencePack: the cumsum window is keyed on
    // the hash stream (a hash-partitioned Exchange), not a global
    // order (a single-partition Exchange = one task doing the whole
    // corpus's cumsum)
    assert(plan.contains("hashpartitioning"), s"no partitioned window:\n$plan")
    assert(!plan.contains("SinglePartition"), s"single-task cumsum:\n$plan")
  }

  test("pattern scrub and normalization run at scan speed: no shuffle") {
    val scrub = planOf(TextAnalysis.patternScrub(docs, "\\balpha\\b"))
    assert(!scrub.contains("Exchange"), s"unexpected shuffle:\n$scrub")
    val norm = planOf(TextAnalysis.normalizeText(docs))
    assert(!norm.contains("Exchange"), s"unexpected shuffle:\n$norm")
  }

  test("CDC segmentation windows per doc, never one task") {
    val plan = planOf(Dedup.cdcSegmentDedup(docs))
    assert(plan.contains("hashpartitioning"), s"no partitioned window:\n$plan")
    assert(!plan.contains("SinglePartition"), s"single-task window:\n$plan")
  }

  test("budget selection avoids the global-order window") {
    // the driver-histogram threshold pattern: per-(score, digit)
    // parallel cumsum windows + broadcast prefix join, never one
    // global task
    val plan = planOf(Pipelines.budgetSelect(docs, budgetTokens = 100L))
    assert(plan.contains("hashpartitioning"), s"no partitioned window:\n$plan")
    assert(!plan.contains("SinglePartition"), s"global-order cumsum:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"prefix join not broadcast:\n$plan")
    // the score is a 0/1 flag, so a window keyed on score ALONE is two
    // whole-corpus chains — the partition key must also carry the md5
    // hex digit (>=16 effective partitions per score class)
    assert("Window \\[[^\\]]*\\], \\[score#\\d+, part#\\d+\\]".r
      .findFirstIn(plan).isDefined,
      s"cumsum window not keyed on (score, digit):\n$plan")
  }

  test("alpha mixture never shuffles the corpus: stats broadcast into a map-side filter") {
    val corpus = spark.range(0, 50)
      .selectExpr("id AS doc_id", "'x' AS text",
        "CASE WHEN id % 3 = 0 THEN 'en' ELSE 'de' END AS lang")
    val plan = planOf(Pipelines.alphaMixtureSample(corpus))
    assert(plan.contains("BroadcastHashJoin"), s"thresholds not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus-side shuffle join:\n$plan")
    assert(!plan.contains("Window"), s"window in the sampling path:\n$plan")
  }

  test("shard shuffle ranks on (shard, digit), never per-shard whole chains") {
    // nShards is a config constant, so a shard-only window is the
    // budgetSelect flaw all over again — the corpus-scale rank must key
    // on (shard, digit); the only shard-only window runs on the
    // nShards*16-row prefix table
    val corpus = spark.range(0, 100).selectExpr("id AS doc_id", "'x' AS text")
    val plan = planOf(Pipelines.shardShuffle(corpus, nShards = 4))
    assert(!plan.contains("SinglePartition"), s"single-task stage:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"prefix join not broadcast:\n$plan")
    assert("Window \\[row_number\\(\\)[^\\]]*\\], \\[shard#\\d+, digit#\\d+\\]".r
      .findFirstIn(plan).isDefined,
      s"rank window not keyed on (shard, digit):\n$plan")
  }

  test("packing parallelism knob: digits=2 keys the window on 256 streams") {
    val many = spark.range(0, 2000)
      .selectExpr("id AS doc_id", "concat('w', id, ' x y z') AS text")
    val packed = Pipelines.sequencePackPartitioned(many, maxTokens = 8L,
      digits = 2)
    val plan = planOf(packed)
    // the stream id must be the 2-hex-digit value (conv over a length-2
    // md5 substring), giving a 256-way window partition domain
    assert(plan.contains("hashpartitioning(part"), s"window not keyed on part:\n$plan")
    assert(!plan.contains("SinglePartition"), s"single-task cumsum:\n$plan")
    assert("substring\\(md5\\([^)]*\\)[^,]*, 1, 2\\)".r.findFirstIn(plan).isDefined,
      s"part not derived from 2 hex digits:\n$plan")
    // empirical: 2000 docs land in far more than the 16 streams digits=1
    // yields (~256 occupied buckets), and every id is in [0, 256)
    val parts = packed.select("part").distinct().collect().map(_.getInt(0))
    assert(parts.length > 64, s"only ${parts.length} distinct streams")
    assert(parts.forall(p => p >= 0 && p < 256), s"stream id out of range")
  }

  test("winnowing pairs shuffle on fingerprint keys only, no UDF, no cartesian") {
    val plan = planOf(Dedup.winnowingPairs(docs, minShared = 1L))
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
    assert(!plan.contains("SinglePartition"), s"single-task stage:\n$plan")
    assert(!plan.contains("ScalaUDF"), s"UDF in the hot path:\n$plan")
  }

  test("prefix join ranks per doc and joins on prefix tokens, no cartesian") {
    val plan = planOf(Dedup.prefixJaccardJoin(docs, 0.5))
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
    assert(!plan.contains("SinglePartition"), s"single-task stage:\n$plan")
    assert(!plan.contains("ScalaUDF"), s"UDF in the hot path:\n$plan")
    // the rarest-first rank window partitions by doc_id, never globally
    assert(plan.contains("hashpartitioning(doc_id"),
      s"rank window not doc-keyed:\n$plan")
  }

  // The banded candidate joins all run Dedup.bandedPairs: the (band,
  // key) rows and the verified pairs exchange at an explicit
  // defaultParallelism count, which AQE's byte-sized coalescing cannot
  // squeeze into one task ahead of the Σ bucket² scoring or the verify.
  private def explicitExchange(cols: String*) = cols
    .map(k => s"$k#\\d+L?")
    .mkString("hashpartitioning\\(", ", ",
      s", ${spark.sparkContext.defaultParallelism}\\), REPARTITION_BY_NUM").r

  private def bandExchangeTest(gate: String, keys: String*)(
      df: => org.apache.spark.sql.DataFrame): Unit =
    test(s"$gate exchanges its (${keys.mkString(", ")}) rows at " +
        "defaultParallelism, no cartesian") {
      val plan = planOf(df)
      assert(explicitExchange(keys: _*).findFirstIn(plan).nonEmpty,
        s"no explicit (${keys.mkString(", ")}) exchange:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
    }

  private def sf0001(table: String) = {
    val path = s"/root/testdata/sf0.001/$table.parquet"
    assume(new java.io.File(path).exists())
    spark.read.parquet(path)
  }

  bandExchangeTest("d03 minhash LSH", "band", "key")(
    Dedup.minhashLshPairs(docs, 0.5))
  bandExchangeTest("d04 simhash", "bpos", "bval")(Dedup.simhashPairs(docs))
  bandExchangeTest("d09 embedding LSH", "tbl", "bucket")(
    Dedup.embeddingPairsLsh(sf0001("embeddings"), 0.3, nTables = 8,
      probeFlips = 0))
  bandExchangeTest("d09 multi-probe embedding LSH", "tbl", "bucket")(
    Dedup.embeddingPairsLsh(sf0001("embeddings"), 0.3, nTables = 4,
      probeFlips = 2))
  bandExchangeTest("d18 prefix join", "h1", "h2")(
    Dedup.prefixJaccardJoin(docs, 0.5))
  bandExchangeTest("s03 LSH pairs", "bucket")(
    Similarity.lshCandidatePairs(sf0001("embeddings"), 0.3))
  bandExchangeTest("m06 perceptual near-dup", "bpos", "bval")(
    Multimodal.perceptualNearDupPairs(spark,
      sf0001("documents").select("doc_id", "text")))

  test("d18's verify reads an explicit pair exchange: the dedupe " +
      "cannot coalesce the Jaccard verify into one task") {
    val plan = planOf(Dedup.prefixJaccardJoin(docs, 0.5))
    assert(explicitExchange("doc_a", "doc_b").findFirstIn(plan).nonEmpty,
      s"no explicit pair exchange:\n$plan")
  }

  test("bm25 filters map-side, broadcasts stats, and takes top-k without a global sort") {
    val plan = planOf(TextAnalysis.bm25TopK(docs, Seq("alpha", "beta"), 5))
    // per-partition heaps merged on the driver, not Sort+Limit; the only
    // single-partition stage is the 1-row corpus-stats aggregate (as in
    // every keyless agg) — the corpus-scale path never windows globally
    assert(plan.contains("TakeOrderedAndProject"), s"no top-k operator:\n$plan")
    assert(!plan.contains("Sort "), s"global sort for top-k:\n$plan")
    assert(!plan.contains("Window"), s"window in the scoring path:\n$plan")
    // `len` rides through the tf groupBy key, so there is NO
    // corpus-cardinality join to regress into a shuffle at scale —
    // broadcast-threshold luck is not load-bearing
    assert(!plan.contains("SortMergeJoin"), s"corpus-side shuffle join:\n$plan")
    // the term filter runs under the explode, before any Exchange
    assert(plan.indexOf("Filter tok") > plan.indexOf("Exchange"),
      s"term filter not below the shuffles:\n$plan")
    // df and corpus stats reach the scoring join as broadcasts
    assert(plan.contains("BroadcastExchange"), s"stats not broadcast:\n$plan")
  }

  test("exact-substring dedup aggregates first occurrences, never a per-gram rank window") {
    // keep-first must come from min(struct) with map-side partial
    // combine — a row_number window keyed on the gram hash would chain
    // a boilerplate gram's whole occurrence list through one task
    val plan = planOf(Dedup.exactSubstringDedup(docs, l = 3))
    assert(!plan.contains("row_number"), s"rank window in keep-first:\n$plan")
    assert(plan.contains("partial_min"), s"first-occurrence agg not partial:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
    assert(!plan.contains("SinglePartition"), s"single-task stage:\n$plan")
    assert(!plan.contains("ScalaUDF"), s"UDF in the hot path:\n$plan")
  }

  test("intra-doc dedup shuffles only on doc-keyed partitions") {
    val plan = planOf(Dedup.intraDocDedup(docs))
    assert(plan.contains("hashpartitioning"), s"no partitioned window:\n$plan")
    assert(!plan.contains("SinglePartition"), s"single-task stage:\n$plan")
  }

  test("subword counting folds per distinct word with no driver-side funnel") {
    val plan = planOf(TextAnalysis.subwordTokenCounts(docs,
      Seq("alph", "al", "ph", "be")))
    // the greedy kernel is codegen'd column math over word-keyed
    // shuffles: no single-partition stage, no cartesian, no UDF
    assert(!plan.contains("SinglePartition"), s"single-task stage:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
    assert(!plan.toLowerCase.contains("batchevalpython") &&
      !plan.contains("ScalaUDF"), s"UDF in the hot path:\n$plan")
  }

  test("subword plan size is independent of vocab size") {
    // the vocab lives in a hash-set reference, not in plan literals: a
    // 2048-piece vocab must produce the same plan as a 2-piece one
    // (modulo the digit count in the compact vocab[N] rendering)
    val small = planOf(TextAnalysis.subwordTokenCounts(docs, Seq("al", "ph")))
    val big = planOf(TextAnalysis.subwordTokenCounts(docs,
      (0 until 2048).map(i => f"$i%04d")))
    assert(math.abs(small.length - big.length) <= 16,
      s"plan grows with vocab size: ${small.length} vs ${big.length} chars")
    assert(!big.contains("0042"), s"vocab literal leaked into the plan")
  }

  test("parquet scans prune columns and push filters for the pipeline gates") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    val docs = graft.Tables.documents(spark, dir)
    // t01's shape: only (doc_id, text) may reach the scan — a plan that
    // reads lang/source/n_chars for a 2-column projection is wrong
    val scanPlan = planOf(TextAnalysis.tokenStats(docs))
    val readSchema = "ReadSchema: [^\\n]+".r.findFirstIn(scanPlan).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("text"),
      s"scan schema missing projected columns: $scanPlan")
    assert(!readSchema.contains("n_chars") && !readSchema.contains("source"),
      s"unpruned scan: $readSchema")
    // a gate-style filter must reach the scan as a pushed filter
    val filtered = planOf(docs.filter(col("doc_id") % 4 === 0)
      .select(col("doc_id")))
    assert("PushedFilters: \\[[^\\]]".r.findFirstIn(filtered).isDefined ||
      filtered.contains("isnotnull(doc_id"),
      s"no pushdown evidence in:\n$filtered")
  }

  test("sketch scans prune to the sketched columns") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/events.parquet").exists())
    val events = graft.Tables.events(spark, dir)
    // x04 touches only (event_type, value): ts/props/user_id must not
    // reach the scan — at 100 TB the pruned columns are most of the IO
    val q = planOf(graft.operators.Sketches.logHistQuantiles(events))
    val schemas = "ReadSchema: [^\\n]+".r.findAllIn(q).toSeq
    assert(schemas.nonEmpty && schemas.forall(s =>
      !s.contains("props") && !s.contains("user_id")),
      s"unpruned sketch scan: $schemas")
    // x01 sketches user_id/event_id per event_type: props/value pruned
    val h = planOf(graft.operators.Sketches.hllGate(events))
    val hs = "ReadSchema: [^\\n]+".r.findAllIn(h).toSeq
    assert(hs.nonEmpty && hs.forall(s =>
      !s.contains("props") && !s.contains("value")),
      s"unpruned sketch scan: $hs")
  }

  test("round-11 gates prune their scans to the touched columns") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    val docsT = graft.Tables.documents(spark, dir)
    val events = graft.Tables.events(spark, dir)
    def schemas(p: String): Seq[String] =
      "ReadSchema: [^\\n]+".r.findAllIn(p).toSeq
    // p18 touches only (user_id, value)
    val z = schemas(planOf(Pipelines.zorderStats(events)))
    assert(z.nonEmpty && z.forall(s =>
      !s.contains("props") && !s.contains("event_type") && !s.contains("ts")),
      s"unpruned z-order scan: $z")
    // p19 touches only (doc_id, n_chars) — never the text blob
    val ws = schemas(planOf(Pipelines.weightedSample(docsT)))
    assert(ws.nonEmpty && ws.forall(s =>
      !s.contains("text") && !s.contains("source")),
      s"unpruned sample scan: $ws")
    // t18 touches only (doc_id, text)
    val qm = schemas(planOf(TextAnalysis.qualityModelScore(docsT)))
    assert(qm.nonEmpty && qm.forall(s =>
      !s.contains("n_chars") && !s.contains("lang")),
      s"unpruned quality-model scan: $qm")
    // t17 touches (doc_id, source, text) but never lang/n_chars
    val ds = schemas(planOf(TextAnalysis.dsirSelect(docsT)))
    assert(ds.nonEmpty && ds.forall(s =>
      !s.contains("n_chars") && !s.contains("lang")),
      s"unpruned dsir scan: $ds")
    // x05 touches (event_type, user_id, ts) but never value/props
    val sr = schemas(planOf(graft.operators.Sketches.hllPartitionRollup(events)))
    assert(sr.nonEmpty && sr.forall(s =>
      !s.contains("value") && !s.contains("props")),
      s"unpruned rollup scan: $sr")
  }

  test("bucketed tables co-locate the join: no shuffle before SortMergeJoin") {
    // the 100 TB fact-to-fact pattern: both sides written bucketBy the
    // join key means the join reads pre-partitioned buckets and never
    // exchanges either side
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      (1L to 1000L).map(i => (i, i * 2)).toDF("k", "va")
        .write.mode("overwrite").bucketBy(8, "k").sortBy("k")
        .saveAsTable("bkt_a")
      (1L to 1000L).map(i => (i, i * 3)).toDF("k", "vb")
        .write.mode("overwrite").bucketBy(8, "k").sortBy("k")
        .saveAsTable("bkt_b")
      val j = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
      val plan = planOf(j)
      assert(plan.contains("SortMergeJoin"), s"not a sort-merge join:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
      assert(j.count() == 1000L)
    } finally {
      spark.sql("DROP TABLE IF EXISTS bkt_a")
      spark.sql("DROP TABLE IF EXISTS bkt_b")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    }
  }

  test("pack segments add no shuffle beyond the packing windows") {
    def exchanges(df: org.apache.spark.sql.DataFrame) =
      "Exchange".r.findAllIn(planOf(df)).length
    // the explode is map-side: the segment map costs exactly the
    // shuffles the packing itself costs
    assert(exchanges(Pipelines.packSegments(docs, maxTokens = 8L)) ==
      exchanges(Pipelines.sequencePackPartitioned(docs, maxTokens = 8L)))
  }

  test("bloom incremental dedup resolves the landed side with broadcast joins only") {
    // parquet-backed fixture: a LocalRelation would be folded away by
    // ConvertToLocalRelation/PropagateEmptyRelation and show no joins
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    val docsP = Tables.documents(spark, dir)
    val plan = planOf(Dedup.incrementalDedupBloom(
      docsP.filter(col("doc_id") % 2 === 0),
      docsP.filter(col("doc_id") % 2 =!= 0), 10000L))
    // the landed scan must never be exchange-partitioned for a join:
    // candidates broadcast INTO the landed semi-join, and the resolved
    // `present` set broadcasts into the anti-join — explicit hints, so
    // the shape holds at any landed size
    assert(!plan.contains("SortMergeJoin"), s"landed side shuffled:\n$plan")
    assert("BroadcastHashJoin".r.findAllIn(plan).length >= 2,
      s"expected two broadcast joins:\n$plan")
  }

  test("repetition signals aggregate partially before the shuffle") {
    val plan = planOf(TextAnalysis.repetitionSignals(docs))
    // partial_count markers show map-side combine on the bigram groupBy
    assert(plan.contains("partial_count") || plan.contains("partial count"),
      s"no partial aggregation:\n$plan")
  }

  test("z-order stats shuffle the 1024-cell grid, not the data") {
    val ev = Seq((1L, 10L, 1.0), (2L, 20L, 2.0))
      .toDF("event_id", "user_id", "value")
    val plan = planOf(Pipelines.zorderStats(ev))
    // the z-key is pure integer codegen: no UDF, no window, no join;
    // the only exchange carries the partial-aggregated cell rows
    assert(plan.contains("partial_count") || plan.contains("partial count"),
      s"no map-side combine before the cell shuffle:\n$plan")
    assert(!plan.contains("Window") && !plan.contains("Join"),
      s"unexpected operator in a map+agg pipeline:\n$plan")
    assert("Exchange".r.findAllIn(plan).length <= 2,
      s"more exchanges than one grid aggregation needs:\n$plan")
  }

  test("weighted sample takes top-K with per-partition heaps, no global sort") {
    // the fixture must exceed k: a corpus with maxRows <= k lets the
    // optimizer eliminate the Limit and the top-k pattern with it
    val corpus = (1L to 100L).map(i => (i, i)).toDF("doc_id", "n_chars")
    val plan = planOf(Pipelines.weightedSample(corpus, k = 5))
    assert(plan.contains("TakeOrderedAndProject"), s"no top-k operator:\n$plan")
    assert(!plan.contains("Sort "), s"global sort for top-k:\n$plan")
    assert(!plan.contains("Exchange"), s"shuffle in a map+top-k plan:\n$plan")
  }

  test("keyed CDC anti-join: the key side scans ONLY the key column " +
      "and the join broadcasts it") {
    // the plan the keyed diff must produce at 100 TB: the other
    // snapshot contributes a column-pruned distinct key set (never its
    // full rows), consumed by a LeftAnti join — broadcast here (small
    // fixture + AQE), shuffled-on-key at scale, never a row-payload
    // exchange of the other snapshot
    val root = java.nio.file.Files
      .createTempDirectory("cdcplan").toString
    val t0 = 1760000000000000L
    val st = new graft.store.ParquetStore(spark, root, "documents", "time")
    val rows = (1L to 40L).map(i =>
      (i, s"text body $i", t0 + i * 1000000L))
      .toDF("doc_id", "text", "time")
    st.write(rows.filter($"doc_id" <= 20L))
    st.compact()
    st.write(rows.filter($"doc_id" > 20L))
    val zone = java.time.ZoneId.of(
      spark.conf.get("spark.sql.session.timeZone"))
    val day = java.time.LocalDate.ofInstant(java.time.Instant
      .ofEpochSecond(t0 / 1000000L), zone).toString
    st.compactDate(day)
    val gens = st.generations()
    val keyed = st.changesBetween(gens.head, gens.last,
      Seq("doc_id")).get
    // execute once so AQE finalizes the physical join choice
    assert(keyed.count() == 20L)
    val plan = keyed.queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"), s"no anti join:\n$plan")
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoop") == false &&
        plan.contains("SortMergeJoin"),
      s"anti join neither broadcast nor key-shuffled:\n$plan")
    // the OTHER snapshot's scan must read the key column alone —
    // dragging `text` through the distinct would ship the corpus
    val keyScan = plan.linesIterator
      .filter(l => l.contains("ReadSchema") && !l.contains("text"))
    assert(keyScan.exists(_.contains("doc_id")),
      s"no key-only pruned scan in:\n$plan")
  }

  test("a cold log read after a flush plans from the manifest: one " +
      "generation, a recorded schema, one Spark job") {
    // the flush commits the store's first generation with the batch
    // schema, so a never-read window plans with no discovery listing
    // and no footer-merge job: the search's own job is the only one
    val root = java.nio.file.Files.createTempDirectory("coldplan").toString
    val t0 = 1760000000000000L
    val engine = new DuoEngine(spark, root)
    engine.appendLogBatch((0 until 40).map(i =>
      ("svc-0", t0 + i * 30000000L, "INFO", s"m$i", s"r${i % 3}"))
      .toDF("process_id", "time", "level", "message", "region"))
    engine.flush()
    val store = new graft.store.ParquetStore(spark, root, "log", "time")
    assert(store.generations().size == 1)
    assert(store.manifestSchema.exists(_.fieldNames.contains("region")))
    val group = "cold-log-plan"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet(): Unit
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      graft.util.StreamGate.quiesce(spark)
      sc.setJobGroup(group, "cold log read")
      val rows = try engine.searchLogs(
          graft.query.LogQueries.LogSearchParams("svc-0",
            startUs = Some(t0 + 300000000L),
            endUs = Some(t0 + 600000000L))).collect()
        finally sc.clearJobGroup()
      graft.util.StreamGate.quiesce(spark)
      assert(rows.length == 11)
      assert(jobs.get == 1, s"${jobs.get} jobs")
    } finally sc.removeSparkListener(listener)
  }

  test("a window over many flush trees plans as one scan, not a " +
      "union per tree") {
    // every flush lands its own _gen-* tree; the manifest files each
    // under its logical minute dir, so all trees of one partition
    // depth share one relation
    val root = java.nio.file.Files.createTempDirectory("treeplan").toString
    val t0 = 1760000000000000L
    val engine = new DuoEngine(spark, root)
    (0 until 6).foreach { f =>
      engine.appendLogBatch((0 until 4).map(i =>
        ("svc-0", t0 + (i * 60L + f) * 1000000L, "INFO", s"m$f-$i"))
        .toDF("process_id", "time", "level", "message"))
      engine.flush()
    }
    val store = new graft.store.ParquetStore(spark, root, "log", "time")
    assert(store.generations().size == 6)
    val df = store.read(Some(t0), Some(t0 + 150L * 1000000L)).get
    val plan = df.queryExecution.executedPlan.toString
    assert("FileScan parquet".r.findAllMatchIn(plan).size == 1, plan)
    assert(!plan.contains("Union"), plan)
    assert(df.count() == 18)
  }

  test("a mixed-grain store prunes each depth at its own grain: the " +
      "minute flushes after an hour compaction keep minute pruning") {
    val root = java.nio.file.Files.createTempDirectory("mixplan").toString
    val t0 = 1760000000000000L
    val st = new graft.store.ParquetStore(spark, root, "log", "time")
    def rows(from: Int, until: Int) = (from until until).map(i =>
      (i.toLong, t0 + i * 60L * 1000000L)).toDF("id", "time")
    st.write(rows(0, 180))
    st.compact(granularity = "hour") // depth 2
    st.write(rows(180, 240)) // minute flushes on top: depth 3
    val df = st.read(Some(t0 + 200L * 60L * 1000000L),
      Some(t0 + 205L * 60L * 1000000L)).get
    // each scan's partition filters name its own finest column
    val grains = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        val cols = s.partitionFilters.flatMap(_.references.map(_.name)).toSet
        Seq("minute", "hour", "date").find(cols).getOrElse("none")
    }
    assert(grains.sorted == Seq("hour", "minute"), grains.toString)
    assert(df.count() == 6)
  }
}

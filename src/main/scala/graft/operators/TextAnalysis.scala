package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFns._

/** Text-analysis operators for large-scale training-data pipelines:
  * token counting, language identification, quality scoring, and
  * document fingerprinting over the `documents` table.
  *
  * All per-document metrics are pure map-side column expressions
  * (codegen'd, shuffle-free) — at 100 TB these run at scan speed with
  * filters/projections pushed to parquet.
  */
object TextAnalysis {

  /** Stopword inventories for the n-gram language-ID heuristic. */
  private val langMarkers: Seq[(String, String)] = Seq(
    "en" -> "\\b(the|and|of|to|in)\\b",
    "de" -> "\\b(der|und|die|das|nicht)\\b",
    "fr" -> "\\b(le|et|les|des|est)\\b",
    "es" -> "\\b(el|y|los|las|es)\\b")

  /** Token counts: whitespace tokens and BPE-ish regex tokens
    * (letter runs / digit runs / single punctuation).
    */
  def tokenStats(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(tokens(col("text"))).as("ws_tokens"),
      regexp_count(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")).as("re_tokens"),
      length(col("text")).as("chars"))

  /** Language-ID: stopword-marker counts per language, argmax with a
    * fixed priority order on ties (en > de > fr > es, else 'und').
    */
  def languageId(docs: DataFrame): DataFrame = {
    val counted = langMarkers.foldLeft(docs) { case (df, (l, re)) =>
      df.withColumn(s"c_$l", regexp_count(col("text"), lit(re)))
    }
    val Seq(en, de, fr, es) = langMarkers.map(m => col(s"c_${m._1}"))
    counted.select(
      col("doc_id"), en.as("c_en"), de.as("c_de"), fr.as("c_fr"), es.as("c_es"),
      when(en + de + fr + es === 0, "und")
        .when(en >= de && en >= fr && en >= es, "en")
        .when(de >= fr && de >= es, "de")
        .when(fr >= es, "fr")
        .otherwise("es").as("lang_pred"))
  }

  /** Quality signals: token count, mean token length, punctuation and
    * stopword ratios, plus a boolean keep/drop flag in the style of
    * C4/Gopher-ish filters (thresholds are illustrative).
    */
  def qualityScore(docs: DataFrame): DataFrame = {
    val nTok = size(tokens(col("text")))
    val nPunct = regexp_count(col("text"), lit("[.,;:!?]"))
    val nStop = regexp_count(col("text"), lit("\\b(the|a|and|of|to)\\b"))
    docs.select(
      col("doc_id"),
      nTok.as("n_tokens"),
      (length(col("text")).cast("double") / nTok).as("mean_tok_len"),
      (nPunct.cast("double") / nTok).as("punct_ratio"),
      (nStop.cast("double") / nTok).as("stop_ratio"),
      (nTok >= 10 && nTok <= 100000 && nPunct.cast("double") / nTok < 0.2)
        .cast("int").as("keep"))
  }

  /** Repetition signals in the Gopher/C4 family: per-document bigram
    * multiset statistics — total bigrams, the hottest bigram's count,
    * and the mass of bigrams occurring more than once — with
    * parts-per-million fractions in integer arithmetic so the numbers
    * are bit-identical on any engine (a float division would round
    * differently across libm implementations). High top_ppm/dup_ppm is
    * the classic machine-generated-boilerplate smell that corpus
    * cleaning drops before training.
    *
    * Scale shape: one explode + two groupBys keyed on (doc_id[, bigram])
    * — partial aggregation collapses each doc's bigrams map-side, so
    * the shuffle carries at most one row per distinct (doc, bigram).
    * Docs with fewer than two tokens have no bigrams and drop out, same
    * as the oracle's empty list-comprehension.
    */
  def repetitionSignals(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(t)-1), i -> concat(element_at(t, i), ' ', element_at(t, i+1)))"))
        .as("bg"))
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_bigrams"),
        max(col("n")).as("top_bigram_n"),
        coalesce(sum(when(col("n") >= 2, col("n"))), lit(0L)).as("dup_bigram_n"))
      .select(col("doc_id"), col("n_bigrams"), col("top_bigram_n"),
        col("dup_bigram_n"),
        expr("top_bigram_n * 1000000 div n_bigrams").as("top_ppm"),
        expr("dup_bigram_n * 1000000 div n_bigrams").as("dup_ppm"))

  /** Gopher repetition-filter thresholds (Rae et al. 2021, "Scaling
    * Language Models: Methods, Analysis & Insights from Training
    * Gopher", Table A1), in integer ppm of document characters —
    * single source of truth for the t24 plan AND oracle. A document
    * whose top-{2,3,4}-gram covers more than 20/18/16% of its
    * characters, or whose duplicated {5,6,7}-grams cover more than
    * 15/14/13%, is machine-boilerplate and dropped.
    */
  val GopherTopNs: Seq[Int] = Seq(2, 3, 4)
  val GopherDupNs: Seq[Int] = Seq(5, 6, 7)
  val GopherTopPpm: Map[Int, Long] =
    Map(2 -> 200000L, 3 -> 180000L, 4 -> 160000L)
  val GopherDupPpm: Map[Int, Long] =
    Map(5 -> 150000L, 6 -> 140000L, 7 -> 130000L)

  /** The full Gopher repetition suite ([[repetitionSignals]] is the
    * bigram-mass subset): per document, the character fraction covered
    * by the hottest {2,3,4}-gram and the character fraction covered by
    * duplicated {5,6,7}-grams, plus the composite keep flag at the
    * paper's thresholds. Two deliberate, documented conventions keep
    * the numbers bit-identical on any engine:
    *
    *  - characters are TOKEN characters (separators excluded) on both
    *    numerator and denominator, so the metric is insensitive to
    *    whitespace convention;
    *  - top-n coverage maximizes count × gram-chars directly ("the
    *    n-gram covering the most characters") rather than Gopher's
    *    pick-most-frequent-then-measure — identical when the modal
    *    gram is unique, deterministic (no tie-break rule needed) and
    *    conservative (never smaller) when it is not. Overlapping
    *    occurrences can push top ppm past 1e6, same as the paper's
    *    own caveat.
    *
    * Duplicated-gram coverage is a true position union (an occurrence
    * of ANY duplicated n-gram covers its n token positions; a token in
    * two duplicated grams counts once), not an occurrence sum —
    * Gopher's definition, and what d19's covered-position machinery
    * does cross-doc, here per-doc.
    *
    * Scale shape: everything keys on doc_id or (doc_id, gram) — six
    * partial-agg groupBys and doc-keyed joins, no corpus-wide state,
    * no window. The explode fan-out is Σ_n (tokens-n+1) rows per doc
    * ≈ 6× the token count; duplicate-position explode is ×n on the
    * DUPLICATED mass only, then distinct on (doc, n, pos).
    */
  def gopherRepetition(docs: DataFrame): DataFrame = {
    val base = docs
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .withColumn("tok_chars",
        expr("aggregate(transform(t, x -> length(x)), 0L, (a, x) -> a + x)"))
    def grams(n: Int) = base
      .filter(size(col("t")) >= n)
      .select(col("doc_id"), col("t"),
        posexplode(expr(
          s"transform(sequence(1, size(t)-$n+1), i -> array_join(slice(t, i, $n), ' '))"))
          .as(Seq("p0", "g")))
    val tops = GopherTopNs.map { n =>
      grams(n)
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("doc_id"))
        .agg(max(col("cnt") * (length(col("g")) - lit(n - 1)))
          .as(s"top${n}_chars"))
    }
    val dups = GopherDupNs.map { n =>
      val g = grams(n)
      // all occurrences of a within-doc duplicated n-gram cover their
      // n token positions; union, then price positions by token chars
      val covered = g
        .groupBy(col("doc_id"), col("g"))
        .agg(count(lit(1)).as("cnt"), collect_list(col("p0")).as("ps"))
        .filter(col("cnt") >= 2)
        .select(col("doc_id"), explode(col("ps")).as("p0"))
        .select(col("doc_id"),
          explode(expr(s"sequence(p0, p0 + $n - 1)")).as("q"))
        .distinct()
      covered
        .join(base.select(col("doc_id"),
          posexplode(expr("transform(t, x -> length(x))")).as(Seq("q", "len"))),
          Seq("doc_id", "q"))
        .groupBy(col("doc_id"))
        .agg(sum(col("len")).cast("long").as(s"dup${n}_chars"))
    }
    val joined = (tops ++ dups).foldLeft(
      base.select(col("doc_id"), col("tok_chars"))) {
      (acc, d) => acc.join(d, Seq("doc_id"), "left")
    }
    // tok_chars = 0 (empty/whitespace-only doc) is guarded IDENTICALLY
    // here and in the oracle SQL — ppm 0, keep 0 — because the two
    // engines disagree on raw division by zero (Spark `div` → null,
    // DuckDB `//` → error), the same degenerate-document convention
    // the other t-gates use
    val ppmCols = (GopherTopNs.map(n => s"top$n") ++
      GopherDupNs.map(n => s"dup$n")).map { c =>
      expr(s"if(tok_chars > 0, " +
        s"coalesce(${c}_chars, 0L) * 1000000 div tok_chars, 0L)")
        .as(s"${c}_ppm")
    }
    val keep = ((col("tok_chars") > 0L) +: (GopherTopNs.map(n =>
      expr(s"coalesce(top${n}_chars, 0L) * 1000000 div tok_chars") <=
        lit(GopherTopPpm(n))) ++
      GopherDupNs.map(n =>
        expr(s"coalesce(dup${n}_chars, 0L) * 1000000 div tok_chars") <=
          lit(GopherDupPpm(n)))))
      .reduce(_ && _).cast("int").as("keep")
    joined.select(
      col("doc_id") +: col("tok_chars") +: ppmCols :+ keep: _*)
  }

  /** Context-window chunking: split each document into token windows of
    * `chunkTokens` with `overlap` tokens of lookback — the pass that
    * turns long documents into model-sized training rows. Chunk starts
    * step by `chunkTokens - overlap`; a start that would yield a pure
    * suffix-of-the-previous-chunk (fewer than overlap+1 new tokens) is
    * suppressed, except the first. chunk_idx derives from the start
    * offset arithmetically so both engines agree without an explode
    * ordinal.
    *
    * Scale shape: pure map-side generate (explode of a per-row start
    * list) — no shuffle; output rows ≈ tokens/stride, the same fan-out
    * a tokenizer job produces.
    */
  def chunkDocs(docs: DataFrame, chunkTokens: Int = ChunkGateTokens,
      overlap: Int = ChunkGateOverlap): DataFrame = {
    require(overlap < chunkTokens, "overlap must be < chunkTokens")
    val stride = chunkTokens - overlap
    docs
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .withColumn("n", size(col("t")))
      .select(col("doc_id"), col("t"),
        explode(expr(
          s"filter(sequence(1, n, $stride), s -> s = 1 OR s + $overlap <= n)"))
          .as("s"))
      .select(col("doc_id"),
        expr(s"cast((s - 1) div $stride as int)").as("chunk_idx"),
        expr(s"slice(t, s, $chunkTokens)").as("ct"))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("ct")).as("chunk_tokens"),
        array_join(col("ct"), " ").as("chunk_text"))
  }

  /** Token-rarity score: each document's mean corpus-frequency of its
    * tokens (integer ppm of all corpus tokens) and its hapax count
    * (tokens appearing exactly once in the whole corpus) — the
    * frequency-based rarity/quality signal (boilerplate scores high,
    * gibberish scores low with many hapaxes) that a unigram-LM
    * perplexity would give, kept in integer arithmetic so any engine
    * reproduces it bit-exactly (log-of-double perplexities differ in
    * final ulps across engines).
    *
    * Scale shape: the term-frequency table is one partial→final count
    * keyed on the token; the score join is keyed on the token too —
    * stopword keys are hot, which AQE skew-join splits (the 1:1
    * build side makes splitting safe), or the head of the frequency
    * table (a few thousand tokens carry most mass) can be broadcast
    * and only the tail joined. In production the tf table is computed
    * once per corpus snapshot and reused, like the census.
    */
  def tokenRarity(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    val tf = tok.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val total = tf.select(sum(col("cnt")).as("total"))
    tok.join(tf, "tok")
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"),
        sum(expr("cnt * 1000000 div total")).as("sum_freq_ppm"),
        sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("doc_id"), col("n_toks"),
        expr("sum_freq_ppm div n_toks").as("mean_freq_ppm"),
        col("n_hapax"))
  }

  /** BM25 gate constants — single source of truth for plan + oracle.
    * K1/B are the textbook defaults (Robertson et al., TREC-3); the
    * query terms are corpus-vocabulary tokens so both SFs score
    * non-trivially.
    */
  val Bm25K1: Double = 1.2
  val Bm25B: Double = 0.75
  val Bm25GateTerms: Seq[String] = Seq("spark", "vector", "merge")
  val Bm25GateK: Int = 100

  /** BM25 top-k retrieval (Robertson & Walker, SIGIR'94; the Lucene
    * idf variant ln(1 + (N - df + 0.5)/(df + 0.5)), which keeps idf
    * positive for df > N/2): score every document containing a query
    * term, return the k best.
    *
    * Scale shape: the term filter runs map-side BEFORE any shuffle
    * (only rows matching the query's ~handful of terms reach the tf
    * groupBy — the corpus never shuffles); df and the corpus length
    * stats are tiny aggregates broadcast back into the scoring join;
    * the top-k compiles to TakeOrderedAndProject (per-partition heaps
    * merged on the driver) — no global sort, no single-task window.
    *
    * Determinism-vs-oracle: each per-term score is rounded to 6
    * decimals and cast to an exact decimal BEFORE the per-doc sum
    * (the [[graft.util.Cols]] convention) — double sums are
    * order-dependent and ln() is the one libm call the two engines
    * may round a ulp apart; rounding first makes the sum exact and
    * order-free in both.
    */
  def bm25TopK(docs: DataFrame, terms: Seq[String] = Bm25GateTerms,
      k: Int = Bm25GateK): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    // one cached tokenization feeds both the corpus stats and the term
    // rows (two full tokenize scans otherwise — Spark doesn't dedupe
    // common sub-plans across branches); `len` rides along through the
    // explode and the tf groupBy key, so NO corpus-cardinality join
    // exists anywhere in the plan — the docstring's "corpus never
    // shuffles" holds by construction, not by broadcast-threshold luck
    val base = Dedup.scopedCache(
      docs.select(col("doc_id"), tokens(col("text")).as("t")))
    val stats = base.agg(count(lit(1)).as("n_docs"),
      sum(size(col("t"))).as("total_len"))
    val qtf = Dedup.scopedCache(base
      .select(col("doc_id"), size(col("t")).as("len"),
        explode(col("t")).as("tok"))
      .filter(col("tok").isin(terms: _*))
      .groupBy(col("doc_id"), col("len"), col("tok"))
      .agg(count(lit(1)).as("tf")))
    val dfs = qtf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    qtf.join(broadcast(dfs), "tok")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("total_len").cast("double") / col("n_docs"))
      .withColumn("idf", log(lit(1.0) +
        (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("term_score",
        round(col("idf") * (col("tf") * (lit(Bm25K1) + lit(1.0))) /
            (col("tf") + lit(Bm25K1) *
              (lit(1.0) - lit(Bm25B) + lit(Bm25B) * col("len") / col("avgdl"))),
          6).cast("decimal(28,6)"))
      .groupBy(col("doc_id"))
      .agg(sum(col("term_score")).cast("double").as("score"))
      .orderBy(desc("score"), col("doc_id"))
      .limit(k)
  }

  /** Surprisal gate bounds — single source of truth for plan + oracle.
    * Corpus-calibrated so the keep flag splits non-trivially at the
    * gate SFs; production recalibrates per corpus (CCNet buckets by
    * perplexity tertiles).
    */
  val SurprisalGateLo: Double = 3.0
  val SurprisalGateHi: Double = 3.402

  /** Unigram surprisal scoring — the perplexity-filter proxy (CCNet,
    * Wenzek et al. LREC'20, with a corpus-trained unigram LM standing
    * in for the KenLM 5-gram): per-doc mean token surprisal
    * −(1/n)Σ ln p(tok), where p is the corpus unigram distribution.
    * Low mean = templated/repetitive text, high = gibberish; the keep
    * flag brackets the healthy middle. A self-trained unigram LM
    * needs no external model artifact and scales trivially; swapping
    * in real LM logprobs per token reuses the same aggregation.
    *
    * Scale shape: one tf census (map-side partial combine), joined
    * back to the exploded token stream on the token key (the t08
    * shape); per-token surprisal rounds to 6 decimals into an exact
    * decimal BEFORE the per-doc sum (the [[graft.util.Cols]]
    * convention — ln is libm, sums must be order-free), and the mean
    * is one decimal→double cast and one double division, both
    * correctly rounded in either engine.
    */
  def surprisalScore(docs: DataFrame, lo: Double = SurprisalGateLo,
      hi: Double = SurprisalGateHi): DataFrame = {
    val tok = docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    // the census feeds both the total and the scoring join — both in
    // ONE query, so exchange reuse serves the repeat from the same
    // shuffle files (no cache; see bigramSurprisal's note)
    val tf = tok.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val total = tf.select(sum(col("cnt")).as("total"))
    tok.join(tf, "tok")
      .crossJoin(broadcast(total))
      .withColumn("s",
        round(-log(col("cnt").cast("double") / col("total").cast("double")), 6)
          .cast("decimal(28,6)"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"),
        sum(col("s")).cast("double").as("sum_surprisal"))
      .withColumn("mean_surprisal", col("sum_surprisal") / col("n_toks"))
      .withColumn("keep",
        when(col("mean_surprisal") >= lo && col("mean_surprisal") <= hi, 1)
          .otherwise(0))
  }

  /** Pattern scrub — the PII-redaction pass: count a pattern's matches
    * per document and rewrite every match to a placeholder before the
    * text reaches training. Production patterns are the usual
    * email/phone/IP regexes; everything here is kept RE2-compatible
    * (no backrefs/lookaround) so the same pattern runs identically on
    * any engine. The gate exercises the machinery on tokens the
    * synthetic corpus actually contains.
    *
    * Scale shape: pure map-side regexp work at scan speed — no
    * shuffle, no UDF; the filter on n_matches (audit mode) pushes to
    * the scan.
    */
  def patternScrub(docs: DataFrame, pattern: String,
      replacement: String = "<X>"): DataFrame =
    docs.select(
      col("doc_id"),
      regexp_count(col("text"), lit(pattern)).as("n_matches"),
      regexp_replace(col("text"), pattern, replacement).as("scrubbed"))

  /** Canonical-form normalization — the pass that precedes hashing and
    * dedup: lowercase, strip non-alphanumerics to spaces, collapse
    * whitespace runs, trim, then drop stopwords. Emits the raw and
    * kept token counts so downstream filters can gate on shrinkage
    * (a document that is mostly stopwords/punctuation collapses).
    *
    * Scale shape: map-side column expressions only (regexps + an
    * array filter against a literal stopword set) — runs at scan
    * speed, no shuffle.
    */
  val DefaultStopwords: Seq[String] =
    Seq("the", "a", "and", "of", "to", "in", "is")

  def normalizeText(docs: DataFrame,
      stop: Seq[String] = DefaultStopwords): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
    // split("", " ") yields [""] — drop empty tokens so a document that
    // normalizes to nothing honestly reports 0 raw/kept tokens (the
    // shrinkage-gating consumers key on that).
    val toks = filter(split(norm, " "), t => t =!= lit(""))
    val kept = filter(toks, t => not(array_contains(typedlit(stop), t)))
    docs.select(
      col("doc_id"),
      size(toks).as("n_raw_toks"),
      size(kept).as("n_kept_toks"),
      array_join(kept, " ").as("norm_text"))
  }

  /** Subword tokenizer constants — single source of truth for the Spark
    * plan AND the generated oracle CTEs (t11/p12). The vocab size is
    * gate-scale-real: the kernel's hash-set lookup and the plan size
    * are independent of it (see [[graft.functions.SubwordVocab]]), so
    * raising it further is a data question, not a plan question.
    */
  val SubwordMinPiece: Int = 2
  val SubwordMaxPiece: Int = 4
  val SubwordVocabSize: Int = 1024

  /** Chunk-window geometry for the t07/t13 gates — single source of
    * truth for the Spark calls AND the generated oracle SQL (changing
    * either constant re-derives both sides, so they cannot desync).
    */
  val ChunkGateTokens: Int = 32
  val ChunkGateOverlap: Int = 8

  /** Derive a deterministic subword vocabulary from the corpus: the
    * `vocabSize` most frequent substrings of length
    * [[SubwordMinPiece]]..[[SubwordMaxPiece]] across all word
    * occurrences (ties broken lexicographically) — a BPE-shaped vocab
    * that any engine reproduces exactly, so the oracle can rebuild it
    * symbolically. Single characters are the implicit fallback vocab.
    *
    * Scale shape: substring generation is a map-side explode over the
    * DISTINCT word table (corpus vocabulary, not corpus size); the
    * frequency table is one partial→final count keyed on the substring;
    * the top-k is a driver-side collect of `vocabSize` rows — the
    * broadcast-build pattern. In production the vocab is trained once
    * per corpus snapshot and pinned, exactly like the ANN artifacts.
    */
  def subwordVocab(docs: DataFrame,
      vocabSize: Int = SubwordVocabSize): Seq[String] = {
    val words = docs.select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    words
      .select(col("cnt"), explode(expr(
        s"""flatten(transform(sequence($SubwordMinPiece, $SubwordMaxPiece),
           |  l -> transform(filter(sequence(1, length(w)),
           |                        i -> i + l - 1 <= length(w)),
           |       i -> substring(w, i, l))))""".stripMargin)).as("s"))
      .groupBy(col("s")).agg(sum(col("cnt")).as("freq"))
      .orderBy(col("freq").desc, col("s"))
      .limit(vocabSize)
      .select(col("s")).collect().map(_.getString(0)).toSeq
  }

  /** Greedy longest-match piece COUNT of one word: the
    * [[graft.functions.SubwordCount]] codegen kernel against a
    * length-bucketed hash-set vocab reference. The vocab literal is
    * folded into the reference at function-resolution time, so the
    * resolved plan and the generated code are constant-size at ANY
    * vocab size (the round-8 `array_contains(typedlit)` when-chain
    * grew both linearly — a wall at real 32k-64k BPE vocabs; pinned
    * in PlanShapeSpec). Lookups are O(1) per position; the executor
    * receives the vocab once per stage via the serialized plan.
    */
  private[operators] def subwordPieces(w: Column,
      vocab: Seq[String]): Column =
    call_function("subword_count", w, typedlit(vocab),
      lit(SubwordMinPiece), lit(SubwordMaxPiece))

  /** Greedy piece LIST of one word ([[graft.functions.SubwordSplit]]):
    * the pieces concatenate back to the word exactly (partition
    * property, pinned in TextAnalysisSpec). Carried as a real
    * `array<string>` — lossless for any word content, unlike a
    * delimiter-joined string.
    */
  private[operators] def subwordPieceArr(w: Column,
      vocab: Seq[String]): Column =
    call_function("subword_split", w, typedlit(vocab),
      lit(SubwordMinPiece), lit(SubwordMaxPiece))

  /** Full tokenization: per document, every word's greedy piece split
    * as a nested `array<array<string>>` (outer = word positions in
    * original order, inner = that word's pieces) — the form downstream
    * chunking/packing/detokenization consumes, and the gate (t12) that
    * pins the SEGMENTATION itself, not just counts. The nested array
    * is lossless: word and piece boundaries survive any character
    * content, where a delimiter-joined string could not distinguish a
    * delimiter-bearing word from a boundary.
    *
    * Scale shape: identical to [[subwordTokenCounts]] — one kernel
    * eval per DISTINCT word, a word-keyed join back, and a doc-bounded
    * collect_list reassembly.
    */
  def subwordTokenize(docs: DataFrame, vocab: Seq[String]): DataFrame = {
    graft.functions.VectorExprs.register(docs.sparkSession)
    val pieces = docs.select(explode(tokens(col("text"))).as("word"))
      .distinct()
      .select(col("word"), subwordPieceArr(col("word"), vocab).as("ps"))
    docs.select(col("doc_id"),
        posexplode(tokens(col("text"))).as(Seq("pos", "word")))
      .join(pieces, "word")
      .groupBy(col("doc_id"))
      .agg(expr(
        "transform(array_sort(collect_list(struct(pos, ps))), x -> x.ps)")
        .as("pieces"))
  }

  /** Context-window chunking over the SUBWORD piece stream — t07's
    * windowing applied to real tokenizer tokens instead of whitespace
    * words: each document's pieces (word order preserved, words
    * flattened) are cut into `chunkTokens`-piece windows with
    * `overlap` lookback, the row shape a model actually trains on.
    *
    * Scale shape: the piece stream assembles with [[subwordTokenize]]'s
    * distinct-word fold + word-keyed join + doc-bounded reassembly;
    * the windowing itself is t07's map-side generate (explode of a
    * per-row start list) — no additional shuffle.
    */
  def chunkByPieces(docs: DataFrame, vocab: Seq[String],
      chunkTokens: Int = ChunkGateTokens,
      overlap: Int = ChunkGateOverlap): DataFrame = {
    require(overlap < chunkTokens, "overlap must be < chunkTokens")
    val stride = chunkTokens - overlap
    graft.functions.VectorExprs.register(docs.sparkSession)
    val pieces = docs.select(explode(tokens(col("text"))).as("word"))
      .distinct()
      .select(col("word"), subwordPieceArr(col("word"), vocab).as("ps"))
    docs.select(col("doc_id"),
        posexplode(tokens(col("text"))).as(Seq("pos", "word")))
      .join(pieces, "word")
      .groupBy(col("doc_id"))
      .agg(expr(
        "flatten(transform(array_sort(collect_list(struct(pos, ps))), x -> x.ps))")
        .as("t"))
      .withColumn("n", size(col("t")))
      .select(col("doc_id"), col("t"),
        explode(expr(
          s"filter(sequence(1, n, $stride), s -> s = 1 OR s + $overlap <= n)"))
          .as("s"))
      .select(col("doc_id"),
        expr(s"cast((s - 1) div $stride as int)").as("chunk_idx"),
        expr(s"size(slice(t, s, $chunkTokens))").as("chunk_pieces"),
        expr(s"array_join(slice(t, s, $chunkTokens), ' ')").as("chunk_text"))
  }

  /** Per-document subword token counts under a trained vocab: raw word
    * count, greedy-subword piece count, and the pieces-per-word ratio
    * in integer ppm — the token accounting a training pipeline packs
    * and budgets by (packing on whitespace words undercounts real
    * tokenizer tokens; see p12).
    *
    * Scale shape: the kernel runs once per DISTINCT word (the corpus
    * vocabulary), not per occurrence; the piece table then joins back
    * keyed on the word — t08's shape. Hot stopword keys are the
    * AQE-skew-split case, or broadcast the piece table outright when
    * the distinct-word count allows.
    */
  def subwordTokenCounts(docs: DataFrame, vocab: Seq[String]): DataFrame = {
    graft.functions.VectorExprs.register(docs.sparkSession)
    val pieces = docs.select(explode(tokens(col("text"))).as("word"))
      .distinct()
      .select(col("word"), subwordPieces(col("word"), vocab).as("np"))
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("word"))
      .join(pieces, "word")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("np")).cast("long").as("n_pieces"))
      .select(col("doc_id"), col("n_words"), col("n_pieces"),
        expr("n_pieces * 1000000 div n_words").as("pieces_per_word_ppm"))
  }

  /** TRUE BPE merge training (Sennrich, Haddow & Birch, "Neural
    * Machine Translation of Rare Words with Subword Units", ACL'16):
    * starting from characters, repeatedly merge the adjacent symbol
    * pair with the highest frequency weighted by word count (ties
    * broken lexicographically for cross-run determinism), `nMerges`
    * times. Training operates on the distinct-word FREQUENCY HISTOGRAM
    * — the standard trainer input — capped at the `maxWords` most
    * frequent words (ties lexicographic): even a 100 TB corpus trains
    * from a bounded histogram, the way production BPE trainers sample
    * or cap their word tables. The histogram collect is the
    * broadcast-build pattern ([[subwordVocab]]'s shape); the merge loop
    * itself is pure driver-side integer arithmetic.
    *
    * Unlike [[subwordVocab]] (frequency-ranked substrings, replayable
    * in one SQL query), the merge recursion's per-round global argmax
    * over mutating word segmentations is not expressible as a single
    * DuckDB query — so the BPE family is spec-gated (known merge
    * sequences, partition property) plus a rows-only driver check
    * (t14), while the oracle-hash-gated tokenizer family remains
    * t11/t12/t13.
    */
  def bpeMerges(docs: DataFrame, nMerges: Int = BpeGateMerges,
      maxWords: Int = 100000): Seq[(String, String)] = {
    val hist: Array[(Array[String], Long)] =
      docs.select(explode(tokens(col("text"))).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("w")).limit(maxWords)
        .collect()
        .map(r => (r.getString(0).map(_.toString).toArray, r.getLong(1)))
    var words = hist
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var exhausted = false
    while (merges.length < nMerges && !exhausted) {
      val counts = scala.collection.mutable.HashMap
        .empty[(String, String), Long]
      words.foreach { case (syms, c) =>
        var i = 0
        while (i < syms.length - 1) {
          val p = (syms(i), syms(i + 1))
          counts.update(p, counts.getOrElse(p, 0L) + c)
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        val best = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }._1
        merges += best
        words = words.map { case (syms, c) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          var j = 0
          while (j < syms.length) {
            if (j < syms.length - 1 && syms(j) == best._1 &&
              syms(j + 1) == best._2) {
              out += best._1 + best._2
              j += 2
            } else {
              out += syms(j)
              j += 1
            }
          }
          (out.toArray, c)
        }
      }
    }
    merges.toSeq
  }

  /** Gate merge count for t14 — deliberately below the ~155 merges
    * that would memorize the synthetic fixture's 31-word vocabulary
    * outright: at 48 the most frequent words collapse to single
    * pieces while rarer words stay partially segmented, so the gate
    * output actually exercises mixed-depth merge chains.
    */
  val BpeGateMerges: Int = 48

  /** BPE tokenization under a trained merge table: per DISTINCT word,
    * the bpe_split kernel applies merges in rank order (GPT-2-style
    * lowest-rank-first, left-to-right) — the merge table is one
    * broadcast reference, so plan size is merge-count-independent,
    * same as the subword kernels. Output shape mirrors
    * [[subwordTokenCounts]]: per-doc word and piece counts.
    */
  def bpeTokenCounts(docs: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    graft.functions.VectorExprs.register(docs.sparkSession)
    val mergeLit = typedlit(merges.map { case (a, b) => s"$a $b" })
    val pieces = docs.select(explode(tokens(col("text"))).as("word"))
      .distinct()
      .select(col("word"),
        size(call_function("bpe_split", col("word"), mergeLit)).as("np"))
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("word"))
      .join(pieces, "word")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("np")).cast("long").as("n_pieces"))
      .select(col("doc_id"), col("n_words"), col("n_pieces"),
        expr("n_pieces * 1000000 div n_words").as("pieces_per_word_ppm"))
  }

  /** Per-corpus memoized BPE merges (same artifact pattern as
    * [[gateVocab]]; plain driver-side data, session-independent).
    * `lastGateMerges` tracks the most recent training so [[oracle]] can
    * interpolate the merge list into t14's replay SQL: Verify runs the
    * queries (training the merges for its sfDir) before it dumps
    * oracle_sql.json, so by the time the oracle map is rendered the
    * corpus-matched list is always available.
    */
  private val trainedMerges =
    collection.concurrent.TrieMap.empty[String, Seq[(String, String)]]
  @volatile private var lastGateMerges: Option[Seq[(String, String)]] = None
  private[operators] def gateMerges(s: SparkSession,
      d: String): Seq[(String, String)] = {
    val m = trainedMerges.getOrElseUpdate(s"$d|$BpeGateMerges",
      bpeMerges(graft.Tables.documents(s, d)))
    lastGateMerges = Some(m)
    m
  }

  /** Content fingerprint: md5 over whitespace-normalized lowercase text,
    * plus a 64-bit prefix view for compact storage/joins.
    */
  def fingerprint(docs: DataFrame): DataFrame = {
    val normalized = lower(regexp_replace(col("text"), "\\s+", " "))
    docs.select(
      col("doc_id"),
      md5(normalized).as("fp"),
      substring(md5(normalized), 1, 16).as("fp64"))
  }

  /** Gate-level memo of the trained vocab per corpus dir (the offline-
    * artifact pattern, like Similarity's trained centroids): Bench
    * repeats and the p12 packing gate reuse one training run. Safe —
    * derivation is deterministic, and the key carries the size so
    * changing the constant invalidates naturally. Unlike
    * [[Dedup.gateClusters]]'s frame memo, this stores a plain
    * driver-side Seq (collected), so entries survive a session
    * stop/restart and need no session key.
    */
  // ------------------------------------------- bigram LM surprisal

  /** Interpolation weight on the bigram term; the unigram floor keeps
    * unseen-context tokens finite (Jelinek–Mercer smoothing).
    */
  val BigramLambda = 0.7

  /** Interpolated bigram LM surprisal — the context-aware step from
    * t16's unigram scorer toward CCNet's KenLM: per-token surprisal
    * −ln(λ·p(w|v) + (1−λ)·p(w)) with the corpus-trained bigram and
    * unigram MLEs, first tokens scored by the unigram alone. Repeated
    * word pairs collapse to one scored row per distinct (doc, v, w)
    * with an occurrence count, and per-token surprisals round to 6
    * decimals into decimal sums (the t16 convention) so document
    * scores are bit-stable across engines and partitionings.
    *
    * Scale shape: the unigram/bigram/left-context tables are all
    * corpus-vocabulary-bounded partial aggregations; scoring joins key
    * on token/bigram (map-side combined — one row per distinct
    * (doc, v, w) crosses the wire), and the 1-row totals broadcast.
    * No window, no driver funnel.
    */
  def bigramSurprisal(docs: DataFrame): DataFrame = {
    val t = docs.select(col("doc_id"), tokens(col("text")).as("t"))
    val first = t.filter(size(col("t")) >= 1)
      .select(col("doc_id"), element_at(col("t"), 1).as("w"))
    val bg = t.filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(t)-1), " +
          "i -> struct(element_at(t, i) AS v, element_at(t, i+1) AS w))"))
        .as("p"))
      .select(col("doc_id"), col("p.v"), col("p.w"))
    val toks = t.select(col("doc_id"), explode(col("t")).as("w"))
    // no .cache() on the census tables: all consumers live in ONE
    // query, where Spark's exchange reuse serves the repeated
    // subtrees from the same shuffle files — the InMemoryRelation
    // wrapper DEFEATED that (24 cache scans + their materialization
    // jobs in the t20 plan; r21 A/B medians: t19 2.39->1.35 s with
    // jobs 23->14 / tasks 399->18, t20 5.03->2.08 s with 727->26
    // tasks, results hash-identical)
    val uni = toks.groupBy(col("w")).agg(count(lit(1)).as("cw"))
    val total = uni.select(sum(col("cw")).as("n"))
    val biCnt = bg.groupBy(col("v"), col("w")).agg(count(lit(1)).as("cvw"))
    val leftCnt = biCnt.groupBy(col("v")).agg(sum(col("cvw")).as("cv"))
    val lam = BigramLambda
    val bgScored = bg.groupBy(col("doc_id"), col("v"), col("w"))
      .agg(count(lit(1)).as("occ"))
      .join(biCnt, Seq("v", "w")).join(leftCnt, Seq("v"))
      .join(uni, Seq("w")).crossJoin(broadcast(total))
      .select(col("doc_id"), col("occ"),
        round(-log(
          lit(lam) * (col("cvw").cast("double") / col("cv").cast("double")) +
            lit(1.0 - lam) *
              (col("cw").cast("double") / col("n").cast("double"))), 6)
          .cast("decimal(28,6)").as("s"))
    val ftScored = first.groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("occ"))
      .join(uni, Seq("w")).crossJoin(broadcast(total))
      .select(col("doc_id"), col("occ"),
        round(-log(col("cw").cast("double") / col("n").cast("double")), 6)
          .cast("decimal(28,6)").as("s"))
    bgScored.unionAll(ftScored)
      .groupBy(col("doc_id"))
      .agg(sum(col("occ")).as("n_toks"),
        sum(col("s") * col("occ")).cast("double").as("sum_surprisal"))
      .withColumn("mean_surprisal", col("sum_surprisal") / col("n_toks"))
  }

  // ------------------------------------------ trigram LM surprisal

  /** Jelinek–Mercer interpolation weights for the trigram scorer:
    * λ₃ on p(w|u,v), λ₂ on p(w|v), λ₁ on p(w); they sum to 1. When a
    * position has no trigram context (the second token), the trigram
    * mass collapses onto the bigram term — the standard recursive-JM
    * backoff for short histories — so position 2 scores with
    * (λ₃+λ₂)·p(w|v) + λ₁·p(w) and position 1 with the unigram alone.
    * The oracle interpolates these SAME doubles as literals
    * (λ₃+λ₂ is computed once here and round-trips exactly), so both
    * engines evaluate identical float expressions.
    */
  val TrigramL3 = 0.6
  val TrigramL2 = 0.3
  val TrigramL1 = 0.1

  /** t20: interpolated TRIGRAM LM surprisal — the next CCNet-fidelity
    * step after t19's bigram scorer (KenLM's default order is 5; each
    * added order is this same census+join shape one level deeper).
    * Per-token surprisal −ln(λ₃·p(w|u,v) + λ₂·p(w|v) + λ₁·p(w)) with
    * corpus-trained MLEs; short-history positions per [[TrigramL3]]'s
    * collapse rule. Repeated trigrams collapse to one scored row per
    * distinct (doc, u, v, w) with an occurrence count, and per-token
    * surprisals round to 6 decimals into decimal sums (the t16/t19
    * convention) so document scores are bit-stable across engines and
    * partitionings.
    *
    * Scale shape: exactly t19's one level deeper — the unigram /
    * bigram / trigram censuses and their left-context marginals are
    * all corpus-vocabulary-bounded partial aggregations; scoring
    * joins key on the n-gram (map-side combined — one row per
    * distinct (doc, u, v, w) crosses the wire); the 1-row total
    * broadcasts. The trigram census is the only table that grows
    * with corpus vocabulary² in the worst case — the standard LM
    * training cost, still partial-aggregated and never a window.
    */
  def trigramSurprisal(docs: DataFrame): DataFrame = {
    val t = docs.select(col("doc_id"), tokens(col("text")).as("t"))
    val toks = t.select(col("doc_id"), explode(col("t")).as("w"))
    // censuses uncached — exchange reuse covers the repeats, see
    // bigramSurprisal's note
    val uni = toks.groupBy(col("w")).agg(count(lit(1)).as("cw"))
    val total = uni.select(sum(col("cw")).as("n"))
    val bg = t.filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(t)-1), " +
          "i -> struct(element_at(t, i) AS v, element_at(t, i+1) AS w))"))
        .as("p"))
      .select(col("doc_id"), col("p.v"), col("p.w"))
    val biCnt = bg.groupBy(col("v"), col("w")).agg(count(lit(1)).as("cvw"))
    val leftCnt = biCnt.groupBy(col("v")).agg(sum(col("cvw")).as("cv"))
    val tg = t.filter(size(col("t")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(t)-2), " +
          "i -> struct(element_at(t, i) AS u, element_at(t, i+1) AS v, " +
          "element_at(t, i+2) AS w))")).as("p"))
      .select(col("doc_id"), col("p.u"), col("p.v"), col("p.w"))
    val triCnt =
      tg.groupBy(col("u"), col("v"), col("w")).agg(count(lit(1)).as("cuvw"))
    val triLeft = triCnt.groupBy(col("u"), col("v"))
      .agg(sum(col("cuvw")).as("cuv"))
    val l3 = TrigramL3; val l2 = TrigramL2; val l1 = TrigramL1
    val l23 = TrigramL3 + TrigramL2 // one double, round-tripped by oracle
    // positions 3..n: full trigram interpolation
    val tgScored = tg.groupBy(col("doc_id"), col("u"), col("v"), col("w"))
      .agg(count(lit(1)).as("occ"))
      .join(triCnt, Seq("u", "v", "w")).join(triLeft, Seq("u", "v"))
      .join(biCnt, Seq("v", "w")).join(leftCnt, Seq("v"))
      .join(uni, Seq("w")).crossJoin(broadcast(total))
      .select(col("doc_id"), col("occ"),
        round(-log(
          lit(l3) * (col("cuvw").cast("double") / col("cuv").cast("double")) +
            lit(l2) * (col("cvw").cast("double") / col("cv").cast("double")) +
            lit(l1) * (col("cw").cast("double") / col("n").cast("double"))), 6)
          .cast("decimal(28,6)").as("s"))
    // position 2: trigram mass collapsed onto the bigram term
    val sdScored = t.filter(size(col("t")) >= 2)
      .select(col("doc_id"), element_at(col("t"), 1).as("v"),
        element_at(col("t"), 2).as("w"))
      .groupBy(col("doc_id"), col("v"), col("w"))
      .agg(count(lit(1)).as("occ"))
      .join(biCnt, Seq("v", "w")).join(leftCnt, Seq("v"))
      .join(uni, Seq("w")).crossJoin(broadcast(total))
      .select(col("doc_id"), col("occ"),
        round(-log(
          lit(l23) * (col("cvw").cast("double") / col("cv").cast("double")) +
            lit(l1) * (col("cw").cast("double") / col("n").cast("double"))), 6)
          .cast("decimal(28,6)").as("s"))
    // position 1: unigram alone (t19's first-token rule)
    val ftScored = t.filter(size(col("t")) >= 1)
      .select(col("doc_id"), element_at(col("t"), 1).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("occ"))
      .join(uni, Seq("w")).crossJoin(broadcast(total))
      .select(col("doc_id"), col("occ"),
        round(-log(col("cw").cast("double") / col("n").cast("double")), 6)
          .cast("decimal(28,6)").as("s"))
    tgScored.unionAll(sdScored).unionAll(ftScored)
      .groupBy(col("doc_id"))
      .agg(sum(col("occ")).as("n_toks"),
        sum(col("s") * col("occ")).cast("double").as("sum_surprisal"))
      .withColumn("mean_surprisal", col("sum_surprisal") / col("n_toks"))
  }

  // ------------------------------------------- perplexity bucketing

  /** Deterministic sample stride for training the bucket cutoffs —
    * production trains them on a held-out slice, never the corpus.
    */
  val PplSampleMod = 4

  /** t21: CCNet-style perplexity bucketing (Wenzek et al., LREC'20):
    * per-language head/middle/tail terciles of LM surprisal — the
    * partition CCNet publishes and downstream recipes filter on
    * (keep head+middle, drop tail). Scores are [[bigramSurprisal]]'s
    * mean surprisal in integer micro-units (the t06 exactness
    * convention); cutoffs are the ⌈n/3⌉-th and ⌈2n/3⌉-th order
    * statistics of a DETERMINISTIC ¼ sample per language, and every
    * document buckets by value against the broadcast cutoffs.
    *
    * Scale shape: this is the sample-trained-threshold pattern, not a
    * corpus-wide ntile — an ntile(3) window would sort every language
    * partition end to end (the x03 round-11 finding's shape), while
    * here the only order-sensitive step is over the bounded sample
    * (collect_list per language of the sampled scores — the
    * documented trade; production sizes the sample, not the corpus),
    * and bucketing is a map-side comparison against a broadcast
    * 2-value-per-language table.
    */
  def perplexityBuckets(docs: DataFrame): DataFrame = {
    val scored = bigramSurprisal(docs)
      .select(col("doc_id"),
        round(col("mean_surprisal") * 1e6).cast("long").as("s_micro"))
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
    val cuts = scored.filter(col("doc_id") % PplSampleMod === 0)
      .groupBy(col("lang"))
      .agg(sort_array(collect_list(col("s_micro"))).as("arr"))
      .select(col("lang"), size(col("arr")).as("n"), col("arr"))
      .select(col("lang"),
        element_at(col("arr"), expr("cast((n + 2) div 3 as int)"))
          .as("cut1"),
        element_at(col("arr"), expr("cast((2 * n + 2) div 3 as int)"))
          .as("cut2"))
    // LEFT join + null-cut → head: a language too small (or too
    // unluckily id'd) to land a sample row must not silently lose
    // every document — an unbucketable language is KEPT whole, never
    // dropped (the conservative failure mode for a cleaning stage)
    scored.join(broadcast(cuts), Seq("lang"), "left_outer")
      .withColumn("bucket",
        when(col("cut1").isNull || col("s_micro") <= col("cut1"),
          lit("head"))
          .when(col("s_micro") <= col("cut2"), lit("middle"))
          .otherwise(lit("tail")))
      .select(col("doc_id"), col("lang"), col("s_micro"), col("bucket"))
      .orderBy(col("doc_id"))
  }

  /** t21's cutoff-derivation CTE (expects an `ms` CTE of (doc_id,
    * s_micro, lang) in scope) and the bucketing CASE — shared by the
    * t21 and p21 oracles so the tercile definition has one source of
    * truth.
    */
  private[operators] def pplCutCtes: String =
    s"""cuts AS (SELECT lang,
       |   arr[CAST((n + 2) // 3 AS INT)] AS cut1,
       |   arr[CAST((2 * n + 2) // 3 AS INT)] AS cut2
       |  FROM (SELECT lang, list_sort(list(s_micro)) AS arr,
       |     CAST(COUNT(*) AS BIGINT) AS n
       |   FROM ms WHERE doc_id % $PplSampleMod = 0 GROUP BY 1))""".stripMargin

  private[operators] val pplBucketCase: String =
    "CASE WHEN cut1 IS NULL OR s_micro <= cut1 THEN 'head' " +
      "WHEN s_micro <= cut2 THEN 'middle' ELSE 'tail' END"

  // ---------------------------------------------- model-scored quality

  /** Fixed classifier weights — in production these come from an
    * offline training run (a fastText/logistic model fit on
    * wiki-vs-crawl labels); inference ships them as literals. The
    * values here are calibrated so the synthetic corpus splits
    * non-trivially at the 0.5 threshold.
    */
  val QmW0 = -1.4
  val QmWLen = 0.5
  val QmWStop = 20.0
  val QmWPunct = -2.0
  val QmWMlen = -0.3

  /** Model-based quality scoring — the classifier-filter stage of the
    * CCNet/RefinedWeb/FineWeb lineage: a trained linear model scores
    * every document and the pipeline keeps score ≥ 0.5. This is the
    * INFERENCE pass (training is an offline job); the model is a
    * logistic over interpretable document features:
    *
    *   z = w₀ + w_len·ln(n_tokens) + w_stop·stop_ratio
    *       + w_punct·punct_ratio + w_mlen·mean_token_len
    *
    * Features are integer-exact (ppm ratios, centi-chars per token —
    * the t06 convention) so the only floats are the weight products;
    * z and the sigmoid round to 6 decimals for cross-engine stability.
    *
    * Scale shape: weights are literals in the plan — scoring is pure
    * map-side codegen at scan speed, no shuffle, no UDF; the keep
    * filter pushes down like any column predicate. A 1000-executor run
    * scores 100 TB without any coordination.
    */
  def qualityModelScore(docs: DataFrame): DataFrame = {
    val nTok = size(tokens(col("text")))
    val nPunct = regexp_count(col("text"), lit("[.,;:!?]"))
    val nStop = regexp_count(col("text"), lit("\\b(the|a|and|of|to)\\b"))
    docs.select(
      col("doc_id"),
      nTok.cast("long").as("n_tokens"),
      nPunct.cast("long").as("np"),
      nStop.cast("long").as("ns"),
      length(col("text")).cast("long").as("lc"))
      .select(col("doc_id"), col("n_tokens"),
        expr("np * 1000000 div n_tokens").as("punct_ppm"),
        expr("ns * 1000000 div n_tokens").as("stop_ppm"),
        expr("lc * 100 div n_tokens").as("mlen_c"))
      .withColumn("z", round(
        lit(QmW0) +
          lit(QmWLen) * log(col("n_tokens").cast("double")) +
          lit(QmWStop) * (col("stop_ppm").cast("double") / lit(1000000.0)) +
          lit(QmWPunct) * (col("punct_ppm").cast("double") / lit(1000000.0)) +
          lit(QmWMlen) * (col("mlen_c").cast("double") / lit(100.0)), 6))
      .withColumn("score", round(lit(1.0) / (lit(1.0) + exp(-col("z"))), 6))
      .withColumn("keep", (col("score") >= 0.5).cast("int"))
  }

  // ------------------------------------ trained quality classifier (t23)

  /** Training hyperparameters for the in-engine logistic classifier —
    * pinned constants shared with the oracle's symbolic replay.
    */
  val LrIters = 5
  val LrRate = 0.5

  /** The LR feature row: t18's interpretable features as DETERMINISTIC
    * doubles (log token count rounded to 6 dp; the ratio features are
    * exact integer ppm/centi divisions cast once), plus the training
    * label — the English stratum is the positive class, the label this
    * corpus's features can actually express (the stopword ratio is an
    * English-stopword ratio); in production the labels come from a
    * curated positive set (wiki-vs-crawl) exactly the same way.
    */
  private def lrFeatures(docs: DataFrame): DataFrame = {
    val nTok = size(tokens(col("text")))
    val nPunct = regexp_count(col("text"), lit("[.,;:!?]"))
    val nStop = regexp_count(col("text"), lit("\\b(the|a|and|of|to)\\b"))
    docs.select(col("doc_id"),
        when(col("lang") === "en", 1.0).otherwise(0.0).as("y"),
        nTok.cast("long").as("n_tokens"),
        nPunct.cast("long").as("np"),
        nStop.cast("long").as("ns"),
        length(col("text")).cast("long").as("lc"))
      .select(col("doc_id"), col("y"),
        round(log(col("n_tokens").cast("double")), 6).as("x1"),
        (expr("ns * 1000000 div n_tokens").cast("double") / 1000000.0)
          .as("x2"),
        (expr("np * 1000000 div n_tokens").cast("double") / 1000000.0)
          .as("x3"),
        (expr("lc * 100 div n_tokens").cast("double") / 100.0).as("x4"))
  }

  /** TRAIN the quality classifier in-engine — the step t18 leaves to
    * an offline job. Full-batch logistic gradient descent, made
    * bit-reproducible the way every trained gate artifact here is
    * (k-means, PQ, BPE): per-document gradient contributions are
    * EXACT decimal products — p, y, and the feature are cast to
    * 6 dp decimals, so (p−y)·x is an exact 12 dp decimal with NO
    * rounding step (rounding a product of two 6 dp values AT 6 dp
    * lands on structurally exact .5 boundaries, where each engine's
    * binary double representation flips its own coin — measured:
    * gradients off at 1e-7 from epoch 1) — summed as decimals
    * (order-independent, no float reduction tree). Weights round to
    * 9 dp per step; the oracle replays the SAME loop from the raw
    * table as iterated CTEs, so a diverging float anywhere in 5
    * epochs breaks the hash.
    *
    * Scale shape: one cached feature scan; each epoch is ONE partial
    * aggregation collapsing to a single 5-gradient row on the driver
    * (the kMeansCentroids broadcast-artifact pattern) — 100 TB trains
    * in `iters` scans with no shuffle wider than the partial agg.
    */
  def trainQualityLr(docs: DataFrame, iters: Int = LrIters,
      rate: Double = LrRate): Array[Double] = {
    val f = lrFeatures(docs).cache()
    try {
      val n = f.count().toDouble
      require(n > 0, "trainQualityLr: empty corpus")
      var w = Array.fill(5)(0.0)
      val xs = Seq(lit(1.0), col("x1"), col("x2"), col("x3"), col("x4"))
      for (_ <- 1 to iters) {
        val z = round(lit(w(0)) + lit(w(1)) * col("x1") +
          lit(w(2)) * col("x2") + lit(w(3)) * col("x3") +
          lit(w(4)) * col("x4"), 6)
        val p = round(lit(1.0) / (lit(1.0) + exp(-z)), 6)
        val resid = p.cast("decimal(16,6)") - col("y").cast("decimal(16,6)")
        val g = f.select(xs.zipWithIndex.map { case (x, j) =>
          sum(resid * x.cast("decimal(16,6)")).as(s"g$j") }: _*)
          .collect()(0)
        w = w.indices.map(j =>
          BigDecimal(w(j) - rate * g.getDecimal(j).doubleValue() / n)
            .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble).toArray
      }
      w
    } finally { f.unpersist(); () }
  }

  /** Score with TRAINED weights — t18's inference shape (map-side
    * codegen, literal weights, no shuffle), weights from
    * [[trainQualityLr]] instead of shipped constants.
    */
  def lrQualityScore(docs: DataFrame, w: Seq[Double]): DataFrame =
    lrFeatures(docs)
      .withColumn("z", round(lit(w(0)) + lit(w(1)) * col("x1") +
        lit(w(2)) * col("x2") + lit(w(3)) * col("x3") +
        lit(w(4)) * col("x4"), 6))
      .withColumn("score", round(lit(1.0) / (lit(1.0) + exp(-col("z"))), 6))
      .withColumn("keep", (col("score") >= 0.5).cast("int"))
      .drop("y")

  private val trainedLrW =
    collection.concurrent.TrieMap.empty[String, Array[Double]]
  private def gateLrWeights(s: SparkSession, d: String): Array[Double] =
    trainedLrW.getOrElseUpdate(s"$d|$LrIters|$LrRate",
      trainQualityLr(Tables.documents(s, d)))

  /** The t23 oracle's iterated-CTE training replay (the lloydCtes
    * pattern): feature CTE + `LrIters` (gradient, weight) CTE pairs,
    * every arithmetic step mirroring [[trainQualityLr]] exactly —
    * 6 dp rounded per-doc contributions into DECIMAL sums, 9 dp
    * rounded weight updates.
    */
  private def lrCtes(src: String): String = {
    val feat =
      s"""lrf0 AS (SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |  CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS BIGINT) AS np,
         |  CAST(len(regexp_extract_all(text, '\\b(the|a|and|of|to)\\b'))
         |    AS BIGINT) AS ns,
         |  CAST(length(text) AS BIGINT) AS lc,
         |  CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
         | FROM $src),
         |lrf AS (SELECT doc_id, y,
         |  ROUND(ln(CAST(n_tokens AS DOUBLE)), 6) AS x1,
         |  CAST((ns * 1000000) // n_tokens AS DOUBLE) / 1000000.0 AS x2,
         |  CAST((np * 1000000) // n_tokens AS DOUBLE) / 1000000.0 AS x3,
         |  CAST((lc * 100) // n_tokens AS DOUBLE) / 100.0 AS x4 FROM lrf0),
         |lrn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS c FROM lrf),
         |lrw0 AS (SELECT 0.0 AS b, 0.0 AS w1, 0.0 AS w2,
         |  0.0 AS w3, 0.0 AS w4)""".stripMargin
    val iters = (1 to LrIters).map { t =>
      s"""lrg$t AS (SELECT
         |   SUM(rd * CAST(1.0 AS DECIMAL(16,6))) AS g0,
         |   SUM(rd * CAST(x1 AS DECIMAL(16,6))) AS g1,
         |   SUM(rd * CAST(x2 AS DECIMAL(16,6))) AS g2,
         |   SUM(rd * CAST(x3 AS DECIMAL(16,6))) AS g3,
         |   SUM(rd * CAST(x4 AS DECIMAL(16,6))) AS g4
         |  FROM (SELECT x1, x2, x3, x4,
         |     CAST(p AS DECIMAL(16,6)) - CAST(y AS DECIMAL(16,6)) AS rd
         |   FROM (SELECT y, x1, x2, x3, x4,
         |     ROUND(1.0 / (1.0 + exp(-ROUND(w.b + w.w1 * x1 + w.w2 * x2
         |       + w.w3 * x3 + w.w4 * x4, 6))), 6) AS p
         |    FROM lrf, lrw${t - 1} w))),
         |lrw$t AS (SELECT
         |   ROUND(w.b  - $LrRate * CAST(g.g0 AS DOUBLE) / n.c, 9) AS b,
         |   ROUND(w.w1 - $LrRate * CAST(g.g1 AS DOUBLE) / n.c, 9) AS w1,
         |   ROUND(w.w2 - $LrRate * CAST(g.g2 AS DOUBLE) / n.c, 9) AS w2,
         |   ROUND(w.w3 - $LrRate * CAST(g.g3 AS DOUBLE) / n.c, 9) AS w3,
         |   ROUND(w.w4 - $LrRate * CAST(g.g4 AS DOUBLE) / n.c, 9) AS w4
         |  FROM lrw${t - 1} w, lrg$t g, lrn n)""".stripMargin
    }
    (feat +: iters).mkString(",\n")
  }

  private[operators] def lrOracleSql: String =
    s"""WITH ${lrCtes("documents")},
       |lrsc AS (SELECT f.doc_id, f.y, f.x1, f.x2, f.x3, f.x4,
       |   ROUND(w.b + w.w1 * x1 + w.w2 * x2 + w.w3 * x3 + w.w4 * x4, 6)
       |     AS z
       |  FROM lrf f, lrw$LrIters w)
       |SELECT doc_id, x1, x2, x3, x4, z,
       |  ROUND(1.0 / (1.0 + exp(-z)), 6) AS score,
       |  CASE WHEN ROUND(1.0 / (1.0 + exp(-z)), 6) >= 0.5 THEN 1 ELSE 0
       |    END AS keep
       |FROM lrsc ORDER BY doc_id""".stripMargin

  // ------------------------------------------------- importance resampling

  val DsirBuckets = 1024
  val DsirTargetSource = "src0"
  val DsirTopK = 100

  /** DSIR-style data selection with importance resampling (Xie et al.,
    * NeurIPS'23): score every raw document by how much its hashed
    * n-gram profile looks like a small TARGET corpus (in production:
    * wiki/books; here: one source stratum), and keep the top scorers.
    * Features are bigram occurrences hashed into [[DsirBuckets]]
    * buckets; target and raw bucket distributions get Laplace
    * smoothing, and a document's log importance weight is
    *
    *   Σ_features  ln p_target(bucket) − ln p_raw(bucket)
    *
    * Per-bucket log-ratios round to 6 decimals into decimal sums (the
    * t16 convention), so scores are bit-stable across engines and
    * partitionings. The md5 bucket hash is the family's standard
    * 60-bit decode — deterministic, replayed by the oracle.
    *
    * Scale shape: ONE corpus scan builds both bucket censuses (the
    * target count rides as a conditional sum — no second scan, no
    * join); the census collapses map-side to ≤1024 rows, the totals to
    * one. Scoring joins the feature stream against the BROADCAST
    * 1024-row term table, then partial-aggregates per doc; selection is
    * TakeOrderedAndProject. No shuffle ever carries more than one row
    * per (doc, bucket).
    */
  def dsirSelect(docs: DataFrame, targetSource: String = DsirTargetSource,
      topK: Int = DsirTopK): DataFrame = {
    // guide §2.5 input skew: the corpus arrives as ONE unsplittable
    // row group at bench scale, so the expensive tokenize + bigram
    // md5 map phase (×2: census pass and scoring pass) ran as one
    // task per pass (measured: 3 single-task stages of 450-760 ms =
    // ~all of t17's 1.9 s, 31 of 32 cores idle). Rebalance right
    // after the read ONLY when the scan's parallelism is actually
    // below the cores — at 100 TB the input is thousands of splits
    // and this branch never fires, so no corpus-wide shuffle is
    // added at scale. Output is partitioning-invariant (integer
    // censuses, decimal term sums, deterministic top-K ordering).
    val feats = graft.util.Cols.rebalanceIfNarrow(docs)
      .select(col("doc_id"), col("source"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), col("source"), explode(expr(
        "transform(sequence(1, size(t)-1), " +
          "i -> concat(element_at(t, i), ' ', element_at(t, i+1)))"))
        .as("bg"))
      .withColumn("bucket",
        conv(substring(md5(concat(lit("t17:"), col("bg"))), 1, 15), 16, 10)
          .cast("long") % DsirBuckets)
    val census = feats.groupBy(col("bucket"))
      .agg(sum(when(col("source") === targetSource, 1L).otherwise(0L))
        .as("ct"), count(lit(1)).as("cr"))
    val totals = census.agg(sum(col("ct")).as("nt"), sum(col("cr")).as("nr"))
    val terms = census.crossJoin(broadcast(totals))
      .select(col("bucket"),
        round(
          log((col("ct") + 1).cast("double") /
            (col("nt") + lit(DsirBuckets.toLong)).cast("double")) -
            log((col("cr") + 1).cast("double") /
              (col("nr") + lit(DsirBuckets.toLong)).cast("double")), 6)
          .cast("decimal(28,6)").as("term"))
    feats.join(broadcast(terms), "bucket")
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_feats"),
        sum(col("term")).cast("double").as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topK)
  }

  private val trainedVocab =
    collection.concurrent.TrieMap.empty[String, Seq[String]]
  private[operators] def gateVocab(s: SparkSession, d: String): Seq[String] =
    trainedVocab.getOrElseUpdate(s"$d|$SubwordVocabSize",
      subwordVocab(graft.Tables.documents(s, d)))

  // ---- t22: PII redaction (training-data hygiene pass) ----

  /** The t22 GATE's redaction classes, ordered; patterns are
    * deliberately narrow — pinned to the injected fixture's value
    * shapes — and written in the common subset of Java regex (Spark's
    * codegen'd `regexp_replace`/`regexp_count`) and RE2 (the DuckDB
    * oracle) — character classes, bounded repetition, ASCII `\b` — so
    * both engines redact byte-identically. A deployment redacts with
    * [[PiiClassesProduction]] (or its own list); this set exists to
    * hash-gate the OPERATOR, not to define what PII is.
    */
  val PiiClasses: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._]+@[A-Za-z0-9]+\\.[a-z]{2,4}", "<EMAIL>"),
    ("ip", "\\b10\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b", "<IP>"),
    ("phone", "\\b555-[0-9]{4}\\b", "<PHONE>"))

  /** A production-grade default class list — what a real cleaning
    * pipeline passes: general emails (full local-part charset, TLDs to
    * 24 chars), octet-precise IPv4 anywhere in address space, E.164
    * international AND separator-formatted national phone numbers, and
    * US SSNs. Still the Java/RE2 common subset (alternation, bounded
    * repetition, ASCII `\b`), so the same list drives either engine.
    * Order matters only for inputs where classes overlap: IP runs
    * before phone so a dotted quad is `<IP>`, never a phone-shaped
    * fragment.
    */
  val PiiClassesProduction: Seq[(String, String, String)] = {
    val octet = "(25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])"
    Seq(
      ("email",
        "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,24}", "<EMAIL>"),
      ("ip", s"\\b$octet(\\.$octet){3}\\b", "<IP>"),
      ("phone",
        "\\+[1-9][0-9]{6,14}\\b|\\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\\b",
        "<PHONE>"),
      ("ssn", "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b", "<SSN>"))
  }

  /** Redact PII from `textCol`: one row per document with per-class
    * match counts (counted BEFORE redaction, one `n_<name>` column per
    * class) and the redacted text — the form a cleaning pipeline
    * stores. At 100 TB this pass is a pure map (regex per row, no
    * shuffle): the cheapest stage in the pipeline and the first one a
    * compliance review asks for.
    *
    * @param classes ordered (name, pattern, replacement) triples —
    *   applied in order, so earlier classes win where a custom list
    *   overlaps. Defaults to the gate-pinned [[PiiClasses]];
    *   deployments pass [[PiiClassesProduction]] or their own list.
    */
  def piiRedact(docs: DataFrame, textCol: Column,
      classes: Seq[(String, String, String)] = PiiClasses): DataFrame = {
    val counts = classes.map { case (name, rx, _) =>
      regexp_count(textCol, lit(rx)).cast("long").as(s"n_$name")
    }
    val redacted = classes.foldLeft(textCol) {
      case (c, (_, rx, tag)) => regexp_replace(c, rx, tag)
    }
    docs.select((col("doc_id") +: counts :+ redacted.as("redacted")): _*)
  }

  /** The t22 gate fixture: the corpus carries no digits at all, so PII
    * is INJECTED as a pure doc_id function (the m06-m08 fixture
    * discipline — the oracle recomputes the same raw string in SQL):
    * doc_id mod 4 picks none/email/IP/phone, with the identifier
    * derived from the id so every injected value is distinct.
    */
  def withPiiFixture(docs: DataFrame): DataFrame =
    docs.withColumn("raw", concat(col("text"),
      when(col("doc_id") % 4 === 1,
        concat(lit(" contact user"), col("doc_id"),
          lit("@mail"), col("doc_id") % 7, lit(".com")))
        .when(col("doc_id") % 4 === 2,
          concat(lit(" from 10."), col("doc_id") % 256,
            lit("."), col("doc_id") % 64, lit("."), col("doc_id") % 32))
        .when(col("doc_id") % 4 === 3,
          concat(lit(" call 555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
        .otherwise(lit(""))))

  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // md5 pins the full redacted string, so count AND replacement
    // semantics must agree across engines byte-for-byte
    "t22_pii_redact" -> ((s, d) => {
      val r = piiRedact(withPiiFixture(Tables.documents(s, d)), col("raw"))
      r.select(col("doc_id"), col("n_email"), col("n_ip"), col("n_phone"),
          md5(col("redacted")).as("redacted_md5"))
        .orderBy(col("doc_id"))
    }),
    // NOTE no .orderBy: the top-k is already TakeOrderedAndProject-
    // ordered; the driver compare sorts rows anyway
    "t15_bm25" -> ((s, d) => bm25TopK(Tables.documents(s, d))),
    "t16_surprisal" -> ((s, d) =>
      surprisalScore(Tables.documents(s, d)).orderBy(col("doc_id"))),
    // top-K-ordered like t15; the driver compare sorts rows anyway
    "t17_dsir_select" -> ((s, d) => dsirSelect(Tables.documents(s, d))),
    "t18_quality_model" -> ((s, d) =>
      qualityModelScore(Tables.documents(s, d)).orderBy(col("doc_id"))),
    // the model t18 ships as literals, TRAINED in-engine — the oracle
    // replays all five gradient epochs from the raw table
    "t23_lr_quality" -> ((s, d) =>
      lrQualityScore(Tables.documents(s, d), gateLrWeights(s, d).toSeq)
        .orderBy(col("doc_id"))),
    "t19_bigram_lm" -> ((s, d) =>
      bigramSurprisal(Tables.documents(s, d)).orderBy(col("doc_id"))),
    "t20_trigram_lm" -> ((s, d) =>
      trigramSurprisal(Tables.documents(s, d)).orderBy(col("doc_id"))),
    "t21_ccnet_buckets" -> ((s, d) =>
      perplexityBuckets(Tables.documents(s, d))),
    "t11_subword" -> ((s, d) =>
      subwordTokenCounts(Tables.documents(s, d), gateVocab(s, d))
        .orderBy(col("doc_id"))),
    // GATE projects the nested array through to_json: the driver's
    // comparator sorts raw pandas columns and dies on nested ndarrays
    // (unhashable), so the gate row must be scalar-only. The lossless
    // array<array<string>> stays the public API (and is what the
    // partition-property spec pins); both engines emit identical
    // compact JSON for list-of-list-of-varchar.
    "t12_subword_pieces" -> ((s, d) =>
      subwordTokenize(Tables.documents(s, d), gateVocab(s, d))
        .select(col("doc_id"), to_json(col("pieces")).as("pieces_json"))
        .orderBy(col("doc_id"))),
    "t13_piece_chunks" -> ((s, d) =>
      chunkByPieces(Tables.documents(s, d), gateVocab(s, d))
        .orderBy(col("doc_id"), col("chunk_idx"))),
    // Oracle-hard via symbolic replay: training's per-round global
    // argmax is not one-SQL-query-expressible (see bpeMerges), but the
    // trained merge LIST is a deterministic corpus artifact, so
    // [[oracle]] interpolates it into the SQL as a literal rank table
    // and DuckDB replays GPT-2-style application recursively — the
    // same precedent as t11's symbolic greedy-fold replay.
    "t14_bpe_tokens" -> ((s, d) =>
      bpeTokenCounts(Tables.documents(s, d), gateMerges(s, d))
        .orderBy(col("doc_id"))),
    "t01_token_stats" -> ((s, d) =>
      tokenStats(Tables.documents(s, d)).orderBy(col("doc_id"))),
    "t02_langid" -> ((s, d) =>
      languageId(Tables.documents(s, d)).orderBy(col("doc_id"))),
    "t03_quality" -> ((s, d) =>
      qualityScore(Tables.documents(s, d)).orderBy(col("doc_id"))),
    "t04_fingerprint" -> ((s, d) =>
      fingerprint(Tables.documents(s, d)).orderBy(col("doc_id"))),
    "t24_gopher_repetition" -> ((s, d) =>
      gopherRepetition(Tables.documents(s, d)).orderBy(col("doc_id"))),
    "t06_repetition" -> ((s, d) =>
      repetitionSignals(Tables.documents(s, d)).orderBy(col("doc_id"))),
    "t07_chunking" -> ((s, d) =>
      chunkDocs(Tables.documents(s, d)).orderBy(col("doc_id"), col("chunk_idx"))),
    "t08_token_rarity" -> ((s, d) =>
      tokenRarity(Tables.documents(s, d)).orderBy(col("doc_id"))),
    "t09_pattern_scrub" -> ((s, d) =>
      patternScrub(Tables.documents(s, d), ScrubGatePattern)
        .orderBy(col("doc_id"))),
    "t10_normalize" -> ((s, d) =>
      normalizeText(Tables.documents(s, d)).orderBy(col("doc_id"))))

  /** Gate pattern for t09 — single source of truth for plan + oracle
    * (vocabulary the synthetic corpus contains; production swaps in
    * email/phone/IP patterns through the same machinery).
    */
  private val ScrubGatePattern = "\\b(key|value)\\b"

  /** t18's scoring CTE chain over an arbitrary source (no leading
    * WITH; final CTE `s` carries (doc_id, …, score)) — shared by the
    * composed-pipeline oracle (p21) so the classifier definition has
    * one source of truth.
    */
  private[operators] def qualityCtes(src: String): String =
    s"""f AS (SELECT doc_id,
       |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |  CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS BIGINT) AS np,
       |  CAST(len(regexp_extract_all(text, '\\b(the|a|and|of|to)\\b'))
       |    AS BIGINT) AS ns,
       |  CAST(length(text) AS BIGINT) AS lc
       | FROM $src),
       |r AS (SELECT doc_id, n_tokens,
       |  (np * 1000000) // n_tokens AS punct_ppm,
       |  (ns * 1000000) // n_tokens AS stop_ppm,
       |  (lc * 100) // n_tokens AS mlen_c FROM f),
       |z AS (SELECT *, ROUND($QmW0 + $QmWLen * ln(CAST(n_tokens AS DOUBLE))
       |  + $QmWStop * (CAST(stop_ppm AS DOUBLE) / 1000000.0)
       |  + $QmWPunct * (CAST(punct_ppm AS DOUBLE) / 1000000.0)
       |  + $QmWMlen * (CAST(mlen_c AS DOUBLE) / 100.0), 6) AS z FROM r),
       |s AS (SELECT *, ROUND(1.0 / (1.0 + exp(-z)), 6) AS score FROM z)""".stripMargin

  /** t19's oracle CTE chain (tokenize → censuses → scored positions →
    * per-doc decimal sums), shared verbatim by the t21 perplexity-
    * bucketing oracle so the surprisal definition has ONE source of
    * truth across gates.
    */
  private lazy val t19SurprisalCtes: String = surprisalCtes("documents")

  /** The same chain over an arbitrary source CTE/table (no leading
    * WITH — callers splice it into their own chain), so composed
    * pipelines (p21) can score a FILTERED corpus with the identical
    * census+interpolation definition.
    */
  private[operators] def surprisalCtes(src: String): String =
    s"""t AS (SELECT doc_id, string_split(text, ' ') AS t
         |  FROM $src),
         |u AS (SELECT doc_id, unnest(t) AS w FROM t),
         |uni AS (SELECT w, COUNT(*) AS cw FROM u GROUP BY 1),
         |tot AS (SELECT CAST(SUM(cw) AS BIGINT) AS n FROM uni),
         |bg AS (SELECT doc_id, t[i] AS v, t[i+1] AS w
         |  FROM t, LATERAL (SELECT unnest(range(1, len(t))) AS i)),
         |bic AS (SELECT v, w, COUNT(*) AS cvw FROM bg GROUP BY 1, 2),
         |lc AS (SELECT v, CAST(SUM(cvw) AS BIGINT) AS cv FROM bic
         |  GROUP BY 1),
         |bo AS (SELECT doc_id, v, w, COUNT(*) AS occ FROM bg
         |  GROUP BY 1, 2, 3),
         |bs AS (SELECT doc_id, occ, CAST(ROUND(-ln(
         |    $BigramLambda * (CAST(cvw AS DOUBLE) / CAST(cv AS DOUBLE)) +
         |    ${1.0 - BigramLambda} *
         |      (CAST(cw AS DOUBLE) / CAST(n AS DOUBLE))), 6)
         |  AS DECIMAL(28,6)) AS s
         | FROM bo JOIN bic USING (v, w) JOIN lc USING (v)
         |   JOIN uni USING (w) CROSS JOIN tot),
         |ft AS (SELECT doc_id, t[1] AS w, 1::BIGINT AS occ FROM t
         |  WHERE len(t) >= 1),
         |fs AS (SELECT doc_id, occ, CAST(ROUND(-ln(
         |    CAST(cw AS DOUBLE) / CAST(n AS DOUBLE)), 6)
         |  AS DECIMAL(28,6)) AS s
         | FROM ft JOIN uni USING (w) CROSS JOIN tot),
         |a AS (SELECT doc_id, CAST(SUM(occ) AS BIGINT) AS n_toks,
         |  CAST(SUM(s * occ) AS DOUBLE) AS sum_surprisal
         | FROM (SELECT * FROM bs UNION ALL SELECT * FROM fs)
         | GROUP BY 1)""".stripMargin

  private val markerSql = Map(
    "en" -> "\\b(the|and|of|to|in)\\b",
    "de" -> "\\b(der|und|die|das|nicht)\\b",
    "fr" -> "\\b(le|et|les|des|est)\\b",
    "es" -> "\\b(el|y|los|las|es)\\b")

  /** Oracle CTE chain mirroring [[subwordVocab]] + [[subwordPieces]],
    * generated from the same Subword* constants: vocab from substring
    * frequencies, then a recursive-CTE replay of the greedy
    * longest-match fold over the distinct-word table (one terminal row
    * per word when pos walks past the end), then the per-occurrence
    * word table. Must sit under WITH RECURSIVE. Shared by t11 and p12.
    */
  /** The greedy-match-length CASE, generated from the same constants
    * as [[subwordPieces]]' fold (longest piece first, 1-char fallback).
    */
  private def subwordCaseSql: String =
    (SubwordMaxPiece to SubwordMinPiece by -1).map(l =>
      s"    WHEN list_contains((SELECT list(s) FROM vocab WHERE length(s)=$l), " +
        s"substr(word, pos, $l)) THEN $l").mkString("CASE\n", "\n", "\n    ELSE 1 END")

  /** Vocab derivation CTEs (w, subs, vocab) mirroring [[subwordVocab]]. */
  private val subwordVocabCtes: String =
    s"""w AS (SELECT word, COUNT(*) AS cnt FROM
       |  (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       |  GROUP BY word),
       |subs AS (SELECT s, SUM(cnt) AS freq FROM (
       |  SELECT cnt, unnest(flatten([[substr(word, i, l)
       |    for i in range(1, length(word)-l+2)]
       |    for l in range($SubwordMinPiece, ${SubwordMaxPiece + 1})])) AS s
       |  FROM w) GROUP BY s),
       |vocab AS (SELECT s FROM subs ORDER BY freq DESC, s LIMIT $SubwordVocabSize)""".stripMargin

  private[operators] val subwordCtes: String =
    s"""$subwordVocabCtes,
       |rec AS (
       |  SELECT word, 1 AS pos, 0 AS n FROM w
       |  UNION ALL
       |  SELECT word, pos + $subwordCaseSql, n + 1
       |  FROM rec WHERE pos <= length(word)),
       |tok AS (SELECT word, n AS np FROM rec WHERE pos > length(word)),
       |docw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |  FROM documents)""".stripMargin

  /** Piece-accumulating recursion for t12/t13: same walk as `rec`,
    * carrying the piece LIST (lossless — no delimiter ambiguity); the
    * match length is computed once in a subquery so the advance and
    * the extracted piece can't diverge.
    */
  private[operators] val subwordPieceCtes: String =
    s"""$subwordVocabCtes,
       |rec2 AS (
       |  SELECT word, 1 AS pos, []::VARCHAR[] AS pieces FROM w
       |  UNION ALL
       |  SELECT word, pos + ml, list_append(pieces, piece)
       |  FROM (SELECT word, pos, pieces, ml, substr(word, pos, ml) AS piece
       |    FROM (SELECT word, pos, pieces, $subwordCaseSql AS ml
       |      FROM rec2 WHERE pos <= length(word)))),
       |tok2 AS (SELECT word, pieces AS ps FROM rec2 WHERE pos > length(word)),
       |dw AS (SELECT doc_id, t, unnest([i for i in range(1, len(t)+1)]) AS i
       |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
       |docw2 AS (SELECT doc_id, CAST(i AS INT) AS pos, t[i] AS word FROM dw)""".stripMargin

  /** t14's replay oracle, generated from the TRAINED merge list (the
    * corpus artifact [[gateMerges]] memoizes): the list is interpolated
    * as a literal rank table and BPE application re-derived inside
    * DuckDB — per distinct word, start from characters and repeatedly
    * merge the LEFTMOST occurrence of the lowest-rank adjacent pair.
    * Merging one leftmost occurrence per recursion step is equivalent
    * to [[BpeMerges.split]]'s all-occurrences-left-to-right pass:
    * a merge can only create pairs learned LATER in training (a pair
    * containing symbol `ab` postdates the (a,b) merge), so the active
    * lowest-rank pair stays lowest until its occurrences are exhausted,
    * and leftmost-first reproduces the pass's overlap handling
    * ("aaa" → [aa, a]).
    *
    * DuckDB gotcha: `list_position` returns 0 (not NULL) for absent
    * elements — nullif before coalescing to the +inf sentinel, or every
    * unknown pair becomes rank 0 and wins.
    */
  private def bpeReplaySql(merges: Seq[(String, String)]): String = {
    val ml = merges.map { case (a, b) =>
      "'" + (a + " " + b).replace("'", "''") + "'"
    }.mkString("[", ", ", "]")
    val sent = Int.MaxValue
    val rks = s"""[coalesce(nullif(list_position($ml,
                 |       syms[i] || ' ' || syms[i+1]), 0), $sent)
                 |     for i in range(1, len(syms))]""".stripMargin
    s"""WITH RECURSIVE
       |w AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS word
       |  FROM documents),
       |br AS (
       |  SELECT word, [substr(word, i, 1)
       |    for i in range(1, length(word)+1)] AS syms
       |  FROM w
       |  UNION ALL
       |  SELECT word,
       |    syms[1:p-1] || [syms[p] || syms[p+1]] || syms[p+2:] AS syms
       |  FROM (
       |    SELECT word, syms, list_position(rks, best) AS p
       |    FROM (
       |      SELECT word, syms, rks, list_min(rks) AS best
       |      FROM (SELECT word, syms, $rks AS rks FROM br))
       |    WHERE best IS NOT NULL AND best < $sent)),
       |term AS (
       |  SELECT word, CAST(len(syms) AS BIGINT) AS np
       |  FROM (SELECT word, syms, list_min($rks) AS best FROM br)
       |  WHERE best IS NULL OR best = $sent),
       |docw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |  FROM documents)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       | CAST(SUM(np) AS BIGINT) AS n_pieces,
       | CAST(SUM(np) * 1000000 // COUNT(*) AS BIGINT) AS pieces_per_word_ppm
       |FROM docw JOIN term USING (word)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** Static entries plus t14's trained-merge replay (present once the
    * gate has run in this JVM — always true for Verify's dump order).
    */
  def oracle: Map[String, String] =
    staticOracle ++
      lastGateMerges.map(m => "t14_bpe_tokens" -> bpeReplaySql(m))

  private val staticOracle: Map[String, String] = Map(
    // fixture injection + counts + chained regexp_replace mirrored in
    // DuckDB (RE2): patterns live in the common Java-regex/RE2 subset,
    // so the md5 of the redacted string pins byte-identical semantics
    "t22_pii_redact" -> {
      val Seq((_, emailRx, emailTag), (_, ipRx, ipTag), (_, phoneRx, phoneTag)) =
        PiiClasses
      // Scala's "\\." in the pattern string is a single backslash —
      // DuckDB string literals keep backslashes verbatim, so the
      // pattern text drops in unchanged
      s"""WITH raw AS (SELECT doc_id, text ||
         |  CASE WHEN doc_id % 4 = 1 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail' || CAST(doc_id % 7 AS VARCHAR) || '.com'
         |       WHEN doc_id % 4 = 2 THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST(doc_id % 64 AS VARCHAR) || '.' || CAST(doc_id % 32 AS VARCHAR)
         |       WHEN doc_id % 4 = 3 THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |       ELSE '' END AS raw
         | FROM documents)
         |SELECT doc_id,
         | CAST(len(regexp_extract_all(raw, '$emailRx')) AS BIGINT) AS n_email,
         | CAST(len(regexp_extract_all(raw, '$ipRx')) AS BIGINT) AS n_ip,
         | CAST(len(regexp_extract_all(raw, '$phoneRx')) AS BIGINT) AS n_phone,
         | md5(regexp_replace(regexp_replace(regexp_replace(raw,
         |   '$emailRx', '$emailTag', 'g'),
         |   '$ipRx', '$ipTag', 'g'),
         |   '$phoneRx', '$phoneTag', 'g')) AS redacted_md5
         |FROM raw ORDER BY doc_id""".stripMargin
    },
    // expression-tree parity with bm25TopK is deliberate, operator by
    // operator (left-associative * and / in both engines): every
    // arithmetic step is IEEE-identical, the one libm call (ln) is
    // absorbed by the 6-decimal round, and the per-doc sum runs on
    // exact decimals
    "t15_bm25" -> {
      val termList = Bm25GateTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH lens AS (SELECT doc_id, len(string_split(text, ' ')) AS len
         |  FROM documents),
         |stats AS (SELECT COUNT(*) AS n_docs,
         |  CAST(SUM(len) AS BIGINT) AS total_len FROM lens),
         |qtf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM
         |  (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |   FROM documents)
         |  WHERE tok IN ($termList) GROUP BY doc_id, tok),
         |dfs AS (SELECT tok, COUNT(*) AS df FROM qtf GROUP BY tok),
         |sc AS (SELECT doc_id, CAST(ROUND(
         |    ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
         |      (tf * ($Bm25K1 + 1.0)) /
         |    (tf + $Bm25K1 * (1.0 - $Bm25B + $Bm25B * len /
         |      (CAST(total_len AS DOUBLE) / n_docs))), 6)
         |  AS DECIMAL(28,6)) AS term_score
         |  FROM qtf JOIN dfs USING (tok) JOIN lens USING (doc_id)
         |  CROSS JOIN stats)
         |SELECT doc_id, CAST(SUM(term_score) AS DOUBLE) AS score
         |FROM sc GROUP BY doc_id
         |ORDER BY score DESC, doc_id LIMIT $Bm25GateK""".stripMargin
    },
    // λ and 1−λ interpolate as the Scala doubles' round-trip literals
    // (a hand-written 0.3 would differ from 1.0−0.7 in the last ulp)
    "t21_ccnet_buckets" ->
      s"""WITH $t19SurprisalCtes,
         |ms AS (SELECT doc_id,
         |   CAST(ROUND((sum_surprisal / n_toks) * 1000000.0, 0)
         |     AS BIGINT) AS s_micro, d.lang
         |  FROM a JOIN documents d USING (doc_id)),
         |$pplCutCtes
         |SELECT doc_id, lang, s_micro,
         | $pplBucketCase AS bucket
         |FROM ms LEFT JOIN cuts USING (lang) ORDER BY doc_id""".stripMargin,
    "t19_bigram_lm" ->
      s"""WITH $t19SurprisalCtes
         |SELECT doc_id, n_toks, sum_surprisal,
         | sum_surprisal / n_toks AS mean_surprisal
         |FROM a ORDER BY doc_id""".stripMargin,
    "t20_trigram_lm" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS t
         |  FROM documents),
         |u AS (SELECT doc_id, unnest(t) AS w FROM t),
         |uni AS (SELECT w, COUNT(*) AS cw FROM u GROUP BY 1),
         |tot AS (SELECT CAST(SUM(cw) AS BIGINT) AS n FROM uni),
         |bg AS (SELECT doc_id, t[i] AS v, t[i+1] AS w
         |  FROM t, LATERAL (SELECT unnest(range(1, len(t))) AS i)),
         |bic AS (SELECT v, w, COUNT(*) AS cvw FROM bg GROUP BY 1, 2),
         |lc AS (SELECT v, CAST(SUM(cvw) AS BIGINT) AS cv FROM bic
         |  GROUP BY 1),
         |tg AS (SELECT doc_id, t[i] AS u, t[i+1] AS v, t[i+2] AS w
         |  FROM t, LATERAL (SELECT unnest(range(1, len(t)-1)) AS i)),
         |tric AS (SELECT u, v, w, COUNT(*) AS cuvw FROM tg
         |  GROUP BY 1, 2, 3),
         |tlc AS (SELECT u, v, CAST(SUM(cuvw) AS BIGINT) AS cuv FROM tric
         |  GROUP BY 1, 2),
         |tgo AS (SELECT doc_id, u, v, w, COUNT(*) AS occ FROM tg
         |  GROUP BY 1, 2, 3, 4),
         |ts AS (SELECT doc_id, occ, CAST(ROUND(-ln(
         |    $TrigramL3 * (CAST(cuvw AS DOUBLE) / CAST(cuv AS DOUBLE)) +
         |    $TrigramL2 * (CAST(cvw AS DOUBLE) / CAST(cv AS DOUBLE)) +
         |    $TrigramL1 * (CAST(cw AS DOUBLE) / CAST(n AS DOUBLE))), 6)
         |  AS DECIMAL(28,6)) AS s
         | FROM tgo JOIN tric USING (u, v, w) JOIN tlc USING (u, v)
         |   JOIN bic USING (v, w) JOIN lc USING (v)
         |   JOIN uni USING (w) CROSS JOIN tot),
         |sd AS (SELECT doc_id, t[1] AS v, t[2] AS w, 1::BIGINT AS occ
         |  FROM t WHERE len(t) >= 2),
         |ss AS (SELECT doc_id, occ, CAST(ROUND(-ln(
         |    ${TrigramL3 + TrigramL2} *
         |      (CAST(cvw AS DOUBLE) / CAST(cv AS DOUBLE)) +
         |    $TrigramL1 * (CAST(cw AS DOUBLE) / CAST(n AS DOUBLE))), 6)
         |  AS DECIMAL(28,6)) AS s
         | FROM sd JOIN bic USING (v, w) JOIN lc USING (v)
         |   JOIN uni USING (w) CROSS JOIN tot),
         |ft AS (SELECT doc_id, t[1] AS w, 1::BIGINT AS occ FROM t
         |  WHERE len(t) >= 1),
         |fs AS (SELECT doc_id, occ, CAST(ROUND(-ln(
         |    CAST(cw AS DOUBLE) / CAST(n AS DOUBLE)), 6)
         |  AS DECIMAL(28,6)) AS s
         | FROM ft JOIN uni USING (w) CROSS JOIN tot),
         |a AS (SELECT doc_id, CAST(SUM(occ) AS BIGINT) AS n_toks,
         |  CAST(SUM(s * occ) AS DOUBLE) AS sum_surprisal
         | FROM (SELECT * FROM ts UNION ALL SELECT * FROM ss
         |   UNION ALL SELECT * FROM fs)
         | GROUP BY 1)
         |SELECT doc_id, n_toks, sum_surprisal,
         | sum_surprisal / n_toks AS mean_surprisal
         |FROM a ORDER BY doc_id""".stripMargin,
    "t18_quality_model" ->
      s"""WITH ${qualityCtes("documents")}
         |SELECT doc_id, n_tokens, punct_ppm, stop_ppm, mlen_c, z, score,
         |  CASE WHEN score >= 0.5 THEN 1 ELSE 0 END AS keep
         |FROM s ORDER BY doc_id""".stripMargin,
    "t23_lr_quality" -> lrOracleSql,
    "t17_dsir_select" -> {
      val b60 = (0 until 15).map { j =>
        s"CAST(${Dedup.hexValSql(s"substr(md5('t17:' || bg), ${j + 1}, 1)")} " +
          s"AS BIGINT) * ${1L << (4 * (14 - j))}"
      }.mkString("CAST((", " + ", ") AS BIGINT)")
      s"""WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS t
         |  FROM documents),
         |bg AS (SELECT doc_id, source,
         |  unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS bg
         |  FROM t),
         |f AS (SELECT doc_id, source, $b60 % $DsirBuckets AS bucket FROM bg),
         |census AS (SELECT bucket,
         |  CAST(SUM(CASE WHEN source = '$DsirTargetSource' THEN 1 ELSE 0 END)
         |    AS BIGINT) AS ct,
         |  COUNT(*) AS cr FROM f GROUP BY 1),
         |tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS nt,
         |  CAST(SUM(cr) AS BIGINT) AS nr FROM census),
         |terms AS (SELECT bucket, CAST(ROUND(
         |    ln(CAST(ct + 1 AS DOUBLE) / CAST(nt + $DsirBuckets AS DOUBLE)) -
         |    ln(CAST(cr + 1 AS DOUBLE) / CAST(nr + $DsirBuckets AS DOUBLE)),
         |    6) AS DECIMAL(28,6)) AS term FROM census CROSS JOIN tot),
         |sc AS (SELECT doc_id, source, CAST(COUNT(*) AS BIGINT) AS n_feats,
         |  CAST(SUM(term) AS DOUBLE) AS score
         | FROM f JOIN terms USING (bucket) GROUP BY 1, 2)
         |SELECT doc_id, source, n_feats, score FROM sc
         |ORDER BY score DESC, doc_id LIMIT $DsirTopK""".stripMargin
    },
    "t16_surprisal" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |  FROM documents),
         |tf AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok),
         |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM tf),
         |sc AS (SELECT doc_id, CAST(ROUND(
         |    -ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)), 6)
         |  AS DECIMAL(28,6)) AS s
         |  FROM tok JOIN tf USING (tok) CROSS JOIN tot),
         |a AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_toks,
         |  CAST(SUM(s) AS DOUBLE) AS sum_surprisal FROM sc GROUP BY doc_id),
         |m AS (SELECT doc_id, n_toks, sum_surprisal,
         |  sum_surprisal / n_toks AS mean_surprisal FROM a)
         |SELECT doc_id, n_toks, sum_surprisal, mean_surprisal,
         | CASE WHEN mean_surprisal >= $SurprisalGateLo
         |       AND mean_surprisal <= $SurprisalGateHi
         |      THEN 1 ELSE 0 END AS keep
         |FROM m ORDER BY doc_id""".stripMargin,
    "t12_subword_pieces" ->
      s"""WITH RECURSIVE $subwordPieceCtes
         |SELECT doc_id, CAST(to_json(list(ps ORDER BY pos)) AS VARCHAR)
         |  AS pieces_json
         |FROM docw2 JOIN tok2 USING (word)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "t13_piece_chunks" -> {
      val stride = ChunkGateTokens - ChunkGateOverlap
      s"""WITH RECURSIVE $subwordPieceCtes,
         |pl AS (SELECT doc_id, flatten(list(ps ORDER BY pos)) AS t
         |  FROM docw2 JOIN tok2 USING (word) GROUP BY doc_id),
         |x AS (SELECT doc_id, t, len(t) AS n FROM pl),
         |e AS (SELECT doc_id, t, n,
         |  unnest([s for s in range(1, n+1, $stride)
         |          if s = 1 OR s + $ChunkGateOverlap <= n]) AS s FROM x)
         |SELECT doc_id, CAST((s - 1) // $stride AS INT) AS chunk_idx,
         | CAST(len(t[s : s + ${ChunkGateTokens - 1}]) AS INT) AS chunk_pieces,
         | array_to_string(t[s : s + ${ChunkGateTokens - 1}], ' ') AS chunk_text
         |FROM e ORDER BY doc_id, chunk_idx""".stripMargin
    },
    "t11_subword" ->
      s"""WITH RECURSIVE $subwordCtes
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
         | CAST(SUM(np) AS BIGINT) AS n_pieces,
         | CAST(SUM(np) * 1000000 // COUNT(*) AS BIGINT) AS pieces_per_word_ppm
         |FROM docw JOIN tok USING (word)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "t09_pattern_scrub" ->
      """SELECT doc_id,
        | len(regexp_extract_all(text, '\b(key|value)\b')) AS n_matches,
        | regexp_replace(text, '\b(key|value)\b', '<X>', 'g') AS scrubbed
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t10_normalize" ->
      s"""WITH n AS (SELECT doc_id,
         |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
         |       ' +', ' ', 'g')) AS norm
         | FROM documents),
         |t AS (SELECT doc_id,
         |  list_filter(string_split(norm, ' '), x -> x <> '') AS toks FROM n),
         |k AS (SELECT doc_id, toks, list_filter(toks, x -> NOT list_contains(
         |  [${DefaultStopwords.map(s => s"'$s'").mkString(", ")}], x)) AS kept FROM t)
         |SELECT doc_id, CAST(len(toks) AS INT) AS n_raw_toks,
         | CAST(len(kept) AS INT) AS n_kept_toks,
         | array_to_string(kept, ' ') AS norm_text
         |FROM k ORDER BY doc_id""".stripMargin,
    "t01_token_stats" ->
      """SELECT doc_id,
        | len(string_split(text, ' ')) AS ws_tokens,
        | len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS re_tokens,
        | length(text) AS chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t02_langid" ->
      s"""WITH c AS (SELECT doc_id,
         |  len(regexp_extract_all(text, '${markerSql("en")}')) AS c_en,
         |  len(regexp_extract_all(text, '${markerSql("de")}')) AS c_de,
         |  len(regexp_extract_all(text, '${markerSql("fr")}')) AS c_fr,
         |  len(regexp_extract_all(text, '${markerSql("es")}')) AS c_es
         | FROM documents)
         |SELECT doc_id, c_en, c_de, c_fr, c_es,
         | CASE WHEN c_en + c_de + c_fr + c_es = 0 THEN 'und'
         |      WHEN c_en >= c_de AND c_en >= c_fr AND c_en >= c_es THEN 'en'
         |      WHEN c_de >= c_fr AND c_de >= c_es THEN 'de'
         |      WHEN c_fr >= c_es THEN 'fr'
         |      ELSE 'es' END AS lang_pred
         |FROM c ORDER BY doc_id""".stripMargin,
    "t03_quality" ->
      """WITH m AS (SELECT doc_id,
        |  len(string_split(text, ' ')) AS n_tokens,
        |  length(text) AS n_chars,
        |  len(regexp_extract_all(text, '[.,;:!?]')) AS n_punct,
        |  len(regexp_extract_all(text, '\b(the|a|and|of|to)\b')) AS n_stop
        | FROM documents)
        |SELECT doc_id, n_tokens,
        | CAST(n_chars AS DOUBLE) / n_tokens AS mean_tok_len,
        | CAST(n_punct AS DOUBLE) / n_tokens AS punct_ratio,
        | CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
        | CAST(n_tokens >= 10 AND n_tokens <= 100000
        |      AND CAST(n_punct AS DOUBLE) / n_tokens < 0.2 AS INT) AS keep
        |FROM m ORDER BY doc_id""".stripMargin,
    "t04_fingerprint" ->
      """SELECT doc_id,
        | md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp,
        | substr(md5(lower(regexp_replace(text, '\s+', ' ', 'g'))), 1, 16) AS fp64
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t24_gopher_repetition" -> {
      // per-n CTE chains generated from the same constants as the plan
      val topCtes = GopherTopNs.map { n =>
        s"""g$n AS (SELECT doc_id,
           |  unnest([array_to_string(t[i:i+${n - 1}], ' ')
           |          for i in range(1, len(t)-$n+2)]) AS g
           | FROM b WHERE len(t) >= $n),
           |c$n AS (SELECT doc_id, g, COUNT(*) AS cnt FROM g$n GROUP BY doc_id, g),
           |top$n AS (SELECT doc_id,
           |  CAST(MAX(cnt * (length(g) - ${n - 1})) AS BIGINT) AS top${n}_chars
           | FROM c$n GROUP BY doc_id)""".stripMargin
      }
      val dupCtes = GopherDupNs.map { n =>
        s"""p$n AS (SELECT doc_id,
           |  unnest([{'p': i, 'g': array_to_string(t[i:i+${n - 1}], ' ')}
           |          for i in range(1, len(t)-$n+2)], recursive := true)
           | FROM b WHERE len(t) >= $n),
           |c$n AS (SELECT doc_id, g, COUNT(*) AS cnt, list(p) AS ps
           | FROM p$n GROUP BY doc_id, g),
           |cov$n AS (SELECT DISTINCT doc_id,
           |  unnest(flatten([range(p, p+$n) for p in ps])) AS q
           | FROM c$n WHERE cnt >= 2),
           |dup$n AS (SELECT c.doc_id, CAST(SUM(tp.len) AS BIGINT) AS dup${n}_chars
           | FROM cov$n c JOIN tokpos tp ON c.doc_id = tp.doc_id AND c.q = tp.q
           | GROUP BY c.doc_id)""".stripMargin
      }
      // same tok_chars = 0 guard as the plan (Spark div → null vs
      // DuckDB // → error): ppm 0, keep 0 for degenerate documents
      val ppm = (GopherTopNs.map(n => s"top$n") ++ GopherDupNs.map(n => s"dup$n"))
        .map(c => s"CASE WHEN tok_chars > 0 THEN " +
          s"COALESCE(${c}_chars, 0) * 1000000 // tok_chars ELSE 0 END " +
          s"AS ${c}_ppm")
        .mkString(",\n ")
      val keepConds = (s"tok_chars > 0" +: (GopherTopNs.map(n =>
        s"COALESCE(top${n}_chars, 0) * 1000000 // tok_chars <= ${GopherTopPpm(n)}") ++
        GopherDupNs.map(n =>
          s"COALESCE(dup${n}_chars, 0) * 1000000 // tok_chars <= ${GopherDupPpm(n)}")))
        .mkString(" AND ")
      val joins = (GopherTopNs.map(n => s"top$n") ++ GopherDupNs.map(n => s"dup$n"))
        .map(c => s"LEFT JOIN $c USING (doc_id)").mkString(" ")
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |b AS (SELECT doc_id, t,
         |  CAST(list_sum(list_transform(t, x -> length(x))) AS BIGINT) AS tok_chars
         | FROM t),
         |tokpos AS (SELECT doc_id,
         |  unnest([{'q': i, 'len': length(t[i])} for i in range(1, len(t)+1)],
         |         recursive := true)
         | FROM b),
         |${(topCtes ++ dupCtes).mkString(",\n")}
         |SELECT b.doc_id, tok_chars,
         | $ppm,
         | CASE WHEN $keepConds THEN 1 ELSE 0 END AS keep
         |FROM b $joins ORDER BY b.doc_id""".stripMargin
    },
    "t06_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |b AS (SELECT doc_id, [t[i]||' '||t[i+1] for i in range(1, len(t))] AS bs FROM t),
        |e AS (SELECT doc_id, unnest(bs) AS bg FROM b),
        |c AS (SELECT doc_id, bg, COUNT(*) AS n FROM e GROUP BY doc_id, bg),
        |a AS (SELECT doc_id,
        |  CAST(SUM(n) AS BIGINT) AS n_bigrams,
        |  CAST(MAX(n) AS BIGINT) AS top_bigram_n,
        |  CAST(COALESCE(SUM(CASE WHEN n >= 2 THEN n END), 0) AS BIGINT) AS dup_bigram_n
        | FROM c GROUP BY doc_id)
        |SELECT doc_id, n_bigrams, top_bigram_n, dup_bigram_n,
        | top_bigram_n * 1000000 // n_bigrams AS top_ppm,
        | dup_bigram_n * 1000000 // n_bigrams AS dup_ppm
        |FROM a ORDER BY doc_id""".stripMargin,
    "t08_token_rarity" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        | FROM documents),
        |tf AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok),
        |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM tf),
        |a AS (SELECT doc_id, COUNT(*) AS n_toks,
        |  SUM(cnt * 1000000 // total) AS sum_freq_ppm,
        |  SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS n_hapax
        | FROM tok JOIN tf USING (tok) CROSS JOIN tot GROUP BY doc_id)
        |SELECT doc_id, CAST(n_toks AS BIGINT) AS n_toks,
        | CAST(sum_freq_ppm // n_toks AS BIGINT) AS mean_freq_ppm,
        | CAST(n_hapax AS BIGINT) AS n_hapax
        |FROM a ORDER BY doc_id""".stripMargin,
    "t07_chunking" -> {
      val stride = ChunkGateTokens - ChunkGateOverlap
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |x AS (SELECT doc_id, t, len(t) AS n FROM t),
         |e AS (SELECT doc_id, t, n,
         |  unnest([s for s in range(1, n+1, $stride)
         |          if s = 1 OR s + $ChunkGateOverlap <= n]) AS s FROM x)
         |SELECT doc_id, CAST((s - 1) // $stride AS INT) AS chunk_idx,
         | CAST(len(t[s : s + ${ChunkGateTokens - 1}]) AS INT) AS chunk_tokens,
         | array_to_string(t[s : s + ${ChunkGateTokens - 1}], ' ') AS chunk_text
         |FROM e ORDER BY doc_id, chunk_idx""".stripMargin
    })
}

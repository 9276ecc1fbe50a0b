package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFns._

/** Deduplication operators for training-data pipelines: exact hash
  * dedup, n-gram Jaccard, MinHash+LSH, SimHash, and embedding-cosine
  * near-dup detection.
  *
  * Scale design (100 TB): signatures (md5 / minhash / simhash / LSH
  * buckets) are computed map-side per document with no shuffle; the only
  * shuffles are groupBys on short digest keys and the candidate-pair
  * joins, which key on band/bucket digests so each reducer sees one
  * bucket's docs instead of the full corpus (never an O(n²) cross join).
  * The exact-Jaccard verification runs only on LSH candidates.
  */
object Dedup {

  /** Ledger of intermediate frames cached by the pair builders
    * ([[ngramJaccardPairs]]/[[minhashLshPairs]]/[[embeddingPairs]]) and
    * the two-pass layout builders ([[Pipelines.sequencePack]]/
    * [[Pipelines.budgetSelect]], whose tokenize+md5 base feeds both a
    * driver-side histogram collect and the main query).
    * The builders return LAZY frames that re-read the cached
    * intermediate, so they cannot unpersist it themselves; a long-lived
    * engine calls [[releaseIntermediates]] once the results are
    * materialized (Verify does, after each query's parquet lands) so
    * session-lifetime storage doesn't accumulate. Identity-keyed: two
    * builder calls ledger two entries even if the plans coincide.
    */
  private val cachedIntermediates =
    java.util.concurrent.ConcurrentHashMap
      .newKeySet[org.apache.spark.sql.Dataset[_]]()

  private[operators] def scopedCache(df: DataFrame): DataFrame = {
    val c = df.cache()
    cachedIntermediates.add(c)
    c
  }

  /** Unpersist (blocking) every intermediate the pair builders cached.
    * Safe to call any time: already-materialized results are unaffected,
    * and an un-consumed lazy result simply recomputes its intermediate.
    */
  def releaseIntermediates(): Unit = {
    val it = cachedIntermediates.iterator()
    while (it.hasNext) {
      it.next().unpersist(blocking = true)
      it.remove()
    }
  }

  /** Exact duplicate groups by md5 of normalized text: canonical keeper
    * (min id), group size, and the sorted member list.
    */
  def exactGroups(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    docs
      .select(col(idCol), md5(lower(regexp_replace(col(textCol), "\\s+", " "))).as("h"))
      .groupBy(col("h"))
      .agg(
        min(col(idCol)).as("keeper"),
        count(lit(1)).as("group_size"),
        concat_ws(",", array_sort(collect_list(col(idCol).cast("string")))).as("members"))

  /** doc_id + distinct shingle set, via the single-pass
    * [[graft.functions.ShinglesOf]] kernel (≈4× the interpreted HOF
    * formulation; this projection dominates d02/d03/p01 runtime).
    */
  private def docShingles(docs: DataFrame, n: Int): DataFrame = {
    graft.functions.VectorExprs.register(docs.sparkSession)
    docs.select(col("doc_id"),
      call_function("shingles_of", tokens(col("text")), lit(n)).as("sh"))
  }

  /** Shingles whose document frequency exceeds `maxDf` — the
    * "stop-shingles" a boilerplate header or license block produces.
    * Tiny by construction (a handful of distinct strings), so callers
    * broadcast it.
    */
  def hotShingles(docs: DataFrame, n: Int, maxDf: Long): DataFrame =
    docShingles(docs, n)
      .select(explode(col("sh")).as("s"))
      .groupBy(col("s")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)

  /** All-pairs n-gram Jaccard via shared-shingle inverted index: explode
    * shingles, self-join on shingle, count common per pair, compute
    * |A∩B| / (|A|+|B|-|A∩B|). Returns pairs with jac >= tau, doc_a < doc_b.
    *
    * The shingle join is the textbook inverted-index plan: work is
    * proportional to Σ bucket², not n². `maxShingleDf` caps the buckets:
    * shingles shared by more than that many docs (boilerplate headers —
    * each contributes df² join rows) are dropped from the index via a
    * broadcast anti-join before the self-join, bounding every bucket at
    * maxShingleDf². With the cap above the corpus's true max df (as at
    * the gate scale) the result is exact; when it binds, pairs whose
    * overlap is only boilerplate are skipped and mixed pairs' jaccard is
    * underestimated — the conservative direction for dedup. The LSH
    * variant below remains the preferred scale path.
    *
    * Default cap rationale: measured on the gate corpora the max
    * shingle df is 7 at sf0.01 and 25 at sf0.1 (p99.9 = 21), so 1000
    * leaves ~40× headroom while bounding a hot bucket at 10⁶ join
    * rows — one reducer-task's work — instead of the 10⁸ a 10000 cap
    * admits. Above-cap shingles are boilerplate by definition at that
    * df and carry no near-dup signal.
    */
  def ngramJaccardPairs(docs: DataFrame, tau: Double, n: Int = 3,
      maxShingleDf: Long = 1000L): DataFrame = {
    // guide §2.5: the shingling kernel ran as ONE task on the bench's
    // single-row-group corpus (measured 1.3 s of d02's 2.3 s wall);
    // rebalanceIfNarrow is the identity on any ≥cores-split input
    val sh = scopedCache(docShingles(
      graft.util.Cols.rebalanceIfNarrow(docs), n))
    val counts = sh.select(col("doc_id"), size(col("sh")).as("n_sh"))
    // Measured note: joining on the raw shingle string beats a
    // 60-bit-hash join key here (the hash projection loses the cache
    // locality of the exploded arrays and bought nothing back).
    val hot = sh.select(explode(col("sh")).as("s"))
      .groupBy(col("s")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxShingleDf)
    val ex = sh.select(col("doc_id"), explode(col("sh")).as("s"))
      .join(broadcast(hot.select(col("s"))), Seq("s"), "left_anti")
    val common = ex.as("a").join(ex.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("common"))
    common
      .join(counts.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "na"), "doc_a")
      .join(counts.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "nb"), "doc_b")
      .withColumn("jac", col("common").cast("double") /
        (col("na") + col("nb") - col("common")))
      .filter(col("jac") >= tau)
      .select(col("doc_a"), col("doc_b"), col("jac"))
  }

  /** The one banded candidate join every near-duplicate operator runs
    * (d03, d04, d09, d18, s03, m06–m08): `rows` that agree on every
    * `keys` column (a band and its key, a table and its bucket) become
    * candidate pairs with `a.id < b.id`. The pair comes back as
    * `<p>_a`, `<p>_b` for an `id` column named `<p>_id` (doc_id →
    * doc_a/doc_b), followed by the caller's `carry` columns, which
    * read the two sides as `a.` and `b.`. `verify` filters on the
    * projected names, then the pairs dedupe. A pair that collides in
    * several bands is verified once per band before that dedupe; every
    * carried column is a function of the pair's two ids, so filtering
    * first returns the same pair set, and the dedupe shuffle carries
    * only the survivors.
    *
    * With `probes` (d09's multi-probe form) the join is asymmetric:
    * each probe row (an id and one key it looks up) joins the index
    * `rows` with `a.id =!= b.id`, so a pair is found when EITHER
    * endpoint probes the other's bucket, and ids canonicalize to
    * (least, greatest). `carry` must then be symmetric in a and b.
    *
    * Scale shape: candidate work is Σ bucket² per band, never n², and
    * the only shuffles are two exchanges, both at an explicit
    * `defaultParallelism` count: the join inputs on the key columns,
    * and the verified pairs on the two ids (the dedupe). Each carries
    * few BYTES (one short row per id and band, two ids per pair),
    * while the compute explodes AFTER it, where AQE's byte-sized
    * coalescer cannot see it: the Σ bucket² scoring after the first,
    * the caller's verify join after the second. Coalesced, each ran in
    * ONE task (measured at sf0.1: s14's scoring, a single 1.4-1.8 s
    * task with 31 of 32 cores idle; d18's Jaccard verify, a single
    * 2.5 s task on 4 cores). A user-specified count disables
    * coalescing for exactly these shuffles; the output does not
    * depend on the partitioning.
    */
  private[operators] def bandedPairs(rows: DataFrame, id: String,
      keys: Seq[String], carry: Seq[Column] = Nil,
      verify: Column = lit(true),
      probes: Option[DataFrame] = None): DataFrame = {
    def exchanged(df: DataFrame, on: Seq[String]) = df.repartition(
      df.sparkSession.sparkContext.defaultParallelism, on.map(col): _*)
    val index = exchanged(rows, keys)
    val (a, b) = (col(s"a.$id"), col(s"b.$id"))
    val sameKeys = keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _)
    val pair = Seq("_a", "_b").map(id.stripSuffix("_id") + _)
    val (pa, pb, joined) = probes match {
      case None => (a, b, index.as("a").join(index.as("b"), sameKeys && a < b))
      case Some(pr) => (least(a, b), greatest(a, b),
        exchanged(pr, keys).as("a").join(index.as("b"), sameKeys && a =!= b))
    }
    val verified = joined.select(pa.as(pair(0)) +: pb.as(pair(1)) +: carry: _*)
      .filter(verify)
    exchanged(verified, pair).dropDuplicates(pair)
  }

  /** Exact Jaccard verify of (doc_a, doc_b) candidates over each doc's
    * 60-bit hashed shingle SET (8-byte longs instead of ~20-char
    * strings, so the verify exchange carries about half the bytes).
    * Both engines hash with the same md5-prefix arithmetic, so results
    * agree by construction even in the astronomically unlikely 60-bit
    * collision case. `sh` is (doc_id, sh) as `docShingles` builds it.
    */
  private def verifyHashedJaccard(cands: DataFrame, sh: DataFrame,
      tau: Double): DataFrame = {
    val hs = sh.select(col("doc_id"), array_distinct(transform(col("sh"),
      s => conv(substring(md5(s), 1, 15), 16, 10).cast("long"))).as("hs"))
    cands
      .join(hs.select(col("doc_id").as("doc_a"), col("hs").as("hsa")), "doc_a")
      .join(hs.select(col("doc_id").as("doc_b"), col("hs").as("hsb")), "doc_b")
      .withColumn("common", size(array_intersect(col("hsa"), col("hsb"))))
      .withColumn("jac", col("common").cast("double") /
        (size(col("hsa")) + size(col("hsb")) - col("common")))
      .filter(col("jac") >= tau)
      .select(col("doc_a"), col("doc_b"), col("jac"))
  }

  /** MinHash + LSH near-dup pairs: k-entry minhash signature, banded
    * into `bands` keys of `r` rows; docs sharing any band key become
    * candidates (`bandedPairs`); candidates are verified with exact
    * shingle Jaccard (`verifyHashedJaccard`).
    *
    * The signature is built by [[graft.functions.Minhash16Agg]] — one
    * map-side-combining imperative aggregate per doc consuming one md5
    * digest per shingle (replaces 16 declarative min-aggregates plus
    * the 7-hex-digit base-hash projection; values identical).
    */
  def minhashLshPairs(docs: DataFrame, tau: Double, k: Int = 16,
      bands: Int = 8, n: Int = 3): DataFrame = {
    require(k == 16, "minhash signature size is fixed at 16 (Minhash16Agg)")
    val r = k / bands
    val sh = scopedCache(docShingles(docs, n).filter(size(col("sh")) > 0))
    // Explode so the md5 digest is computed exactly once per shingle (a
    // per-row array formulation re-evaluates the digest per signature
    // entry — 16× the hashing).
    val ex = sh.select(col("doc_id"), explode(col("sh")).as("s"))
    val sigs = ex.groupBy(col("doc_id"))
      .agg(call_function("minhash16_agg", md5(col("s"))).as("sig"))
    // the band table feeds BOTH sides of the candidate self-join —
    // scope-cache its 24-byte (doc_id, band, key) rows so the
    // md5+minhash aggregation runs once per doc, not twice
    val bandRows = scopedCache(sigs.select(col("doc_id"),
      posexplode(bandKeys(col("sig"), bands, r)).as(Seq("band", "key"))))
    verifyHashedJaccard(
      bandedPairs(bandRows, "doc_id", Seq("band", "key")), sh, tau)
  }

  /** Per-doc 64-bit SimHash carried as four 16-bit band values (the
    * Manku/Jain/Sarma shape): explode → ONE md5 per distinct token →
    * [[graft.functions.Simhash64Agg]], a map-side-combining imperative
    * aggregate holding all 64 bit-counters in one buffer (replaces 64
    * declarative sums + 16 hex-decode expressions per row — ~1.8× on
    * d04). Band j packs simhash bits [16j, 16j+16); bit k of band j is
    * the majority vote of token-hash bit k of digest slice j.
    *
    * Carrying the signature as 4 shorts instead of one i64 avoids
    * signed-overflow edge cases on the top bit and IS the banding the
    * candidate join needs — nothing recomputes.
    */
  def simhashDocs(docs: DataFrame): DataFrame = {
    graft.functions.VectorExprs.register(docs.sparkSession)
    docs
      .select(col("doc_id"),
        explode(array_distinct(tokens(col("text")))).as("tok"))
      .withColumn("dig", md5(col("tok")))
      .groupBy(col("doc_id"))
      .agg(call_function("simhash64_agg", col("dig")).as("bands"))
      .select(col("doc_id") +: (0 until 4).map(j =>
        element_at(col("bands"), j + 1).as(s"band$j")): _*)
  }

  /** SimHash near-dup pairs: 64-bit simhash per doc banded 4×16;
    * candidates share at least one band (`bandedPairs`; pigeonhole:
    * guarantees full recall for hamming <= 3 — the standard near-dup
    * radius); verified by exact popcount of the per-band XORs.
    */
  def simhashPairs(docs: DataFrame, maxHam: Int = 3): DataFrame = {
    val bandCols = (0 until 4).map(j => col(s"band$j"))
    // the banded table feeds BOTH sides of the self-join below —
    // scope-cache it so the tokenize+md5+simhash aggregation runs once
    // per doc, not twice (same pattern as [[winnowingPairs]]'s fps)
    val rows = scopedCache(simhashDocs(docs)
      .select(col("doc_id") +: bandCols :+
        posexplode(array(bandCols: _*)).as(Seq("bpos", "bval")): _*))
    def side(s: String) = (0 until 4).map(j => col(s"$s.band$j"))
    bandedPairs(rows, "doc_id", Seq("bpos", "bval"),
      carry = Seq(
        side("a").zip(side("b")).map { case (x, y) =>
          bit_count(x.bitwiseXOR(y)) }.reduce(_ + _).cast("int").as("hamming"),
        format_string("%04x%04x%04x%04x", side("a"): _*).as("simhash_a")),
      verify = col("hamming") <= maxHam)
  }

  /** Connected components over an undirected pair list by iterative
    * min-label propagation: every node ends up labeled with the minimum
    * node id of its component. `nodes` is one column `doc_id`; `edges`
    * has `doc_a`/`doc_b`. Returns (doc_id, cluster).
    *
    * Scale shape: each iteration is one shuffle-join of the label table
    * with the (symmetrized) edge list plus a min-aggregate — both keyed
    * on node id, so AQE coalesces and co-partitions them; iterations
    * needed = component diameter, and near-dup components are
    * shallow star-ish clusters (2-4 hops). The label table is
    * checkpoint-truncated each round so the plan doesn't grow with the
    * iteration count. Near-dup components are shallow star-ish
    * clusters, which is why propagation is the default; for
    * adversarially long chain graphs use [[connectedComponentsStar]]
    * (O(log n) rounds instead of diameter).
    *
    * Checkpoint durability: the local-mode default is
    * `localCheckpoint(true)` (executor block storage — fast, but an
    * executor loss mid-iteration kills the job). On a real
    * preemptible cluster pass `checkpointDir` (HDFS/object-store
    * path): iterations then use reliable `checkpoint(true)`, which
    * survives executor loss. Non-convergence at maxIter throws rather
    * than returning partially-propagated (wrong) labels.
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
      maxIter: Int = 25, checkpointDir: Option[String] = None): DataFrame = {
    val spark = nodes.sparkSession
    checkpointDir.foreach(spark.sparkContext.setCheckpointDir)
    def truncate(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) df.checkpoint(true) else df.localCheckpoint(true)
    val sym = edges.select(col("doc_a").as("id"), col("doc_b").as("nbr"))
      .union(edges.select(col("doc_b").as("id"), col("doc_a").as("nbr")))
      .cache()
    var labels = truncate(
      nodes.select(col("doc_id").as("id"), col("doc_id").as("cluster")))
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // each node's candidate label: min over its neighbors' labels
      val nbrMin = sym
        .join(labels.select(col("id").as("nbr"), col("cluster").as("nl")), "nbr")
        .groupBy(col("id")).agg(min(col("nl")).as("nbr_min"))
      val next = truncate(labels
        .join(nbrMin, Seq("id"), "left_outer")
        .select(col("id"),
          least(col("cluster"), coalesce(col("nbr_min"), col("cluster")))
            .as("cluster"),
          (col("nbr_min") < col("cluster")).as("chg")))
      converged = next.filter(col("chg")).limit(1).count() == 0L
      labels = next.drop("chg")
      iter += 1
    }
    sym.unpersist()
    require(converged,
      s"connectedComponents did not converge in $maxIter iterations — " +
        "raise maxIter (or use large-star/small-star for long chains) " +
        "rather than consuming partially-propagated labels")
    labels.select(col("id").as("doc_id"), col("cluster"))
  }

  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce
    * and Beyond") — the long-chain-safe alternative to
    * [[connectedComponents]]: label propagation needs diameter
    * iterations, star contraction needs O(log n) alternations, so a
    * pathological chain/lattice dedup graph converges in a handful of
    * rounds instead of thousands.
    *
    * Each round is two edge-set rewrites, both one groupBy(min) plus
    * one join keyed on node id:
    *  - large-star: every node links its LARGER neighbors to the
    *    minimum of its neighborhood (incl. itself);
    *  - small-star: every node links its smaller neighbors (and
    *    itself) to the minimum of the smaller neighborhood.
    * The edge set only shrinks toward per-component stars rooted at
    * the component min; the fixpoint check is a single-pass witness —
    * one aggregate computing (count, two independent commutative XOR
    * checksums of xxhash64(u,v)) over the just-checkpointed edge set,
    * compared with the previous round's witness. Equal witnesses ⟺
    * equal sets up to a 2⁻¹²⁸ checksum collision (both sides are
    * deduplicated, and XOR over distinct 64-bit hashes is an
    * order-independent set digest): one cheap scan of cached blocks
    * per round instead of the previous count()+except().limit(1) —
    * the except was a full set-op shuffle per round and made d10 the
    * heaviest warm gate. The round whose witness first matches is then
    * confirmed with ONE exact except() — so the returned components
    * are exact, and the probabilistic digest only decides when to pay
    * for that single set-difference. Same checkpoint-truncation
    * options as [[connectedComponents]].
    */
  def connectedComponentsStar(nodes: DataFrame, edges: DataFrame,
      maxIter: Int = 50, checkpointDir: Option[String] = None,
      onConverged: Int => Unit = _ => ()): DataFrame = {
    val spark = nodes.sparkSession
    checkpointDir.foreach(spark.sparkContext.setCheckpointDir)
    // EAGER local checkpoint per round — measured best of three
    // truncation cadences on d10 at sf0.1, local[32], repeat=3 warm:
    // eager-every-round 3.9-4.8 s; lazy-every-round (witness action
    // materializes the blocks in the same job) 5.6-5.7 s; truncate
    // every OTHER round with .cache() in between 13.5 s (InMemoryRelation's
    // columnar encode costs more than the block copy it avoids). The
    // remaining d10 cost is the inherent O(log n) rewrite rounds, not
    // checkpoint overhead.
    def truncate(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) df.checkpoint(true) else df.localCheckpoint(true)

    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val m = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      // duplicates are tolerated here: smallStar's orient step dedups
      // immediately, so a dropDuplicates at this seam would only add
      // an Exchange per round without changing the round's output
      sym.join(m, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
    }

    def smallStar(e: DataFrame): DataFrame = {
      // orient every edge large -> small; the min smaller-neighbor IS
      // the neighborhood min (all of N⁻(u) < u)
      val or = e.select(greatest(col("u"), col("v")).as("u"),
          least(col("u"), col("v")).as("v"))
        .filter(col("u") =!= col("v")).dropDuplicates("u", "v")
      val m = or.groupBy(col("u")).agg(min(col("v")).as("m"))
      val linked = or.join(m, "u")
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
      linked.union(m.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .dropDuplicates("u", "v")
    }

    // order-independent set digest of a deduplicated (u, v) edge frame:
    // row count + two XOR-folded independent 64-bit row hashes (sum
    // would overflow under ANSI; XOR is exact and commutative)
    def witness(df: DataFrame): (Long, Long, Long) = {
      val r = df.agg(count(lit(1)),
        expr("bit_xor(xxhash64(u, v))"),
        expr("bit_xor(xxhash64(42, u, v))")).head()
      (r.getLong(0),
        if (r.isNullAt(1)) 0L else r.getLong(1),
        if (r.isNullAt(2)) 0L else r.getLong(2))
    }
    val oriented = edges
      .select(greatest(col("doc_a"), col("doc_b")).as("u"),
        least(col("doc_a"), col("doc_b")).as("v"))
      .filter(col("u") =!= col("v")).dropDuplicates("u", "v")
    var e = truncate(localContractPrePass(oriented))
    var w = witness(e)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val next = truncate(smallStar(largeStar(e)))
      val wn = witness(next)
      // matching witnesses are 2^-128-probabilistic (and the two
      // checksums share a hash family, so the bound is optimistic);
      // confirm the fixpoint EXACTLY with the set-difference check the
      // witness replaced — it runs on the single convergence round
      // (counts already match, both frames are deduplicated, so one
      // direction suffices), not on every round as before
      converged = wn == w && next.except(e).isEmpty
      w = wn
      e = next
      iter += 1
    }
    require(converged,
      s"connectedComponentsStar did not converge in $maxIter rounds")
    onConverged(iter)
    // at the fixpoint every non-root points straight at its component
    // min; isolated nodes root themselves
    nodes.join(e.select(col("u").as("doc_id"), col("v").as("cluster")),
        Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("cluster"), col("doc_id")).as("cluster"))
  }

  /** Partition-local contraction pre-pass for [[connectedComponentsStar]]:
    * each partition union-finds ITS OWN edges (no shuffle — a
    * mapPartitions over whatever layout the edge builder produced) and
    * emits one star edge (node → local component min) per non-root
    * node. Connectivity is preserved exactly — within a partition the
    * star spans the same node set the local edges connected, and
    * cross-partition connectivity rides on the shared node ids — while
    * the edge count drops to ≤ the per-partition node count and, more
    * importantly, the CHAINS the star rounds would spend O(log
    * diameter) global rewrites contracting collapse instantly wherever
    * the producing stage co-located them (a window/groupBy upstream
    * makes this the common case: d10's chain edges arrive
    * residue-partitioned, so the pre-pass leaves ~one edge per chain
    * segment). Per-partition state is one long-pair map bounded by the
    * partition's node count — the same memory envelope the partition's
    * edge rows already occupied; at 100 TB a 128 MB edge partition
    * holds ~8M pairs, well inside executor task memory.
    *
    * Applied only to integral node ids (the library's doc_id/vec_id
    * gates); other key types skip the pre-pass and take the star
    * rounds directly.
    */
  private def localContractPrePass(oriented: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val ut = oriented.schema("u").dataType
    if (ut != LongType && ut != IntegerType) return oriented
    val spark = oriented.sparkSession
    import spark.implicits._
    val stars = oriented.select(col("u").cast("long").as("_1"),
        col("v").cast("long").as("_2"))
      .as[(Long, Long)]
      .mapPartitions { it =>
        val parent = new java.util.HashMap[Long, Long]()
        def root(x: Long): Long = {
          var r = x
          while (parent.get(r) != r) r = parent.get(r)
          var c = x
          while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
          r
        }
        it.foreach { case (u, v) =>
          if (!parent.containsKey(u)) parent.put(u, u)
          if (!parent.containsKey(v)) parent.put(v, v)
          val ru = root(u); val rv = root(v)
          // union by MIN so every root is its component's minimum
          if (ru < rv) parent.put(rv, ru)
          else if (rv < ru) parent.put(ru, rv)
        }
        val ks = parent.keySet.iterator()
        new Iterator[(Long, Long)] {
          def hasNext: Boolean = ks.hasNext
          def next(): (Long, Long) = { val k = ks.next(); (k, root(k)) }
        }.filter { case (n, r) => n != r }
      }
    val out = stars.toDF("u", "v").dropDuplicates("u", "v")
    if (ut == IntegerType)
      out.select(col("u").cast("int").as("u"), col("v").cast("int").as("v"))
    else out
  }

  /** Near-dup cluster assignment: MinHash-LSH pairs (jac >= tau) form the
    * edge list; connected components give each doc its cluster id (the
    * component's min doc_id — the canonical keeper) and cluster size.
    * This is the step that turns pairwise near-dup detection into an
    * actually deduplicated corpus: keep rows where doc_id = cluster.
    */
  def minhashClusters(docs: DataFrame, tau: Double = 0.5): DataFrame = {
    val edges = minhashLshPairs(docs, tau).select(col("doc_a"), col("doc_b"))
    val cc = connectedComponents(docs.select(col("doc_id")), edges)
    cc.withColumn("cluster_size",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("cluster"))))
      .select(col("doc_id"), col("cluster"), col("cluster_size"))
  }

  /** Dedup-impact histogram: how many clusters and documents exist at
    * each near-dup cluster size — the measurement a pipeline reports
    * after dedup ("N% of the corpus is duplicated; the largest cluster
    * has M copies"). Size-1 rows are the unique tail; n_docs sums to
    * the corpus. Adds one partial→final agg on the (tiny) cluster-size
    * key over [[minhashClusters]]'s output; in production feed it the
    * precomputed cluster table instead of re-clustering.
    */
  def clusterHistogram(clusters: DataFrame): DataFrame =
    clusters
      .groupBy(col("cluster_size"))
      .agg(count_distinct(col("cluster")).as("n_clusters"),
        count(lit(1)).as("n_docs"))

  /** Incremental dedup of an incoming batch against the landed corpus —
    * the daily-ingest pattern: a new batch drops (a) docs whose
    * normalized content already exists in the landed corpus and (b)
    * within-batch duplicates (keeping the lowest id). The landed side
    * contributes only its distinct content hashes; at 100 TB that hash
    * set is the batch's anti-join build side and the landed TEXT is
    * never re-read (in production the hash column is a stored
    * by-product of the landing write).
    */
  def incrementalDedup(landed: DataFrame, incoming: DataFrame,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    def hashed(df: DataFrame) = df.select(col(idCol),
      md5(lower(regexp_replace(col(textCol), "\\s+", " "))).as("h"))
    val landedHashes = hashed(landed).select(col("h")).distinct()
    hashed(incoming)
      .join(landedHashes, Seq("h"), "left_anti")
      .groupBy(col("h")).agg(min(col(idCol)).as(idCol),
        count(lit(1)).as("batch_dups"))
      .select(col(idCol), col("h"), col("batch_dups"))
  }

  /** Bloom-pre-filtered incremental dedup: identical OUTPUT to
    * [[incrementalDedup]], restructured so the landed corpus is only
    * ever scanned map-side — never shuffled and never broadcast — the
    * shape a daily batch against a 100 TB landing zone actually needs:
    *
    *  1. the landed hashes fold into a Bloom filter
    *     (`df.stat.bloomFilter` — a distributed treeAggregate; bloom
    *     bitset OR-merge is commutative, so the sketch is
    *     partitioning-independent), broadcast to every task;
    *  2. incoming rows the filter REJECTS are definitely new — they
    *     bypass every join (at steady state that is most of the batch);
    *  3. the might-contain candidates (true dups + the ~fpp false
    *     positives) are batch-sized, so they broadcast: the landed scan
    *     resolves them with a map-side LEFT SEMI (which hashes truly
    *     exist), and that `present` set — candidate-bounded — resolves
    *     the candidates with a broadcast LEFT ANTI.
    *
    * Exactness is restored by step 3, so the Bloom's false positives
    * cost only extra probes, never lost rows — the gate (d11) runs
    * d08's oracle unchanged. The sketch is keyed on xxhash64(h)
    * (Spark's bloom aggregate takes integral keys; an xxhash collision
    * just routes one more row down the candidate path), and the probe
    * is a scala UDF over the broadcast sketch (a black-box library
    * bitset; no codegen-able column form exists) — it runs on the
    * batch side only, and the rows it rejects never reach a shuffle.
    */
  def incrementalDedupBloom(landed: DataFrame, incoming: DataFrame,
      expectedItems: Long, fpp: Double = 0.01,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val spark = landed.sparkSession
    def hashed(df: DataFrame) = df.select(col(idCol),
      md5(lower(regexp_replace(col(textCol), "\\s+", " "))).as("h"))
    val landedHashes = hashed(landed).select(col("h"))
    // an empty landing zone (first-ever batch) has nothing to probe —
    // and the bloom builder rejects empty input; the exact form is
    // free in that case (the anti-join build side is empty)
    if (landedHashes.isEmpty)
      return incrementalDedup(landed, incoming, textCol, idCol)
    val bloom = landedHashes.stat.bloomFilter(xxhash64(col("h")),
      math.max(expectedItems, 1L), fpp)
    val bloomB = spark.sparkContext.broadcast(bloom)
    val mightContain = udf((k: Long) => bloomB.value.mightContainLong(k))
    val inc = hashed(incoming)
    val definiteNew = inc.filter(!mightContain(xxhash64(col("h"))))
    val candidates = inc.filter(mightContain(xxhash64(col("h"))))
    val present = landedHashes
      .join(broadcast(candidates.select(col("h")).distinct()), Seq("h"),
        "left_semi")
      .distinct()
    // the USING join puts h first — realign before the positional union
    val confirmedNew = candidates.join(broadcast(present), Seq("h"), "left_anti")
      .select(col(idCol), col("h"))
    definiteNew.select(col(idCol), col("h")).union(confirmedNew)
      .groupBy(col("h")).agg(min(col(idCol)).as(idCol),
        count(lit(1)).as("batch_dups"))
      .select(col(idCol), col("h"), col("batch_dups"))
  }

  /** Benchmark-contamination scan: for every corpus document, the
    * 3-gram-shingle overlap with each document of a benchmark/eval set,
    * reported when it reaches `minPpm` of the document's shingles —
    * the decontamination pass a training pipeline runs so eval answers
    * don't leak into the corpus. Here the benchmark set is carved out
    * of `documents` itself (doc_id % benchMod == 0) so the oracle can
    * recompute it; in production it is the eval suite's text.
    *
    * Scale shape: the benchmark side is small by nature (eval suites
    * are MBs, the corpus is TBs) — its exploded shingle index is
    * broadcast, so the corpus-side scan never shuffles: overlap
    * counting is a map-side hash-join + partial count keyed on
    * (doc_id, bench_id). Work is Σ over shared shingles of
    * bench_df × corpus_df, the inverted-index bound, not |corpus|×|bench|.
    */
  def contaminationOverlap(docs: DataFrame, benchMod: Long = 50L,
      minPpm: Long = 100000L, n: Int = 3): DataFrame =
    contaminationOverlapAgainst(
      docs.filter(col("doc_id") % benchMod =!= 0),
      docs.filter(col("doc_id") % benchMod === 0), minPpm, n)

  /** [[contaminationOverlap]] with EXPLICIT corpus/bench frames — the
    * production shape (the bench side is the eval suite's own text,
    * not a carve-out), and what lets a composed pipeline (p22) scan
    * only its SURVIVING corpus against the bench index: the overlap
    * join is the expensive decontam work, and a groupBy between it
    * and the consumer's anti-join blocks Catalyst from pushing the
    * survivor filter through on its own.
    */
  def contaminationOverlapAgainst(corpus: DataFrame, bench: DataFrame,
      minPpm: Long = 100000L, n: Int = 3): DataFrame = {
    val sh = docShingles(corpus, n)
    val counts = sh.select(col("doc_id"), size(col("sh")).as("n_sh"))
    val ex = sh.select(col("doc_id"), explode(col("sh")).as("s"))
    val bex = docShingles(bench, n)
      .select(col("doc_id").as("bench_id"), explode(col("sh")).as("s"))
    val overlaps = ex
      .join(broadcast(bex), "s")
      .groupBy(col("doc_id"), col("bench_id")).agg(count(lit(1)).as("common"))
    overlaps.join(counts, "doc_id")
      .withColumn("overlap_ppm", expr("common * 1000000 div n_sh"))
      .filter(col("overlap_ppm") >= minPpm)
      .select(col("doc_id"), col("bench_id"), col("common"), col("overlap_ppm"))
  }

  /** Ingest-time contamination FLAGGING as a STREAM-STATIC join — the
    * streaming face of [[contaminationOverlapAgainst]], and the one
    * Structured Streaming join topology the inventory had not yet
    * executed (w09 is stream-stream; the stateful gates are aggs/
    * dedup/mapGroups): incoming documents explode to (doc_id, shingle)
    * rows and equi-join the STATIC benchmark shingle index — Spark
    * broadcasts the static side into every micro-batch, the exact
    * plan a production ingest runs to flag eval leakage the moment a
    * document lands instead of waiting for the batch decontam sweep
    * (p13/p22 remain the authoritative keep-side pass). Any-hit
    * semantics (one shared shingle flags the doc — the GPT-3-style
    * n-gram collision rule); the streamed flag set is deduplicated
    * across micro-batches, so state is bounded by the number of
    * CONTAMINATED ids, not the corpus.
    */
  def decontamFlagStream(docs: DataFrame, benchShingles: DataFrame,
      n: Int = 3): DataFrame = {
    graft.functions.VectorExprs.register(docs.sparkSession)
    docs
      .select(col("doc_id"),
        explode(call_function("shingles_of", tokens(col("text")), lit(n)))
          .as("s"))
      .join(broadcast(benchShingles), "s") // stream-static equi inner
      .select(col("doc_id"))
      .dropDuplicates("doc_id")
  }

  /** w15 gate harness: run [[decontamFlagStream]] as a REAL streaming
    * execution over the distributed parquet file source — corpus docs
    * arrive in two parity micro-batches (so a doc's flag can land in
    * either batch and the cross-batch dedup state is exercised), the
    * bench shingle index is the static side derived from the same
    * corpus carve-out the batch gates use (doc_id ≡ 0 mod 50).
    */
  def decontamStreamGate(s: SparkSession, d: String): DataFrame =
    decontamStreamRun(s, Tables.documents(s, d), Some(s"w15|$d"))

  /** w15's streaming execution over a caller-supplied corpus — the
    * gate passes the sf table; ScaleProbe passes the 10× replica to
    * measure the stream-static shape (static bench index fixed,
    * streamed side linear, state ∝ flagged ids).
    */
  private[graft] def decontamStreamRun(s: SparkSession,
      docs: DataFrame, feedKey: Option[String] = None): DataFrame = {
    val bench = docShingles(docs.filter(col("doc_id") % 50 === 0), 3)
      .select(explode(col("sh")).as("s")).distinct()
    val corpus = docs.filter(col("doc_id") % 50 =!= 0)
      .select(col("doc_id"), col("text"))
    graft.util.StreamGate.runParquet(s, "w15_decontam_stream",
      Seq(corpus.filter(col("doc_id") % 2 === 0),
        corpus.filter(col("doc_id") % 2 =!= 0)),
      stream => decontamFlagStream(stream, bench),
      // flag-dedup state is tiny (∝ contaminated ids): sized to the
      // w09 rule like the other small-state gates. Going lower was
      // measured (r14): 2 partitions saved nothing outside noise —
      // real gates' batches are work-bound, not commit-bound, at this
      // size (an isolated MemoryStream floor test misleads here)
      statePartitions = Some(8),
      feedKey = feedKey)
      .orderBy(col("doc_id"))
  }

  /** Streaming exact-dedup for an ingest firehose: drops re-arrivals of
    * the same normalized content within the watermark horizon
    * (Structured Streaming's dropDuplicatesWithinWatermark). State is
    * bounded by the horizon — the only way a continuous 100 TB/day feed
    * dedups without unbounded state; cross-horizon dups are the batch
    * operators' job ([[exactGroups]] over the landed corpus).
    */
  def dedupStream(docs: DataFrame, textCol: String = "text",
      eventTimeCol: String = "ts", watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("content_hash",
        md5(lower(regexp_replace(col(textCol), "\\s+", " "))))
      .withWatermark(eventTimeCol, watermark)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Streaming NEAR-dup suppression within the watermark horizon: a
    * re-arrival whose full 16-slot minhash signature matches an earlier
    * doc's is dropped — content identity that survives whitespace,
    * token-reorder-preserving (cyclic) edits, and any perturbation that
    * keeps the shingle SET intact, where [[dedupStream]]'s byte hash
    * does not. Deliberately conservative: a full-signature match is a
    * Jaccard≈1 proxy (P ≈ jac^16), because in a dedup stream a false
    * positive silently DROPS data — banded OR-matching (which would
    * catch jac≈0.7 at real false-positive risk) needs multi-key state
    * that dropDuplicates cannot express; that remains the batch LSH
    * operators' job over the landed corpus. Docs too short to shingle
    * fall back to the exact content hash. State is one key per doc
    * within the horizon, same bound as [[dedupStream]].
    */
  def nearDupStream(docs: DataFrame, textCol: String = "text",
      eventTimeCol: String = "ts", watermark: String = "1 hour",
      n: Int = 3): DataFrame = {
    graft.functions.VectorExprs.register(docs.sparkSession)
    val sh = call_function("shingles_of", tokens(col(textCol)), lit(n))
    val sigKey = when(size(col("sh")) > 0,
        col("sig").cast("string"))
      .otherwise(md5(lower(regexp_replace(col(textCol), "\\s+", " "))))
    docs
      .withColumn("sh", sh)
      .withColumn("sig", minhashSig(col("sh")))
      .withColumn("sig_key", sigKey)
      .drop("sh", "sig")
      .withWatermark(eventTimeCol, watermark)
      .dropDuplicatesWithinWatermark("sig_key")
  }

  /** Winnowing gate constants — single source of truth for the Spark
    * plan and the generated d17 oracle SQL.
    */
  val WinnowGateK: Int = 3
  val WinnowGateW: Int = 4
  val WinnowGateMinShared: Long = 2L
  val WinnowGateMaxDf: Long = 10000L

  /** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    * "Winnowing: Local Algorithms for Document Fingerprinting",
    * SIGMOD'03 — the MOSS algorithm): hash every k-token gram (60-bit
    * md5 prefix, same arithmetic as the hashed-shingle join), slide a
    * w-hash window over the gram stream, and keep each window's
    * MINIMUM hash. The selection guarantees that any run of
    * ≥ w + k - 1 tokens shared between two documents surfaces at
    * least one shared fingerprint (every length-w window inside the
    * shared run selects the same minimum in both docs), while keeping
    * the index an expected 2/(w+1) the size of the full gram
    * inversion — the sparse middle ground between d02's exact
    * inverted index and d03's similarity-threshold LSH: winnowing
    * detects CONTAINMENT (a copied paragraph inside an otherwise
    * different doc) that whole-doc jaccard dilutes below any LSH
    * threshold.
    *
    * Scale shape: gram hashing and window minima are per-doc map-side
    * kernel work ([[graft.functions.WinnowFps]] — a single tight loop
    * per doc; the equivalent HOF formulation evaluated interpreted,
    * one Vector-copying slice per window, and cost MINUTES per scan
    * task at sf0.1); only (doc_id, fingerprint) rows shuffle. Docs
    * shorter than k tokens have no grams and drop out; gram streams
    * shorter than w contribute their single overall minimum (the
    * standard short-doc convention).
    */
  def winnowFingerprints(docs: DataFrame, k: Int = WinnowGateK,
      w: Int = WinnowGateW): DataFrame = {
    require(k >= 1 && w >= 1, s"k and w must be >= 1: k=$k w=$w")
    graft.functions.VectorExprs.register(docs.sparkSession)
    docs.select(col("doc_id"),
      call_function("winnow_fps", tokens(col("text")), lit(k), lit(w))
        .as("fp"))
  }

  /** Candidate pairs by shared winnowing fingerprints: the inverted
    * index over the winnowed (not full) gram set, with d02's
    * stop-fingerprint df cap for boilerplate (a fingerprint shared by
    * m docs contributes m² join rows; the hot set broadcasts into an
    * anti-join). Pairs sharing ≥ minShared fingerprints survive —
    * each shared fingerprint certifies a shared token run.
    */
  def winnowingPairs(docs: DataFrame, k: Int = WinnowGateK,
      w: Int = WinnowGateW, minShared: Long = WinnowGateMinShared,
      maxDf: Long = WinnowGateMaxDf): DataFrame = {
    // the fingerprint table feeds FOUR plan branches (df census + both
    // join sides through the anti-join) — scope-cache it so the kernel
    // runs once per doc, not four times; the kernel stage itself is
    // CPU-bound map work, so spread a small corpus's single split
    // across cores first (AQE keeps this a no-op-sized shuffle at
    // scale, where the scan yields thousands of splits anyway)
    val fps = scopedCache(winnowFingerprints(
      docs.repartition(docs.sparkSession.sparkContext.defaultParallelism),
      k, w)
      .select(col("doc_id"), explode(col("fp")).as("fp")))
    val hot = fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select(col("fp"))
    val cold = fps.join(broadcast(hot), Seq("fp"), "left_anti")
    cold.as("a")
      .join(cold.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
  }

  /** d18 gate threshold — single source of truth for plan + oracle. */
  val PrefixGateTau: Double = 0.6

  /** EXACT Jaccard set-similarity join with prefix filtering (the
    * SSJoin/PPJoin family: Chaudhuri, Ganti & Kaushik ICDE'06; Bayardo,
    * Ma & Srikant WWW'07; Xiao et al. WWW'08): all pairs whose 3-gram
    * shingle-set Jaccard is >= tau, computed exactly while indexing only
    * each document's rarest-first PREFIX instead of its full shingle
    * list.
    *
    * Prefix-filtering principle: under any fixed global token order, if
    * |A∩B| >= α then the first (|A|-α+1) tokens of A and the first
    * (|B|-α+1) tokens of B must share an element (if the prefixes were
    * disjoint, every common element would have to sit in A's α-1-sized
    * suffix — order both last-prefix elements and the contradiction is
    * immediate). Jaccard >= tau implies overlap >= ⌈tau·max(n_a,n_b)⌉,
    * and each side's own ⌈tau·n⌉ bound yields a prefix at least as long
    * as that α requires, so indexing p = n - ⌈tau·n⌉ + 1 tokens per doc
    * is complete — no heuristic, no recall loss.
    *
    * This is the third, strongest point on the d02→d03 spectrum:
    * d02's inverted index is exact only while its df cap doesn't bind
    * (above it, boilerplate-only pairs are silently skipped); d03's
    * LSH is probabilistic by construction. Prefix filtering keeps
    * EXACTNESS at scale: the index shrinks from Σn to Σ(n-⌈tau·n⌉+1)
    * entries (60% fewer at tau=0.6), hot boilerplate shingles land at
    * the BACK of the rarest-first order and mostly fall out of every
    * prefix (the measured gate-corpus index carries no shingle with
    * df > ~tens), and candidate work stays Σ prefix-bucket² instead of
    * Σ full-bucket². The global order costs one extra shuffle (the df
    * join) — the price of exactness the cap variant avoids by giving
    * up recall.
    *
    * Scale shape: the raw shingle string never shuffles — each
    * exploded occurrence is keyed map-side by a 120-bit md5 hash pair
    * (two 60-bit longs, the first being the SAME `conv(substring(md5,
    * 1,15),16,10)` hash the verify sets use), so the df census, df
    * join, and candidate self-join all exchange 16-byte keys instead
    * of ~n·8-byte shingle text (~3-4× fewer shuffle bytes on the
    * probe corpus). Exactness is untouched by the hashing in the
    * prefix/candidate stages: the rarest-first order only needs SOME
    * globally-consistent total order for the prefix lemma, (df, h1,
    * h2) is one, and a 120-bit collision can only ADD candidates. The
    * binding accuracy limit is the verify stage's pre-existing 60-bit
    * h1-only shingle sets — a cross-doc h1 collision inflates the
    * computed Jaccard with probability ~2^-60 per shingle pair, the
    * same bound [[minhashLshPairs]] carries — so "exact" reads as
    * exact-up-to-the-shared-60-bit-set-hash. The per-doc rank window partitions by
    * doc_id (never SinglePartition); candidates join on prefix hashes
    * only (`bandedPairs` keyed on (h1, h2)); the verify is
    * [[minhashLshPairs]]' `verifyHashedJaccard`. The length filter
    * (tau·max <= min) is the candidate join's verify predicate, so it
    * prunes cross-size candidates before the pair dedupe and the
    * verify exchange.
    */
  def prefixJaccardJoin(docs: DataFrame, tau: Double = PrefixGateTau,
      n: Int = 3): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, s"tau must be in (0,1]: $tau")
    val sh = scopedCache(docShingles(docs, n).filter(size(col("sh")) > 0))
    val ex = sh.select(col("doc_id"), size(col("sh")).as("n_sh"),
        explode(col("sh")).as("s"))
      .withColumn("m", md5(col("s")))
      .select(col("doc_id"), col("n_sh"),
        conv(substring(col("m"), 1, 15), 16, 10).cast("long").as("h1"),
        conv(substring(col("m"), 16, 15), 16, 10).cast("long").as("h2"))
    val dfs = ex.groupBy(col("h1"), col("h2")).agg(count(lit(1)).as("df"))
    // rarest-first global order (ascending df, hash-pair tie-break):
    // the standard order that makes prefixes collide as rarely as
    // possible; any consistent total order preserves the prefix lemma
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("df"), col("h1"), col("h2"))
    val prefix = scopedCache(ex.join(dfs, Seq("h1", "h2"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= col("n_sh") - ceil(col("n_sh") * tau) + 1)
      .select(col("doc_id"), col("n_sh"), col("h1"), col("h2")))
    val cands = bandedPairs(prefix, "doc_id", Seq("h1", "h2"),
      carry = Seq(col("a.n_sh").as("na"), col("b.n_sh").as("nb")),
      verify = greatest(col("na"), col("nb")) * tau <= least(col("na"), col("nb")))
    verifyHashedJaccard(cands, sh, tau)
  }

  /** d19 gate constant — single source of truth for plan + oracle. */
  val ExactSubGateL: Int = 8

  /** Cross-document EXACT-substring dedup, keep-first (the ExactSubstr
    * pass of Lee et al., "Deduplicating Training Data Makes Language
    * Models Better", ACL'22, approximated at fixed gram length L
    * instead of a suffix array): every L-token gram that occurs more
    * than once in the corpus keeps its globally-earliest occurrence
    * (min (doc_id, position)) and has every LATER occurrence's L
    * tokens removed from its document. Duplicated passages — license
    * blocks, copied paragraphs, mirrored pages — vanish from all but
    * the first document that carries them, at token granularity,
    * without whole-doc or whole-segment collateral (the d13/d14
    * segment operators drop aligned TILES; this removes the exact
    * duplicated positions and keeps the rest of the line).
    *
    * Fixed-L approximation semantics: a duplicated run of R >= L
    * tokens is covered by its R-L+1 duplicated grams, so later copies
    * lose the WHOLE run (the covered-position union); runs shorter
    * than L are below the detection floor — L is the "minimum match
    * length" knob (Lee et al. use 50 BPE tokens at corpus scale).
    *
    * Scale shape: gram hashing is the one-pass [[graft.functions
    * .GramHashes]] kernel ([[winnowFingerprints]]'s hashing without
    * the winnowing), map-side; the only corpus-wide shuffles key on
    * the 60-bit gram hash (first-occurrence agg is min(struct) with
    * map-side partial combine — deliberately NOT a per-gram rank
    * window, which would chain a boilerplate gram's million
    * occurrences through one task; AQE handles residual join skew on
    * hot grams). Removed positions explode ×L on the DUPLICATED mass
    * only, then dedupe on (doc_id, pos); reconstruction joins and
    * windows are doc-keyed. Kept text reassembles via
    * array_sort(collect_list(struct)) + field extraction — collection
    * expressions, no interpreted HOF in the hot path.
    */
  def exactSubstringDedup(docs: DataFrame,
      l: Int = ExactSubGateL): DataFrame = {
    require(l >= 2, s"gram length must be >= 2: $l")
    graft.functions.VectorExprs.register(docs.sparkSession)
    // kernel stage spread (winnowing precedent): one small-corpus
    // parquet split would otherwise hash every doc in one task
    val base = scopedCache(docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(col("doc_id"), tokens(col("text")).as("t")))
    val grams = scopedCache(base
      .select(col("doc_id"),
        posexplode(call_function("gram_hashes", col("t"), lit(l)))
          .as(Seq("p", "gh"))))
    val first = grams.groupBy(col("gh"))
      .agg(min(struct(col("doc_id"), col("p"))).as("f"))
    // an occurrence that is not its gram's first loses tokens
    // [p, p+l); occ == 1 grams are their own first and drop out here
    val removedPos = grams.join(first, "gh")
      .filter(!(col("doc_id") === col("f.doc_id") && col("p") === col("f.p")))
      .select(col("doc_id"),
        explode(sequence(col("p"), col("p") + lit(l - 1))).as("p"))
      .distinct()
    val kept = base
      .select(col("doc_id"), posexplode(col("t")).as(Seq("p", "tok")))
      .join(removedPos, Seq("doc_id", "p"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ",
          array_sort(collect_list(struct(col("p"), col("tok"))))
            .getField("tok")).as("kept_text"))
    base.select(col("doc_id"), size(col("t")).cast("long").as("n_toks"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (col("n_toks") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("kept_text"), lit("")).as("kept_text"))
  }

  /** w04 gate harness: run [[nearDupStream]] as a REAL Structured
    * Streaming query (MemoryStream source → watermark-bounded
    * signature state → memory sink) and hash-check the survivors
    * against a DuckDB batch replay — which must reproduce the FULL
    * minhash pipeline (28-bit base hash, 16-slot affine rehash family,
    * short-doc md5 fallback) to agree on the signature groups. The
    * feed re-arrives every 5th doc under a shifted id (the signature
    * state must drop them) and adds six ≤1-token synthetic docs with
    * duplicates among them (the md5 fallback path must drop those).
    *
    * Determinism: [[Pipelines.cleanStreamGate]]'s batch-layout idea,
    * collapsed to TWO micro-batches — [[nearDupStream]] has no filter,
    * so each key's first occurrence (min doc_id) ALWAYS survives;
    * batch 1 carries exactly those rows (one per key — no within-batch
    * races), batch 2 carries everything else, which the landed state
    * deterministically drops. (The per-rank layout w03 needs — where a
    * quality filter can eliminate leading occurrences — would cost one
    * micro-batch per occurrence rank: ~23 s at sf0.1 vs ~3 s for the
    * two-batch form.) The engines' key STRINGS differ (Spark casts the
    * sig array, the oracle joins it) but both are injective in the
    * signature, so the groupings — and the gated survivor sets —
    * coincide exactly.
    */
  /** w04's driver-side feed, memoized per corpus dir: the minhash-rank
    * window + collect is deterministic harness derivation (the
    * StreamGate feedMemo / memoStore justification), re-ran per bench
    * repeat for an identical few-hundred-row Seq. The streamed
    * operator still executes fully each invocation.
    */
  private val w04FeedMemo = new scala.collection.concurrent.TrieMap[
    String, Seq[Seq[(Long, String, java.sql.Timestamp)]]]

  def nearDupStreamGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.functions.VectorExprs.register(s)
    val batches = w04FeedMemo.getOrElseUpdate(dir, {
      val ts0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
      val docs0 = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val shorts = s.range(0, 6).select(
        (col("id") + 2000000L).as("doc_id"),
        concat(lit("s"), (col("id") % 3).cast("string")).as("text"))
      val feed = docs0
        .unionAll(docs0.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
        .unionAll(shorts)
      val sh = call_function("shingles_of", tokens(col("text")), lit(3))
      val ranked = feed.withColumn("sh", sh)
        .withColumn("k", when(size(col("sh")) > 0,
          minhashSig(col("sh")).cast("string"))
          .otherwise(md5(lower(regexp_replace(col("text"), "\\s+", " ")))))
        .withColumn("rk", least(row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("k"))
            .orderBy(col("doc_id"))), lit(2)))
        .select(col("doc_id"), col("text"), col("rk"))
        .as[(Long, String, Int)].collect()
      ranked.groupBy(_._3).toSeq.sortBy(_._1)
        .map(_._2.map(r => (r._1, r._2, ts0)).toSeq)
    })
    graft.util.StreamGate.run(s, "w04_neardup_stream",
      Seq("doc_id", "text", "ts"), batches,
      nearDupStream(_), statePartitions = Some(8))
      .select(col("doc_id")).orderBy(col("doc_id"))
  }

  /** Embedding-cosine near-dup pairs above tau. Brute-force within the
    * corpus — the LSH-bucketed variant in [[Similarity]] is the scale
    * path; this is the exact baseline.
    *
    * The vectors are L2-normalized ONCE per row (cached so the
    * projection can't be collapsed into the pair loop), so per-pair
    * work is a single codegen'd dot fold instead of dot + two norms.
    * Measured at sf0.1 (2000 × dim-64): wall-clock is unchanged —
    * the nested-loop's per-pair row machinery dominates, not the
    * arithmetic — but the shape is kept because at higher dimensions
    * (real embeddings are 512-4096-wide) the saved 2×dim flops per
    * pair become the dominant term. The oracle normalizes the same
    * way (elementwise x/‖v‖ then a sequential dot fold), keeping the
    * rounded values bit-identical across engines.
    *
    * SIZE-GUARDED: this is the one deliberately O(n²) plan in the
    * library. `maxRows` is the opt-in ceiling — the call fails fast
    * (one count, before any pair work) if the corpus exceeds it, so
    * the cartesian is unreachable on a full corpus by accident. A
    * caller who truly wants a bigger exact baseline states the bound
    * explicitly; the scale path is [[embeddingPairsLsh]].
    */
  val EmbPairsDefaultMaxRows = 10000L

  def embeddingPairs(embs: DataFrame, tau: Double,
      maxRows: Long = EmbPairsDefaultMaxRows): DataFrame = {
    // limit(maxRows+1) bounds the guard itself: it scans at most
    // maxRows+1 rows to decide, instead of a full count of a corpus
    // that may be 100 TB — the guard must not cost what it guards
    val probe = math.min(maxRows, Int.MaxValue - 1L).toInt + 1
    val over = embs.limit(probe).count() > maxRows
    require(!over,
      s"embeddingPairs is the all-pairs exact baseline (O(n²) pairs): " +
      s"corpus exceeds maxRows=$maxRows. Use embeddingPairsLsh " +
      s"for the scale path, or pass maxRows explicitly to opt in.")
    graft.functions.VectorExprs.register(embs.sparkSession)
    val e = scopedCache(normalizedVecs(embs))
    e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        round(call_function("array_dot", col("a.v"), col("b.v")), 6).as("cos"))
      .filter(col("cos") >= tau)
  }

  private def normalizedVecs(embs: DataFrame): DataFrame = {
    graft.functions.VectorExprs.register(embs.sparkSession)
    embs
      .select(col("vec_id"), asDoubles(col("embedding")).as("v0"))
      .withColumn("nrm", call_function("array_norm", col("v0")))
      .select(col("vec_id"), expr("transform(v0, x -> x / nrm)").as("v"))
  }

  /** Embedding near-dup pairs via MULTI-TABLE hyperplane LSH — the
    * scale path [[embeddingPairs]]'s brute-force baseline points at.
    * `nTables` independent tables of `nPlanes` hyperplanes each:
    * candidate pairs form within any table's buckets (Σ bucket² work
    * per table, never O(n²)), then exact cosine ≥ tau verifies — so
    * precision is 1.0 by construction and only recall is approximate.
    *
    * OR-amplification is what makes this usable at the near-dup
    * band: a single sign-LSH table keeps a cos≈0.5 pair with
    * p^nPlanes ≈ 0.2 (p = 1 − θ/π), hopeless alone; L tables keep it
    * with 1 − (1 − p^b)^L ≈ 0.83 at b=4, L=8. Tuning at scale: raise
    * b so buckets stay small (work ∝ Σ bucket²), raise L to buy the
    * recall back — the index cost is one exploded (tbl, bucket) row
    * per table per vector, the standard L-fold replica a multi-table
    * LSH index pays. Recall vs the exact pairs is pinned in DedupSpec.
    */
  /** Corpus size the 4-plane default is calibrated at (the sf0.1
    * embeddings table); [[graft.util.Resolution.autoBits]]'s n₀.
    */
  val D09CalibN = 2000L

  /** @param probeFlips multi-probe extension (Lv et al., VLDB'07 —
    *   the s15 result applied to the PAIR join): each vector probes
    *   its own bucket per table PLUS the `probeFlips` buckets that
    *   differ in the planes with the smallest projection margin — the
    *   buckets a true near-duplicate most likely fell into when it
    *   landed just across a hyperplane. Probes buy recall WITHOUT more
    *   tables: the index side stays ONE (tbl, bucket) row per table
    *   per vector (the replica cost that multiplies a 100 TB index),
    *   only the probe side explodes ×(flips+1). 0 is the classic
    *   single-bucket join. Both `nTables` and `probeFlips` default to
    *   [[graft.util.Resolution.AutoInt]]: the pair is then picked
    *   from the measured frontier ([[graft.util.Resolution
    *   .lshTableProbes]]) — (8, 0) at or below the calibration
    *   corpus (gates bit-identical), (4, 2) above it. The
    *   tables-vs-probes recall/cost frontier is measured in ScaleProbe
    *   (d09_multiprobe_frontier) and recorded in SCALE.md.
    */
  /** The exact knob resolution [[embeddingPairsLsh]] applies, factored
    * for spec visibility (the corpus count is only forced when a knob
    * is left auto): planes from the ⌈log₂⌉ ladder, (tables, probes)
    * from the measured frontier, a scheduled probe count clamped to
    * the plane count (a caller-pinned one is validated instead).
    */
  private[graft] def lshConfig(n: => Long,
      nPlanes: graft.util.Resolution, nTables: Int,
      probeFlips: Int): (Int, Int, Int) = {
    lazy val nRows = n
    val planes = graft.util.Resolution.resolve(nPlanes, nRows,
      D09CalibN, base = 4, hi = 24)
    lazy val sched = graft.util.Resolution.lshTableProbes(nRows, D09CalibN)
    val tables =
      if (nTables == graft.util.Resolution.AutoInt) sched._1 else nTables
    val flips =
      if (probeFlips == graft.util.Resolution.AutoInt)
        math.min(sched._2, planes)
      else probeFlips
    require(flips >= 0 && flips <= planes,
      s"probeFlips must be in [0, $planes]: $flips")
    (planes, tables, flips)
  }

  def embeddingPairsLsh(embs: DataFrame, tau: Double,
      nPlanes: graft.util.Resolution = graft.util.Resolution.Auto,
      nTables: Int = graft.util.Resolution.AutoInt, dim: Int = 64,
      probeFlips: Int = graft.util.Resolution.AutoInt): DataFrame = {
    import graft.functions.TextFns.{lshBucket, planeWeights}
    // Auto-sized resolution (Resolution scaladoc): planes grow
    // ⌈log₂(n/n₀)⌉ past the 4-plane default calibrated at the sf0.1
    // corpus, so bucket occupancy — and with it Σ bucket² candidate
    // work — stays ~flat as the corpus grows instead of re-creating
    // the measured 6.6× cliff. Recall per table falls with planes;
    // by default the (tables, probes) pair is ALSO corpus-derived
    // from the measured frontier ([[graft.util.Resolution
    // .lshTableProbes]]): at or below the calibration corpus the
    // classic 8-table un-probed join (gate corpora — bit-identical
    // hashes), above it 4 tables + 2 margin-ranked probe flips — the
    // cheaper-index configuration a 100 TB caller should get without
    // reading SCALE.md. Explicit arguments pin either knob.
    lazy val nRows = embs.count()
    val (planes, tables, flips) =
      lshConfig(nRows, nPlanes, nTables, probeFlips)
    val e = normalizedVecs(embs)
    val bk = e.select(col("vec_id"), col("v"),
      posexplode(array((0 until tables).map(t =>
        lshBucket(col("v"), planes, dim, t * planes)): _*))
        .as(Seq("tbl", "bucket")))
    // probe side: per (vector, table), the own bucket plus the
    // probeFlips lowest-|margin| single-bit flips (margins ranked by
    // (|projection|, plane index) — deterministic, like s15)
    val probes = if (flips == 0) None else {
      val perTable = array((0 until tables).map { t =>
        struct(lit(t).as("tbl"),
          lshBucket(col("v"), planes, dim, t * planes).as("qb"),
          array((0 until planes).map { j =>
            struct(
              abs(call_function("array_dot", col("v"),
                typedlit(planeWeights(t * planes + j, dim)))).as("m"),
              lit(j).as("j"))
          }: _*).as("ms"))
      }: _*)
      Some(e
        .select(col("vec_id"), col("v"), explode(perTable).as("ts"))
        .select(col("vec_id"), col("v"), col("ts.tbl").as("tbl"),
          explode(concat(array(col("ts.qb")),
            expr(s"transform(slice(array_sort(ts.ms), 1, $flips)," +
              " s -> ts.qb ^ shiftleft(1, s.j))"))).as("bucket")))
    }
    // cos is scored inside the bucket join, once per colliding table
    // (~dim flops a repeat), so the pair dedupe ships 24-byte
    // (id, id, cos) survivors instead of every candidate with two
    // dim-wide arrays: measured at sf0.1 (2000 × dim-64, ~2M
    // candidates) 11.9 s → ~3 s
    bandedPairs(bk, "vec_id", Seq("tbl", "bucket"),
      carry = Seq(round(call_function("array_dot", col("a.v"), col("b.v")), 6)
        .as("cos")),
      verify = col("cos") >= tau, probes = probes)
  }

  /** Intra-document repetition REMOVAL: within each document, repeated
    * content-defined segments keep only their first occurrence — the
    * pass that strips looped boilerplate/navigation a single page
    * repeats (t06 detects this smell; this operator removes it). No
    * cross-document state at all.
    *
    * Scale shape: the only shuffles are doc-keyed (segmentation window,
    * first-occurrence window, reassembly groupBy) — at 100 TB this is
    * embarrassingly parallel per document, pinned never-SinglePartition
    * in PlanShapeSpec.
    */
  def intraDocDedup(docs: DataFrame,
      boundaryMod: Int = CdcGateMod): DataFrame = {
    val byFirst = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"), col("seg")).orderBy(col("seg_idx"))
    cdcSegments(docs, boundaryMod)
      .withColumn("kept", row_number().over(byFirst) === 1)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segs"),
        sum(col("kept").cast("long")).as("n_kept"),
        array_join(expr(
          "transform(array_sort(collect_list(CASE WHEN kept THEN struct(seg_idx, seg) END)), x -> x.seg)"),
          " ").as("clean_text"))
  }

  /** Semantic (SemDeDup-style) near-dup clusters: connected components
    * over the embedding-LSH near-dup graph — the embedding-space analog
    * of [[minhashClusters]], composing the d09 scale path with CC so
    * semantically-duplicated documents collapse to one keeper
    * (keep rows where vec_id = cluster). Returns (vec_id, cluster,
    * cluster_size) with the component-min keeper label.
    *
    * Scale shape: pair generation is d09's (Σ bucket² per table, exact
    * cosine verify, array-free dedup shuffle); CC is d06's
    * checkpoint-truncated propagation (semantic-dup components are
    * shallow); the composition adds no new shuffle structure.
    */
  def semanticClusters(embs: DataFrame, tau: Double,
      nPlanes: graft.util.Resolution = graft.util.Resolution.Auto,
      nTables: Int = graft.util.Resolution.AutoInt,
      dim: Int = 64): DataFrame = {
    val edges = embeddingPairsLsh(embs, tau, nPlanes, nTables, dim)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    val cc = connectedComponents(embs.select(col("vec_id").as("doc_id")), edges)
    cc.withColumn("cluster_size",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("cluster"))))
      .select(col("doc_id").as("vec_id"), col("cluster"), col("cluster_size"))
  }

  /** Cross-document SEGMENT dedup (the line/paragraph-dedup pass of
    * C4/RefinedWeb-style cleaning, over n-token segments since the
    * synthetic corpus has no line structure): cut each document into
    * consecutive `segTokens`-token segments, count each distinct
    * segment's document frequency across the corpus, drop segments
    * appearing in more than `maxDf` documents (boilerplate: headers,
    * licenses, navigation), and reassemble the survivors in order.
    * Exact-duplicate documents keep their shared segments only if the
    * df stays within bound — this operator removes REPEATED REGIONS,
    * complementing whole-doc dedup (d01/d03).
    *
    * Scale shape: segmentation is map-side generate; the df table is
    * one partial→final count keyed on the segment text (at scale, key
    * on md5(segment) to shrink the shuffle — same result, shorter
    * keys); the df join keys on the segment too. Hot keys are exactly
    * the boilerplate being dropped, bounded like d02's stop-shingle
    * cap: the over-df set is small and broadcastable. Reassembly is
    * one groupBy(doc_id) whose collect_list is bounded by document
    * length, not corpus size.
    */
  /** Gate parameters for d13/d14 — single source of truth for the Spark
    * plan AND the interpolated oracle SQL, so changing a default can't
    * silently desync the two sides.
    */
  val SegGateTokens: Int = 8
  val SegGateMaxDf: Int = 1

  def segmentDedup(docs: DataFrame, segTokens: Int = SegGateTokens,
      maxDf: Int = SegGateMaxDf): DataFrame = {
    val segs = docs
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, (size(t) + ${segTokens - 1}) div $segTokens - 1), " +
          s"i -> array_join(slice(t, i * $segTokens + 1, $segTokens), ' '))"))
        .as(Seq("seg_idx", "seg")))
    val segDf = segs.groupBy(col("seg"))
      .agg(countDistinct(col("doc_id")).as("df"))
    segs.join(segDf, "seg")
      .withColumn("kept", col("df") <= maxDf)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segs"),
        sum(col("kept").cast("long")).as("n_kept"),
        array_join(expr(
          "transform(array_sort(collect_list(CASE WHEN kept THEN struct(seg_idx, seg) END)), x -> x.seg)"),
          " ").as("clean_text"))
  }

  /** Boundary modulus for [[cdcSegmentDedup]]'s content-defined cut:
    * a token ends a segment when its md5 first hex digit ≡ 0 (mod this)
    * — P(cut) = 4/16, mean segment ≈ 4 tokens. Shared with the d14
    * oracle SQL.
    */
  val CdcGateMod: Int = 4

  /** Content-defined segment dedup — [[segmentDedup]] with
    * content-derived boundaries instead of fixed 8-token tiling:
    * a segment ends after any token whose md5-derived hash hits the
    * [[CdcGateMod]] residue, so a duplicated region produces the SAME
    * interior segments in every document regardless of its token
    * offset — the unaligned-duplicate case fixed tiling provably
    * misses (pinned in DedupSpec). This is the Rabin/CDC chunking idea
    * applied at token granularity; d13's fixed tiling remains as the
    * cheaper aligned form.
    *
    * Scale shape: segmentation is a posexplode plus one running-sum
    * window keyed on the doc (doc-bounded partitions — no skew); df
    * counting and the df join key on the segment text exactly as d13;
    * reassembly is the same doc-bounded collect_list.
    */
  /** (doc_id, seg_idx, seg) under content-defined boundaries — the
    * shared segmentation of [[cdcSegmentDedup]] (cross-doc df filter)
    * and [[intraDocDedup]] (within-doc first-occurrence filter).
    */
  private def cdcSegments(docs: DataFrame, boundaryMod: Int): DataFrame = {
    val toks = docs.select(col("doc_id"),
      posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
    val bd = (hexVal(substring(md5(col("tok")), 1, 1)) % boundaryMod === 0)
      .cast("long")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    toks
      .withColumn("seg_idx", coalesce(sum(bd).over(w), lit(0L)).cast("int"))
      .groupBy(col("doc_id"), col("seg_idx"))
      .agg(array_join(expr(
        "transform(array_sort(collect_list(struct(pos, tok))), x -> x.tok)"),
        " ").as("seg"))
  }

  def cdcSegmentDedup(docs: DataFrame, boundaryMod: Int = CdcGateMod,
      maxDf: Int = SegGateMaxDf): DataFrame = {
    val segs = cdcSegments(docs, boundaryMod)
    val segDf = segs.groupBy(col("seg"))
      .agg(countDistinct(col("doc_id")).as("df"))
    segs.join(segDf, "seg")
      .withColumn("kept", col("df") <= maxDf)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segs"),
        sum(col("kept").cast("long")).as("n_kept"),
        array_join(expr(
          "transform(array_sort(collect_list(CASE WHEN kept THEN struct(seg_idx, seg) END)), x -> x.seg)"),
          " ").as("clean_text"))
  }

  /** Adversarial long-chain CC fixture derived from the documents
    * table: ids in the same `doc_id % nChains` residue class, sorted,
    * are linked consecutively. Component diameter = class size =
    * n/nChains — the worst case for min-label propagation (O(diameter)
    * rounds) and exactly what [[connectedComponentsStar]] contracts in
    * O(log n).
    */
  def chainEdges(docs: DataFrame, nChains: Int = 7): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("r")).orderBy(col("doc_id"))
    docs.select(col("doc_id"), (col("doc_id") % nChains).as("r"))
      .withColumn("nxt", lead(col("doc_id"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .select(col("doc_id").as("doc_a"), col("nxt").as("doc_b"))
  }

  /** Gate-level memo of the near-dup cluster table per corpus dir —
    * the production pattern the precomputed-cluster overloads exist
    * for: CC runs ONCE and every consumer (dedup d06, histogram d12,
    * leakage-safe split p06, cluster keeper p08) reads the same
    * artifact instead of re-clustering. localCheckpoint(eager)
    * materializes it and truncates lineage, so consumers scan cached
    * blocks; clustering is deterministic, so the artifact is
    * bit-identical to a recompute (each oracle still replays the full
    * chain independently). One small table per dir — deliberately NOT
    * in the release ledger. The memo is scoped to the OWNING SESSION
    * via a weak identity map (not a hash-of-session string, which a
    * post-GC identity-hash reuse could alias): a memo entry holds
    * localCheckpoint blocks that die with their session, so a fresh
    * session re-derives its own artifact, and a stopped session's
    * entries become collectable instead of leaking one checkpointed
    * frame per (session, dir, params) forever.
    */
  private val gateClusterMemo =
    new java.util.WeakHashMap[SparkSession,
      collection.concurrent.TrieMap[String, DataFrame]]()
  private[operators] def sessionMemo(s: SparkSession)
      : collection.concurrent.TrieMap[String, DataFrame] =
    gateClusterMemo.synchronized {
      var m = gateClusterMemo.get(s)
      if (m == null) {
        m = collection.concurrent.TrieMap.empty[String, DataFrame]
        gateClusterMemo.put(s, m): Unit
      }
      m
    }
  private[operators] def gateClusters(s: SparkSession, d: String,
      tau: Double = 0.5): DataFrame =
    sessionMemo(s).getOrElseUpdate(s"$d|$tau",
      minhashClusters(Tables.documents(s, d), tau).localCheckpoint(true))

  /** d15's memoized semantic-cluster artifact (same treatment as
    * `gateClusters`; planes pinned for oracle staticness, see the
    * gate entry).
    */
  private def gateSemClusters(s: SparkSession, d: String): DataFrame =
    sessionMemo(s).getOrElseUpdate(s"$d|sem|0.4",
      semanticClusters(Tables.embeddings(s, d), 0.4,
        nPlanes = graft.util.Resolution.Fixed(4)).localCheckpoint(true))

  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    "d01_exact_dedup" -> ((s, d) =>
      exactGroups(Tables.documents(s, d)).orderBy(col("h"))),
    "d02_ngram_jaccard" -> ((s, d) =>
      ngramJaccardPairs(Tables.documents(s, d), 0.5)
        .orderBy(col("doc_a"), col("doc_b"))),
    "d03_minhash_lsh" -> ((s, d) =>
      minhashLshPairs(Tables.documents(s, d), 0.5)
        .orderBy(col("doc_a"), col("doc_b"))),
    "d04_simhash" -> ((s, d) =>
      simhashPairs(Tables.documents(s, d), 3)
        .orderBy(col("doc_a"), col("doc_b"))),
    // the all-pairs baseline is gated on a deterministic 1/4 subset
    // (1/16th the pair count): still an exact oracle check of the same
    // normalize+dot arithmetic, without letting the deliberately
    // design-weak O(n²) plan dominate the bench; d09 gates the full-set
    // scale path and DedupSpec pins its recall against this baseline.
    "d05_embedding_near_dup" -> ((s, d) =>
      embeddingPairs(Tables.embeddings(s, d).filter(col("vec_id") % 4 === 0),
          0.4)
        .orderBy(col("vec_a"), col("vec_b"))),
    "d06_cluster_cc" -> ((s, d) =>
      gateClusters(s, d).orderBy(col("doc_id"))),
    "d07_contamination" -> ((s, d) =>
      contaminationOverlap(Tables.documents(s, d))
        .orderBy(col("doc_id"), col("bench_id"))),
    // landed = even ids, incoming = odd ids — a derivable batch split
    "d08_incremental_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      incrementalDedup(docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 =!= 0))
        .orderBy(col("doc_id"))
    }),
    "d12_cluster_histogram" -> ((s, d) =>
      clusterHistogram(gateClusters(s, d)).orderBy(col("cluster_size"))),
    // same batch split as d08; the bloom pre-filter must not change
    // the result, so the gate reuses d08's oracle
    "d11_incremental_dedup_bloom" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      incrementalDedupBloom(docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 =!= 0), expectedItems = 10000L)
        .orderBy(col("doc_id"))
    }),
    // resolution pinned at the calibration base: the DuckDB oracle is a
    // static string with 4-plane bucket arithmetic baked in, so a gate
    // run on a corpus above D09CalibN under Auto would derive more
    // planes and diverge from the oracle. The gate checks the LSH
    // arithmetic at a pinned resolution; Auto's corpus-growth behavior
    // is ScaleProbe's job (the d09 cliff rows).
    "d09_embedding_near_dup_lsh" -> ((s, d) =>
      embeddingPairsLsh(Tables.embeddings(s, d), 0.4,
          nPlanes = graft.util.Resolution.Fixed(4))
        .orderBy(col("vec_a"), col("vec_b"))),
    "d10_star_cc" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      connectedComponentsStar(docs.select(col("doc_id")), chainEdges(docs))
        .orderBy(col("doc_id"))
    }),
    "d13_segment_dedup" -> ((s, d) =>
      segmentDedup(Tables.documents(s, d), SegGateTokens, SegGateMaxDf)
        .orderBy(col("doc_id"))),
    "d14_cdc_segment_dedup" -> ((s, d) =>
      cdcSegmentDedup(Tables.documents(s, d), CdcGateMod, SegGateMaxDf)
        .orderBy(col("doc_id"))),
    // same artifact treatment as d06: the semantic cluster table is
    // trained once per corpus and memoized (deterministic, so
    // bit-identical to a recompute)
    "d15_semantic_clusters" -> ((s, d) =>
      // planes pinned for the same oracle-staticness reason as d09
      gateSemClusters(s, d).orderBy(col("vec_id"))),
    "d16_intradoc_dedup" -> ((s, d) =>
      intraDocDedup(Tables.documents(s, d)).orderBy(col("doc_id"))),
    "d17_winnowing" -> ((s, d) =>
      winnowingPairs(Tables.documents(s, d))
        .orderBy(col("doc_a"), col("doc_b"))),
    "d18_prefix_join" -> ((s, d) =>
      prefixJaccardJoin(Tables.documents(s, d))
        .orderBy(col("doc_a"), col("doc_b"))),
    "d19_exact_substring" -> ((s, d) =>
      exactSubstringDedup(Tables.documents(s, d)).orderBy(col("doc_id"))),
    "w04_neardup_stream" -> (nearDupStreamGate _),
    "w15_decontam_stream" -> (decontamStreamGate _))

  /** Distinct 3-gram shingles per doc over an arbitrary source, with
    * caller-chosen relation names so one query can shingle two corpora
    * (the composed p22 oracle shingles both the fuzzy-dedup survivor
    * set and the full corpus for decontamination). No leading WITH.
    */
  private[operators] def shingleCteOn(src: String, toksRel: String,
      shRel: String): String =
    s"""$toksRel AS (SELECT doc_id, string_split(text, ' ') AS t FROM $src),
       |$shRel AS (SELECT doc_id, CASE WHEN len(t) >= 3
       |  THEN list_distinct([t[i]||' '||t[i+1]||' '||t[i+2] for i in range(1, len(t)-1)])
       |  ELSE [] END AS sh FROM $toksRel)""".stripMargin

  /** Shared oracle CTE: distinct 3-gram shingles per doc. */
  private[operators] val shingleCte =
    "WITH " + shingleCteOn("documents", "toks", "sh")

  /** SQL fragments mirroring TextFns' md5-integer primitives, generated
    * from the same constants so both engines compute identical hashes.
    */
  private[operators] def hexValSql(d: String): String =
    s"(CASE WHEN ascii($d) >= 97 THEN ascii($d) - 87 ELSE ascii($d) - 48 END)"

  private def baseHashSql(v: String, digits: Int): String =
    (0 until digits).map { j =>
      // per-term BIGINT cast: DuckDB otherwise multiplies INT32×INT32
      // and overflows once the digit multiplier passes 2^27
      s"CAST(${hexValSql(s"substr(md5($v), ${j + 1}, 1)")} AS BIGINT) * ${1L << (4 * (digits - 1 - j))}"
    }.mkString("CAST((", " + ", ") AS BIGINT)")

  private def base28Sql(v: String): String = baseHashSql(v, 7)

  private def minhashSigSql(k: Int): String =
    (0 until k).map { i =>
      import graft.functions.TextFns.{minhashA, minhashB, MinhashMod}
      s"list_min(list_transform(hv, h -> (h * ${minhashA(i)} + ${minhashB(i)}) % $MinhashMod))"
    }.mkString("[", ",\n    ", "]")

  /** The minhash+LSH pair CTE chain (expects an `sh` shingle relation
    * in scope — composed oracles that shingle a DIFFERENT source name
    * their survivor chain `sh` too, as p22's does; yields
    * `mh_pairs(doc_a, doc_b, jac)`).
    */
  private[operators] lazy val minhashPairsCtes: String =
    s"""nz AS (SELECT doc_id, sh, list_transform(sh, sx -> ${base28Sql("sx")}) AS hv,
       |  list_distinct(list_transform(sh, sx -> ${baseHashSql("sx", 15)})) AS hs
       |  FROM sh WHERE len(sh) > 0),
       |sig AS (SELECT doc_id, hs, ${minhashSigSql(16)} AS sg FROM nz),
       |bands AS (SELECT doc_id, hs, b AS band,
       |  md5(CAST(sg[2*b+1] AS VARCHAR)||'|'||CAST(sg[2*b+2] AS VARCHAR)) AS key
       |  FROM sig CROSS JOIN (SELECT unnest(range(0, 8)) AS b)),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    a.hs AS hsa, b.hs AS hsb
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
       |    AND a.doc_id < b.doc_id),
       |mh_pairs AS (SELECT doc_a, doc_b,
       |  CAST(len(list_intersect(hsa, hsb)) AS DOUBLE) /
       |    (len(hsa) + len(hsb) - len(list_intersect(hsa, hsb))) AS jac
       |  FROM cand)""".stripMargin

  /** DuckDB mirror of the 64-bit simhash pipeline, generated from the
    * same bit/band constants as the Spark plan so the two engines
    * compute identical signatures (md5 hex digits + integer math only).
    */
  private def simhash64OracleSql: String = {
    def band16Sql(j: Int): String =
      (0 until 4).map { d =>
        s"${hexValSql(s"substr(dig, ${4 * j + d + 1}, 1)")} * ${1 << (4 * (3 - d))}"
      }.mkString("CAST((", " + ", ") AS BIGINT)")
    val hvCols = (0 until 4).map(j => s"${band16Sql(j)} AS h$j").mkString(",\n  ")
    val bitSums = (for { j <- 0 until 4; k <- 0 until 16 }
      yield s"SUM((h$j >> $k) & 1) AS b${j}_$k").mkString(",\n  ")
    val bandCols = (0 until 4).map { j =>
      (0 until 16).map(k =>
          s"CASE WHEN 2*b${j}_$k - n >= 0 THEN ${1 << k} ELSE 0 END")
        .mkString("CAST((", " + ", s") AS INT) AS band$j")
    }.mkString(",\n  ")
    val hammingSql = (0 until 4)
      .map(j => s"bit_count(xor(a$j, b$j))").mkString(" + ")
    s"""WITH toks AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS t FROM documents),
       |ex AS (SELECT doc_id, unnest(t) AS tok FROM toks),
       |hs AS (SELECT doc_id, md5(tok) AS dig FROM ex),
       |hv AS (SELECT doc_id,
       |  $hvCols FROM hs),
       |agg AS (SELECT doc_id, COUNT(*) AS n,
       |  $bitSums FROM hv GROUP BY doc_id),
       |bands AS (SELECT doc_id,
       |  $bandCols FROM agg),
       |br AS (SELECT doc_id, band0, band1, band2, band3, j,
       |  CASE j WHEN 0 THEN band0 WHEN 1 THEN band1 WHEN 2 THEN band2 ELSE band3 END AS bv
       |  FROM bands CROSS JOIN (SELECT unnest(range(0, 4)) AS j)),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    a.band0 AS a0, a.band1 AS a1, a.band2 AS a2, a.band3 AS a3,
       |    b.band0 AS b0, b.band1 AS b1, b.band2 AS b2, b.band3 AS b3
       |  FROM br a JOIN br b ON a.j = b.j AND a.bv = b.bv AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, CAST($hammingSql AS INT) AS hamming,
       |  printf('%04x%04x%04x%04x', a0, a1, a2, a3) AS simhash_a
       |FROM cand
       |WHERE $hammingSql <= 3
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** The connected-components CTE chain over an arbitrary node source
    * (expects `mh_pairs` in scope; yields `cc(doc_id, cluster)`). Must
    * sit under WITH RECURSIVE. No leading WITH.
    */
  private[operators] def ccCtesOn(nodesRel: String): String =
    s"""e AS (SELECT doc_a, doc_b FROM mh_pairs WHERE jac >= 0.5),
       |sym AS (SELECT doc_a AS id, doc_b AS nbr FROM e
       |        UNION ALL SELECT doc_b, doc_a FROM e),
       |reach AS (
       |  SELECT doc_id AS id, doc_id AS label FROM $nodesRel
       |  UNION
       |  SELECT sym.nbr AS id, reach.label
       |  FROM reach JOIN sym ON sym.id = reach.id),
       |cc AS (SELECT id AS doc_id, min(label) AS cluster FROM reach GROUP BY id)""".stripMargin

  /** The connected-components CTE chain (expects `mh_pairs` and the
    * `documents` table in scope; yields `cc(doc_id, cluster)`). Shared
    * by the d06 and p06 oracles.
    */
  private[operators] val ccCtes: String = ccCtesOn("documents")

  /** Content-defined segmentation CTEs (yields `segs(doc_id, seg_idx,
    * seg)`), mirroring `cdcSegments`; shared by the d14/d16 oracles.
    */
  private def cdcSegCtes: String = {
    val hv = hexValSql("substr(md5(tok), 1, 1)")
    s"""t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |x AS (SELECT doc_id, t,
       |  unnest([i for i in range(1, len(t) + 1)]) AS i FROM t),
       |e AS (SELECT doc_id, CAST(i AS INT) AS pos, t[i] AS tok FROM x),
       |b AS (SELECT doc_id, pos, tok,
       |  CASE WHEN $hv % $CdcGateMod = 0 THEN 1 ELSE 0 END AS bd FROM e),
       |s AS (SELECT doc_id, pos, tok,
       |  CAST(COALESCE(SUM(bd) OVER (PARTITION BY doc_id ORDER BY pos
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INT) AS seg_idx
       | FROM b),
       |segs AS (SELECT doc_id, seg_idx,
       |  string_agg(tok, ' ' ORDER BY pos) AS seg
       | FROM s GROUP BY doc_id, seg_idx)""".stripMargin
  }

  /** L2-normalize + multi-table hyperplane LSH + exact-verify pair CTE
    * chain (yields `lshp(vec_a, vec_b, cos)`), mirroring
    * [[embeddingPairsLsh]]; shared by the d09 and d15 oracles. One
    * SELECT per table, bucket from that table's plane stretch.
    */
  private[operators] def embLshPairCtes: String = {
    val tables = (0 until 8).map(t =>
      s"""SELECT vec_id, v, $t AS tbl,
         |  ${Similarity.bucketSql("v", nPlanes = 4, dim = 64, planeOffset = t * 4)} AS bucket
         |FROM n""".stripMargin).mkString("\nUNION ALL\n")
    s"""e0 AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v0
       |  FROM embeddings),
       |en AS (SELECT vec_id, v0, sqrt(list_dot_product(v0, v0)) AS nrm FROM e0),
       |n AS (SELECT vec_id, list_transform(v0, x -> x / nrm) AS v FROM en),
       |bk AS ($tables),
       |cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |    a.v AS va, b.v AS vb
       |  FROM bk a JOIN bk b ON a.tbl = b.tbl AND a.bucket = b.bucket
       |    AND a.vec_id < b.vec_id),
       |lshp AS (SELECT vec_a, vec_b,
       |  round(list_dot_product(va, vb), 6) AS cos FROM cand)""".stripMargin
  }

  /** Shared by d08 and d11 — the bloom pre-filter is exactness-
    * preserving, so both plans must hash-match the same SQL — and by
    * g15 (EngineQueries), where the incoming batch is derived from
    * the store's generation diff instead of the caller's split.
    */
  private[graft] val incrementalDedupOracle: String =
    """WITH h AS (SELECT doc_id,
      |  md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS h FROM documents),
      |landed AS (SELECT DISTINCT h FROM h WHERE doc_id % 2 = 0),
      |inc AS (SELECT doc_id, h FROM h WHERE doc_id % 2 <> 0),
      |fresh AS (SELECT doc_id, h FROM inc WHERE h NOT IN (SELECT h FROM landed))
      |SELECT min(doc_id) AS doc_id, h, COUNT(*) AS batch_dups
      |FROM fresh GROUP BY h ORDER BY doc_id""".stripMargin

  val oracle: Map[String, String] = Map(
    // keep-first exact-substring replay: same 60-bit gram hashes
    // (baseHashSql = the GramHashes kernel's arithmetic), first
    // occurrence by ROW_NUMBER over (doc_id, pos), later occurrences'
    // covered positions unioned per doc, kept tokens reassembled in
    // position order
    "d19_exact_substring" -> {
      val l = ExactSubGateL
      val gram = (1 until l).foldLeft("t[i]")((acc, o) => s"$acc||' '||t[i+$o]")
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
         |  FROM documents),
         |g AS (SELECT doc_id, t, CASE WHEN len(t) >= $l
         |  THEN [${baseHashSql(gram, 15)}
         |        for i in range(1, len(t) - ${l - 2})]
         |  ELSE [] END AS hv FROM toks),
         |e1 AS (SELECT doc_id, hv,
         |  unnest(range(1, len(hv) + 1)) AS p FROM g),
         |e AS (SELECT doc_id, p, hv[p] AS h FROM e1),
         |o AS (SELECT doc_id, p,
         |  ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, p) AS rn FROM e),
         |rp AS (SELECT DISTINCT doc_id, unnest(range(p, p + $l)) AS rpos
         |  FROM o WHERE rn > 1),
         |rl AS (SELECT doc_id, list(rpos) AS rem FROM rp GROUP BY doc_id),
         |k AS (SELECT toks.doc_id, t, COALESCE(rem, []) AS rem
         |  FROM toks LEFT JOIN rl ON rl.doc_id = toks.doc_id),
         |f AS (SELECT doc_id, len(t) AS n,
         |  [t[j] for j in range(1, len(t) + 1)
         |   if NOT list_contains(rem, j)] AS kept FROM k)
         |SELECT doc_id, CAST(n - len(kept) AS BIGINT) AS n_removed,
         | COALESCE(array_to_string(kept, ' '), '') AS kept_text
         |FROM f ORDER BY doc_id""".stripMargin
    },
    // the oracle verifies the RESULT, not the algorithm: exact Jaccard
    // over ALL pairs (plain inverted index, no prefix filter) — prefix
    // filtering must lose nothing, and the jaccard runs on the same
    // 60-bit hashed shingle sets as the plan's verify join (d03's
    // agreement-by-construction treatment)
    "d18_prefix_join" ->
      s"""$shingleCte,
         |nz AS (SELECT doc_id,
         |  list_distinct(list_transform(sh, sx -> ${baseHashSql("sx", 15)})) AS hs
         |  FROM sh WHERE len(sh) > 0),
         |ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
         |p AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id),
         |j AS (SELECT doc_a, doc_b, len(list_intersect(na.hs, nb.hs)) AS common,
         |    len(na.hs) AS la, len(nb.hs) AS lb
         |  FROM p JOIN nz na ON na.doc_id = doc_a JOIN nz nb ON nb.doc_id = doc_b)
         |SELECT doc_a, doc_b, CAST(common AS DOUBLE)/(la+lb-common) AS jac
         |FROM j WHERE CAST(common AS DOUBLE)/(la+lb-common) >= $PrefixGateTau
         |ORDER BY doc_a, doc_b""".stripMargin,
    "d17_winnowing" -> {
      val (k, w) = (WinnowGateK, WinnowGateW)
      val gram = (1 until k).foldLeft("t[i]")((acc, o) => s"$acc||' '||t[i+$o]")
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |g AS (SELECT doc_id, CASE WHEN len(t) >= $k
         |  THEN [${baseHashSql(gram, 15)}
         |        for i in range(1, len(t) - ${k - 2})]
         |  ELSE [] END AS hv FROM toks),
         |f AS (SELECT doc_id, CASE WHEN len(hv) = 0 THEN []
         |  WHEN len(hv) <= $w THEN [list_min(hv)]
         |  ELSE list_distinct([list_min(hv[j : j + ${w - 1}])
         |       for j in range(1, len(hv) - ${w - 2})]) END AS fp FROM g),
         |e AS (SELECT doc_id, unnest(fp) AS fp FROM f),
         |hot AS (SELECT fp FROM e GROUP BY fp HAVING COUNT(*) > $WinnowGateMaxDf),
         |ec AS (SELECT * FROM e WHERE fp NOT IN (SELECT fp FROM hot)),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |   CAST(COUNT(*) AS BIGINT) AS shared_fps
         |  FROM ec a JOIN ec b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, shared_fps FROM p
         |WHERE shared_fps >= $WinnowGateMinShared
         |ORDER BY doc_a, doc_b""".stripMargin
    },
    // batch replay of the streaming near-dup suppression: the oracle
    // recomputes the FULL minhash signature (28-bit base hash, 16
    // affine rehashes) per feed doc, falls back to the content hash
    // for docs too short to shingle, and keeps min doc_id per
    // signature group — the survivor the gate harness's batch layout
    // guarantees the stream emits
    "w04_neardup_stream" ->
      s"""WITH feed AS (SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 5 = 0
         |  UNION ALL
         |  SELECT 2000000 + k, 's' || CAST(k % 3 AS VARCHAR) FROM range(0, 6) t(k)),
         |toksf AS (SELECT doc_id, string_split(text, ' ') AS t FROM feed),
         |shf AS (SELECT doc_id, CASE WHEN len(t) >= 3
         |  THEN list_distinct([t[i]||' '||t[i+1]||' '||t[i+2] for i in range(1, len(t)-1)])
         |  ELSE [] END AS sh FROM toksf),
         |nzf AS (SELECT doc_id, list_transform(sh, sx -> ${base28Sql("sx")}) AS hv
         |  FROM shf WHERE len(sh) > 0),
         |sigf AS (SELECT doc_id, ${minhashSigSql(16)} AS sg FROM nzf),
         |keyed AS (
         |  SELECT doc_id, 'sig:' || array_to_string(sg, ',') AS k FROM sigf
         |  UNION ALL
         |  SELECT f.doc_id,
         |    'h:' || md5(lower(regexp_replace(f.text, '\\s+', ' ', 'g'))) AS k
         |  FROM feed f JOIN shf USING (doc_id) WHERE len(shf.sh) = 0)
         |SELECT min(doc_id) AS doc_id FROM keyed GROUP BY k ORDER BY doc_id""".stripMargin,
    "d13_segment_dedup" -> {
      val st = SegGateTokens
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |x AS (SELECT doc_id, t,
         |  unnest([i for i in range(0, (len(t) + ${st - 1}) // $st)]) AS i FROM t),
         |segs AS (SELECT doc_id, CAST(i AS INT) AS seg_idx,
         |  array_to_string(t[i*$st+1 : i*$st+$st], ' ') AS seg FROM x),
         |f AS (SELECT seg, COUNT(DISTINCT doc_id) AS df FROM segs GROUP BY seg),
         |j AS (SELECT s.doc_id, s.seg_idx, s.seg, f.df <= $SegGateMaxDf AS kept
         |  FROM segs s JOIN f USING (seg))
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_segs,
         | CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         | COALESCE(string_agg(seg, ' ' ORDER BY seg_idx) FILTER (WHERE kept), '')
         |   AS clean_text
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    "d14_cdc_segment_dedup" ->
      s"""WITH $cdcSegCtes,
         |f AS (SELECT seg, COUNT(DISTINCT doc_id) AS df FROM segs GROUP BY seg),
         |j AS (SELECT sg.doc_id, sg.seg_idx, sg.seg, f.df <= $SegGateMaxDf AS kept
         |  FROM segs sg JOIN f USING (seg))
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_segs,
         | CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         | COALESCE(string_agg(seg, ' ' ORDER BY seg_idx) FILTER (WHERE kept), '')
         |   AS clean_text
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "d16_intradoc_dedup" ->
      s"""WITH $cdcSegCtes,
         |j AS (SELECT doc_id, seg_idx, seg,
         |  row_number() OVER (PARTITION BY doc_id, seg ORDER BY seg_idx) = 1 AS kept
         |  FROM segs)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_segs,
         | CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         | COALESCE(string_agg(seg, ' ' ORDER BY seg_idx) FILTER (WHERE kept), '')
         |   AS clean_text
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "d01_exact_dedup" ->
      """SELECT md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS h,
        | min(doc_id) AS keeper, COUNT(*) AS group_size,
        | string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY CAST(doc_id AS VARCHAR)) AS members
        |FROM documents GROUP BY h ORDER BY h""".stripMargin,
    "d02_ngram_jaccard" ->
      s"""$shingleCte,
         |cnt AS (SELECT doc_id, len(sh) AS n_sh FROM sh),
         |ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
         |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
         |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
         |SELECT doc_a, doc_b,
         | CAST(common AS DOUBLE) / (ca.n_sh + cb.n_sh - common) AS jac
         |FROM pairs JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b
         |WHERE CAST(common AS DOUBLE) / (ca.n_sh + cb.n_sh - common) >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin,
    "d03_minhash_lsh" ->
      s"""$shingleCte,
         |$minhashPairsCtes
         |SELECT doc_a, doc_b, jac FROM mh_pairs WHERE jac >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin,
    "d04_simhash" -> simhash64OracleSql,
    // Connected components as a recursive reachability fixpoint: reach
    // holds every (node, label-that-reaches-it) pair over the
    // symmetrized edge list; min label per node = the component's min
    // doc_id, exactly what the Spark min-label propagation converges to.
    "d06_cluster_cc" ->
      s"""WITH RECURSIVE ${shingleCte.stripPrefix("WITH ")},
         |$minhashPairsCtes,
         |$ccCtes
         |SELECT doc_id, cluster,
         |  COUNT(*) OVER (PARTITION BY cluster) AS cluster_size
         |FROM cc ORDER BY doc_id""".stripMargin,
    "d12_cluster_histogram" ->
      s"""WITH RECURSIVE ${shingleCte.stripPrefix("WITH ")},
         |$minhashPairsCtes,
         |$ccCtes,
         |sz AS (SELECT doc_id, cluster,
         |  COUNT(*) OVER (PARTITION BY cluster) AS cluster_size FROM cc)
         |SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
         | CAST(COUNT(DISTINCT cluster) AS BIGINT) AS n_clusters,
         | CAST(COUNT(*) AS BIGINT) AS n_docs
         |FROM sz GROUP BY cluster_size ORDER BY cluster_size""".stripMargin,
    "d05_embedding_near_dup" ->
      """WITH e0 AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v0
        |  FROM embeddings WHERE vec_id % 4 = 0),
        |e AS (SELECT vec_id, v0, sqrt(list_dot_product(v0, v0)) AS nrm FROM e0),
        |n AS (SELECT vec_id, list_transform(v0, x -> x / nrm) AS v FROM e)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        | round(list_dot_product(a.v, b.v), 6) AS cos
        |FROM n a JOIN n b ON a.vec_id < b.vec_id
        |WHERE round(list_dot_product(a.v, b.v), 6) >= 0.4
        |ORDER BY vec_a, vec_b""".stripMargin,
    "d08_incremental_dedup" -> incrementalDedupOracle,
    // the bloom pre-filter is output-invariant: same oracle as d08
    "d11_incremental_dedup_bloom" -> incrementalDedupOracle,
    // streamed flagging ≡ batch any-hit contamination: distinct corpus
    // docs sharing at least one shingle with the bench carve-out
    "w15_decontam_stream" ->
      s"""$shingleCte,
         |b AS (SELECT DISTINCT unnest(sh) AS s FROM sh WHERE doc_id % 50 = 0),
         |e AS (SELECT doc_id, unnest(sh) AS s FROM sh WHERE doc_id % 50 <> 0)
         |SELECT DISTINCT e.doc_id FROM e JOIN b USING (s)
         |ORDER BY doc_id""".stripMargin,
    "d09_embedding_near_dup_lsh" ->
      s"""WITH $embLshPairCtes
         |SELECT vec_a, vec_b, cos FROM lshp WHERE cos >= 0.4
         |ORDER BY vec_a, vec_b""".stripMargin,
    // semantic dedup = CC over the embedding-LSH near-dup graph; the
    // reach fixpoint mirrors d06's recursive oracle over vec ids
    "d15_semantic_clusters" ->
      s"""WITH RECURSIVE $embLshPairCtes,
         |e2 AS (SELECT vec_a, vec_b FROM lshp WHERE cos >= 0.4),
         |sym AS (SELECT vec_a AS id, vec_b AS nbr FROM e2
         |        UNION ALL SELECT vec_b, vec_a FROM e2),
         |reach AS (
         |  SELECT vec_id AS id, vec_id AS label FROM embeddings
         |  UNION
         |  SELECT sym.nbr AS id, reach.label
         |  FROM reach JOIN sym ON sym.id = reach.id),
         |cc AS (SELECT id AS vec_id, min(label) AS cluster FROM reach GROUP BY id)
         |SELECT vec_id, cluster,
         |  COUNT(*) OVER (PARTITION BY cluster) AS cluster_size
         |FROM cc ORDER BY vec_id""".stripMargin,
    "d10_star_cc" ->
      """WITH RECURSIVE ch AS (SELECT doc_id, doc_id % 7 AS r FROM documents),
        |le AS (SELECT doc_id AS doc_a,
        |   lead(doc_id) OVER (PARTITION BY r ORDER BY doc_id) AS doc_b FROM ch),
        |e AS (SELECT doc_a, doc_b FROM le WHERE doc_b IS NOT NULL),
        |sym AS (SELECT doc_a AS id, doc_b AS nbr FROM e
        |        UNION ALL SELECT doc_b, doc_a FROM e),
        |reach AS (
        |  SELECT doc_id AS id, doc_id AS label FROM documents
        |  UNION
        |  SELECT sym.nbr AS id, reach.label
        |  FROM reach JOIN sym ON sym.id = reach.id)
        |SELECT id AS doc_id, min(label) AS cluster FROM reach GROUP BY id
        |ORDER BY doc_id""".stripMargin,
    "d07_contamination" ->
      s"""$shingleCte,
         |cnt AS (SELECT doc_id, len(sh) AS n_sh FROM sh),
         |ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
         |bex AS (SELECT doc_id AS bench_id, s FROM ex WHERE doc_id % 50 = 0),
         |cex AS (SELECT doc_id, s FROM ex WHERE doc_id % 50 <> 0),
         |ov AS (SELECT doc_id, bench_id, COUNT(*) AS common
         |  FROM cex JOIN bex USING (s) GROUP BY doc_id, bench_id)
         |SELECT doc_id, bench_id, common,
         | common * 1000000 // n_sh AS overlap_ppm
         |FROM ov JOIN cnt USING (doc_id)
         |WHERE common * 1000000 // n_sh >= 100000
         |ORDER BY doc_id, bench_id""".stripMargin)
}

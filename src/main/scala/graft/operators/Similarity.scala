package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables
import graft.functions.TextFns._

/** Approximate-nearest-neighbor search over the embedding column.
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact cosine top-k — the correctness baseline.
  *    The query set is broadcast against the corpus, so the plan is one
  *    broadcast-nested-loop + per-partition top-k (window) with no
  *    corpus shuffle; at 100 TB this is the "scoring a small probe set"
  *    pattern.
  *  - [[lshBuckets]] / [[lshCandidatePairs]]: random-hyperplane LSH —
  *    the scale path. Bucket ids are computed map-side from
  *    md5-derived hyperplanes (deterministic, engine-independent);
  *    similarity is then only computed within buckets, turning O(n²)
  *    scoring into Σ bucket².
  */
object Similarity {

  /** Exact cosine top-k neighbors for each query vector. Ranking uses
    * the 6-dp-rounded similarity with vec_id tiebreak so ordering is
    * reproducible across engines.
    */
  def bruteForceTopK(embs: DataFrame, queryMaxId: Long, k: Int,
      pred: org.apache.spark.sql.Column = lit(true)): DataFrame = {
    graft.functions.VectorExprs.register(embs.sparkSession)
    // pred is applied BEFORE the projection, so metadata columns it
    // references (s13's label) resolve against the caller's schema —
    // and a (vec_id, embedding)-only frame stays valid input under
    // the default predicate
    val q = embs.select(col("vec_id"), asDoubles(col("embedding")).as("v"))
      .filter(col("vec_id") < queryMaxId)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val scored = embs.filter(pred)
      .select(col("vec_id"), asDoubles(col("embedding")).as("v"))
      .join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(cosineFast("qv", "v"), 6).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** s13: attribute-FILTERED exact ANN — top-k under a metadata
    * predicate, the production retrieval shape ("nearest docs with
    * lang = X", "nearest vectors not in the eval set"). This is the
    * PRE-filter strategy: the predicate lands before scoring, so the
    * result is exact by construction and the scan-and-score is a
    * filtered corpus pass against a broadcast query side — at 100 TB
    * the filter pushes into the parquet scan (label is a plain
    * column) and cost is ∝ the filtered corpus, the right trade for
    * selective predicates. The alternative a prebuilt unfiltered
    * index tempts — POST-filtering its shortlist — loses recall as
    * selectivity falls: a top-k' shortlist holds ~k'·sel matching
    * rows, so the over-fetch k'/k must grow ~1/sel to keep recall;
    * SimilaritySpec measures exactly that cliff against the IVF
    * index and the over-fetch form recovering it.
    */
  def filteredTopK(embs: DataFrame, queryMaxId: Long, k: Int,
      pred: org.apache.spark.sql.Column): DataFrame =
    bruteForceTopK(embs, queryMaxId, k, pred)

  /** Per-vector LSH bucket id from nPlanes md5-derived hyperplanes. */
  def lshBuckets(embs: DataFrame, nPlanes: Int = 8, dim: Int = 64): DataFrame = {
    graft.functions.VectorExprs.register(embs.sparkSession)
    embs.select(col("vec_id"), col("label"),
      lshBucket(asDoubles(col("embedding")), nPlanes, dim).as("bucket"))
  }

  /** Within-bucket candidate pairs scored with exact cosine, keeping
    * pairs above tau — the LSH-accelerated near-neighbor join.
    */
  def lshCandidatePairs(embs: DataFrame, tau: Double, nPlanes: Int = 8,
      dim: Int = 64): DataFrame = {
    graft.functions.VectorExprs.register(embs.sparkSession)
    val b = embs.select(col("vec_id"),
      asDoubles(col("embedding")).as("v"),
      lshBucket(asDoubles(col("embedding")), nPlanes, dim).as("bucket"))
    b.as("a").join(b.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        col("a.bucket").as("bucket"),
        round(cosineFast("a.v", "b.v"), 6).as("cos"))
      .filter(col("cos") >= tau)
  }

  /** Lloyd's k-means trainer for IVF centroids (spherical variant:
    * vectors and centroids L2-normalized, assignment by dot product).
    * Deterministic end-to-end: init = the k lowest-id vectors, a fixed
    * iteration count, and 9-dp-rounded assignment scores with
    * ties-to-lowest-cell — rerunning on the same corpus returns the
    * same centroids.
    *
    * Scale shape per iteration: the k centroids ride into the
    * assignment as literal arrays (broadcast-sized), assignment is
    * map-side argmax through the codegen kernels, and the update is
    * one posexplode + groupBy(cell, pos) whose partial aggregation
    * collapses each partition to at most k×dim rows before the
    * shuffle. The only driver materialization is k×dim component sums
    * per iteration — the broadcast-build pattern, independent of
    * corpus size. Empty cells keep their previous centroid.
    */
  def kMeansCentroids(embs: DataFrame, k: Int = 8,
      iters: Int = 5): Seq[Array[Double]] = {
    val e = normalized(embs).cache()
    val cents = lloyd(e, k, iters, spherical = true)
    e.unpersist()
    cents
  }

  /** embeddings → (vec_id, v) with v L2-normalized doubles (norm
    * computed once per row, not per lambda element).
    */
  private def normalized(embs: DataFrame): DataFrame = {
    graft.functions.VectorExprs.register(embs.sparkSession)
    embs
      .select(col("vec_id"), asDoubles(col("embedding")).as("v0"))
      .withColumn("nrm", call_function("array_norm", col("v0")))
      .select(col("vec_id"), expr("transform(v0, x -> x / nrm)").as("v"))
  }

  /** Per-centroid assignment score column: spherical = plain dot
    * (unit vectors); euclidean = dot − ‖c‖²/2 (argmax ≡ min L2).
    * Rounded to 9 dp so assignment is evaluation-order-independent.
    */
  private def assignScore(c: Array[Double], spherical: Boolean) = {
    val dot = call_function("array_dot", col("v"), typedlit(c))
    val score = if (spherical) dot
      else dot - lit(c.map(x => x * x).sum / 2.0)
    round(score, 9)
  }

  /** The shared Lloyd iteration engine over an e(vec_id, v) relation:
    * centroids ride as broadcast literals, assignment is map-side
    * argmax (ties to the lowest cell), the update is one posexplode +
    * partially-aggregated groupBy(cell, pos), and the driver sees only
    * k×dim component sums per iteration. Deterministic: init = the k
    * lowest-id vectors, fixed iteration count. Spherical mode
    * renormalizes each centroid (cosine cells); euclidean mode keeps
    * plain means (PQ sub-quantizers). Empty cells keep their previous
    * centroid.
    *
    * The update accumulates FIXED-POINT nano-unit components
    * (floor(x·1e9 + 0.5) as BIGINT), not raw doubles: a float sum's
    * value depends on the order partial aggregates merge, so the same
    * corpus trains to different centroids on different cluster
    * topologies (and run to run under speculation). Integer sums are
    * associative-exact, making training bit-reproducible regardless of
    * partitioning — and replayable by the DuckDB oracle (s05-s08). The
    * 1e-9 quantization is ~7 orders below k-means' own movement per
    * iteration; component magnitudes are ≤1 (normalized vectors), so
    * a 2⁶³ accumulator overflows only past ~9e9 rows per (cell, pos) —
    * beyond that, pre-aggregate per partition group.
    */
  private def lloyd(e: DataFrame, k: Int, iters: Int,
      spherical: Boolean): Seq[Array[Double]] = {
    var cents: Seq[Array[Double]] = e.orderBy(col("vec_id")).limit(k)
      .collect().map(_.getSeq[Double](1).toArray).toSeq
    for (_ <- 1 to iters) {
      val cellScores = array(cents.indices.map(j =>
        struct(assignScore(cents(j), spherical).as("sc"),
          lit(-j).as("jneg"))): _*)
      val sums = e
        .withColumn("cell", -array_max(cellScores).getField("jneg"))
        .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(floor(col("x") * lit(1e9) + lit(0.5)).cast("long")).as("s"),
          count(lit(1)).as("n"))
        .collect()
      val byCell = sums.groupBy(_.getInt(0))
      cents = cents.zipWithIndex.map { case (old, j) =>
        byCell.get(j).fold(old) { rows =>
          val mean = rows.sortBy(_.getInt(1))
            .map(r => r.getLong(2).toDouble / r.getLong(3) / 1e9).toArray
          if (!spherical) mean
          else {
            val n = math.sqrt(mean.map(x => x * x).sum)
            if (n == 0.0) old else mean.map(_ / n)
          }
        }
      }
    }
    cents
  }

  /** Product-quantization codebooks: the vector is cut into `m`
    * subvector blocks and each block gets its own `k`-entry euclidean
    * k-means codebook — the compression scheme that stores a dim-wide
    * float vector as m small codes (here m bytes when k ≤ 256), the
    * memory step that makes billion-vector ANN fit a cluster's RAM.
    * Returns m codebooks of k centroids each, trained over the
    * L2-normalized corpus, deterministically (lowest-id init).
    */
  def pqCodebooks(embs: DataFrame, m: Int = 8, k: Int = 16,
      iters: Int = 4): Seq[Seq[Array[Double]]] = {
    val e = normalized(embs).cache()
    val head = e.select(size(col("v"))).head(1)
    require(head.nonEmpty, "pqCodebooks: empty corpus")
    val dim = head(0).getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m blocks")
    val books = lloydBlocks(e, m, dim / m, k, iters)
    e.unpersist()
    books
  }

  /** Reference formulation of [[pqCodebooks]]: one [[lloyd]] chain per
    * block, m×iters jobs. Kept only as the equality witness for the
    * joint trainer's spec — identical output by construction.
    */
  private[graft] def pqCodebooksPerBlock(embs: DataFrame, m: Int, k: Int,
      iters: Int): Seq[Seq[Array[Double]]] = {
    val e = normalized(embs).cache()
    val dim = e.select(size(col("v"))).head().getInt(0)
    val sub = dim / m
    val books = (0 until m).map { b =>
      lloyd(e.select(col("vec_id"),
          expr(s"slice(v, ${b * sub + 1}, $sub)").as("v")),
        k, iters, spherical = false)
    }
    e.unpersist()
    books
  }

  /** Joint-block PQ trainer: all m sub-quantizers advance together —
    * one corpus scan per Lloyd iteration instead of m, so training cost
    * at 100 TB is `iters` scans regardless of how many blocks the
    * vector is cut into (the per-block form serializes m×iters jobs).
    * Rows are exploded into (vec_id, b, block-slice) map-side; each
    * row's assignment reads only its OWN block's codebook (selected
    * from the broadcast literal by `b`), and the fixed-point update
    * sums group by (b, cell, pos) — no arithmetic crosses blocks, and
    * per block the math is [[lloyd]]'s exactly (same driver-computed
    * ‖c‖²/2 literals, same 9-dp rounding, same ties-to-lowest-code,
    * same nano-unit integer sums), so the result is bit-identical to
    * the per-block form; the spec pins that equality.
    */
  private def lloydBlocks(e: DataFrame, m: Int, sub: Int, k: Int,
      iters: Int): Seq[Seq[Array[Double]]] = {
    val blocks = e.select(col("vec_id"), posexplode(expr(
        s"transform(sequence(0, ${m - 1}), b -> slice(v, b * $sub + 1, $sub))"))
      .as(Seq("b", "v")))
    val initRows = e.orderBy(col("vec_id")).limit(k).collect()
      .map(_.getSeq[Double](1).toArray)
    var books: Seq[Seq[Array[Double]]] = (0 until m).map { b =>
      initRows.toSeq.map(v => v.slice(b * sub, (b + 1) * sub))
    }
    for (_ <- 1 to iters) {
      val cbLit = typedlit(books.map(_.map(_.toSeq)))
      val nmLit = typedlit(books.map(_.map(c => c.map(x => x * x).sum / 2.0)))
      val scores = zip_with(
        element_at(cbLit, col("b") + 1),
        element_at(nmLit, col("b") + 1),
        (c, n) => round(call_function("array_dot", col("v"), c) - n, 9))
      val cell = -array_max(zip_with(scores,
        sequence(lit(0), lit(k - 1)),
        (s, j) => struct(s.as("sc"), (-j).as("jneg")))).getField("jneg")
      val sums = blocks
        .withColumn("cell", cell)
        .select(col("b"), col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("b"), col("cell"), col("pos"))
        .agg(sum(floor(col("x") * lit(1e9) + lit(0.5)).cast("long")).as("s"),
          count(lit(1)).as("n"))
        .collect()
      val byKey = sums.groupBy(r => (r.getInt(0), r.getInt(1)))
      books = books.zipWithIndex.map { case (bk, b) =>
        bk.zipWithIndex.map { case (old, j) =>
          byKey.get((b, j)).fold(old) { rows =>
            rows.sortBy(_.getInt(2))
              .map(r => r.getLong(3).toDouble / r.getLong(4) / 1e9).toArray
          }
        }
      }
    }
    books
  }

  /** Encode each vector as its per-block nearest-codebook-entry codes
    * (map-side; codebooks are broadcast literals).
    */
  def pqEncode(embs: DataFrame,
      codebooks: Seq[Seq[Array[Double]]]): DataFrame = {
    val e = normalized(embs)
    val m = codebooks.size
    val sub = codebooks.head.head.length
    val codeCols = (0 until m).map { b =>
      val sliced = expr(s"slice(v, ${b * sub + 1}, $sub)")
      val scores = array(codebooks(b).zipWithIndex.map { case (c, j) =>
        struct(
          round(call_function("array_dot", sliced, typedlit(c)) -
            lit(c.map(x => x * x).sum / 2.0), 9).as("sc"),
          lit(-j).as("jneg"))
      }: _*)
      (-array_max(scores).getField("jneg")).as(s"c$b")
    }
    e.select(col("vec_id") +: col("v") +: codeCols: _*)
      .select(col("vec_id"), col("v"),
        array((0 until m).map(b => col(s"c$b")): _*).as("codes"))
  }

  /** PQ approximate top-k by asymmetric distance: queries stay full
    * precision, corpus vectors are reconstructed from their codes —
    * score ≈ Σ_b qv_b · codebook[b][code_b]. This is the rescoring
    * arithmetic of an IVF-PQ index (compose with [[ivfTopK]]'s cells
    * to also prune candidates; PQ itself buys memory, not pruning).
    */
  /** Asymmetric-distance score: per block, look the code's centroid up
    * in the literal codebook and dot it with the query's subvector.
    */
  private def adcScore(codebooks: Seq[Seq[Array[Double]]],
      qv: String,
      codes: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val sub = codebooks.head.head.length
    codebooks.indices.map { b =>
      call_function("array_dot",
        expr(s"slice($qv, ${b * sub + 1}, $sub)"),
        element_at(typedlit(codebooks(b)), codes.getItem(b) + 1))
    }.reduce(_ + _)
  }

  def pqTopK(embs: DataFrame, queryMaxId: Long, k: Int,
      codebooks: Seq[Seq[Array[Double]]]): DataFrame = {
    val enc = pqEncode(embs, codebooks)
    val q = normalized(embs).filter(col("vec_id") < queryMaxId)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val scored = enc.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(adcScore(codebooks, "qv", col("codes")), 6).as("approx_cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** The composed IVF-PQ index: a coarse spherical-k-means quantizer
    * prunes candidates to the query's nProbe nearest cells, and PQ
    * codes stand in for the corpus vectors during scoring (asymmetric
    * distance). This is the full billion-scale ANN layout — cells buy
    * candidate pruning, codes buy memory (m bytes per vector instead
    * of dim floats); the corpus is scanned map-side once for
    * assignment+encoding and only the tiny (query, cell) probe set is
    * broadcast.
    */
  def ivfPqTopK(embs: DataFrame, queryMaxId: Long, k: Int,
      nCells: Int = 8, nProbe: Int = 2, m: Int = 8,
      kCodes: Int = 16, kmIters: Int = 5, pqIters: Int = 4,
      centroids: Option[Seq[Array[Double]]] = None,
      codebooks: Option[Seq[Seq[Array[Double]]]] = None): DataFrame = {
    val cents = centroids.getOrElse(kMeansCentroids(embs, nCells, kmIters))
    require(cents.nonEmpty, "ivfPqTopK: empty corpus")
    val books = codebooks.getOrElse(pqCodebooks(embs, m, kCodes, pqIters))
    val cellScores = array(cents.indices.map(j =>
      struct(assignScore(cents(j), spherical = true).as("sc"),
        lit(-j).as("jneg"))): _*)
    val assigned = pqEncode(embs, books)
      .withColumn("cell", -array_max(cellScores).getField("jneg"))
    val probe = math.min(nProbe, cents.size)
    val probes = assigned.filter(col("vec_id") < queryMaxId)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        posexplode(cellScores).as(Seq("ign", "sc")))
      .withColumn("rn", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("sc.sc").desc, (-col("sc.jneg")).asc)))
      .filter(col("rn") <= probe)
      .select(col("query_id"), col("qv"), (-col("sc.jneg")).as("cell"))
    val scored = assigned.as("a").join(broadcast(probes).as("p"),
        col("a.cell") === col("p.cell") && col("a.vec_id") =!= col("p.query_id"))
      .select(col("query_id"), col("a.vec_id").as("vec_id"),
        round(adcScore(books, "p.qv", col("a.codes")), 6).as("approx_cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** IVF-PQ search with EXACT re-ranking — the production refine stage
    * (FAISS's IVFPQR shape): the quantized index produces a cheap
    * shortlist of `shortlist` candidates per query by asymmetric
    * distance, then only those candidates' TRUE vectors are scored
    * with exact cosine and re-ranked to top-k. Quantization error
    * perturbs the shortlist's internal order far more than its
    * membership, so refine recovers near-exact precision while the
    * full-precision work stays O(queries·shortlist), not O(corpus).
    *
    * Scale shape: everything up to the shortlist is [[ivfPqTopK]]'s
    * plan (corpus map-side, probes broadcast); the shortlist
    * (queries × shortlist id pairs) broadcasts into the corpus vector
    * table, so the exact pass touches only candidate rows and the
    * re-rank window partitions per query.
    */
  def ivfPqRerankTopK(embs: DataFrame, queryMaxId: Long, k: Int,
      shortlist: Int, nCells: Int = 8, nProbe: Int = 2, m: Int = 8,
      kCodes: Int = 16, kmIters: Int = 5, pqIters: Int = 4,
      centroids: Option[Seq[Array[Double]]] = None,
      codebooks: Option[Seq[Seq[Array[Double]]]] = None): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    val approx = ivfPqTopK(embs, queryMaxId, shortlist, nCells, nProbe,
        m, kCodes, kmIters, pqIters, centroids, codebooks)
      .select(col("query_id"), col("vec_id"))
    val v = normalized(embs)
    val q = v.filter(col("vec_id") < queryMaxId)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val exact = v.join(broadcast(approx), "vec_id")
      .join(broadcast(q), "query_id")
      .select(col("query_id"), col("vec_id"),
        round(call_function("array_dot", col("qv"), col("v")), 6).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    exact.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** IVF-style ANN top-k: the corpus is partitioned into `nCentroids`
    * Voronoi cells (nearest centroid by cosine, ties to the lowest cell
    * index); each query scores only the vectors in its `nProbe` nearest
    * cells. Cell assignment is pure map work through the codegen
    * array_dot/array_norm kernels against literal centroid arrays —
    * the corpus never shuffles; the probe join broadcasts the tiny
    * (query, cell) set.
    *
    * The gate's centroids are a deterministic stand-in (the nCentroids
    * lowest-id vectors) so the oracle can derive them symbolically;
    * pass `centroids` (e.g. from [[kMeansCentroids]]) to use trained
    * cells — the index structure, assignment plan, and probe path are
    * identical. The driver-side collect is the centroid set
    * (nCentroids rows), i.e. the broadcast-build pattern, not a data
    * scan.
    */
  def ivfTopK(embs: DataFrame, queryMaxId: Long, k: Int,
      nCentroids: Int = 8, nProbe: Int = 2,
      centroids: Option[Seq[Array[Double]]] = None): DataFrame = {
    graft.functions.VectorExprs.register(embs.sparkSession)
    val e = embs.select(col("vec_id"), asDoubles(col("embedding")).as("v"))
    val cents: Seq[Array[Double]] = centroids.getOrElse(
      e.orderBy(col("vec_id")).limit(nCentroids)
        .collect().map(_.getSeq[Double](1).toArray).toSeq)
    require(cents.nonEmpty, "ivfTopK: empty corpus")
    ivfProbeRank(ivfAssign(e, cents), queryMaxId, k, nProbe, cents)
  }

  /** Per-cell cos scores against the literal centroid set, as an
    * array of (cos, -j) structs — array_max picks the highest cos with
    * ties to the LOWEST cell index. cos(v, c_j) runs through the
    * codegen kernels; array_norm(literal) constant-folds. Rounded to 9
    * places so cell assignment is hash-exact across engines by
    * construction (evaluation-order-independent), not by luck.
    */
  private def ivfCellScores(cents: Seq[Array[Double]]): Column = {
    def centCos(j: Int) = {
      val c = typedlit(cents(j))
      round(call_function("array_dot", col("v"), c) /
        (call_function("array_norm", col("v")) * call_function("array_norm", c)), 9)
    }
    array(cents.indices.map(j =>
      struct(centCos(j).as("cos"), lit(-j).as("jneg"))): _*)
  }

  /** IVF cell assignment over a (vec_id, v) frame: a PURE PROJECTION
    * against literal centroids — the corpus never shuffles, and the
    * same plan runs over a batch frame or a streaming micro-batch
    * (w16's index-maintenance path).
    */
  private[operators] def ivfAssign(e: DataFrame,
      cents: Seq[Array[Double]]): DataFrame =
    e.withColumn("cell", -array_max(ivfCellScores(cents)).getField("jneg"))

  /** The probe side of an IVF search over an ASSIGNED postings table
    * (vec_id, v, cell): queries pick their `nProbe` nearest cells,
    * score only those cells' vectors, rank per query. The postings
    * may come from [[ivfAssign]] run inline (ivfTopK) or from an
    * incrementally-maintained landed index (w16) — the results are
    * identical by construction, which w16's oracle pins by hash.
    */
  private[operators] def ivfProbeRank(assigned: DataFrame, queryMaxId: Long,
      k: Int, nProbe: Int, cents: Seq[Array[Double]]): DataFrame = {
    // a corpus smaller than the centroid set yields fewer cells —
    // probe at most every cell that exists
    val probe = math.min(nProbe, cents.size)
    val cellScores = ivfCellScores(cents)
    val probes = assigned.filter(col("vec_id") < queryMaxId)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        posexplode(cellScores).as(Seq("ign", "sc")))
      .withColumn("rn", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("sc.cos").desc, (-col("sc.jneg")).asc)))
      .filter(col("rn") <= probe)
      .select(col("query_id"), col("qv"), (-col("sc.jneg")).as("cell"))
    val scored = assigned.as("a").join(broadcast(probes).as("p"),
        col("a.cell") === col("p.cell") && col("a.vec_id") =!= col("p.query_id"))
      .select(col("query_id"), col("a.vec_id").as("vec_id"),
        round(cosineFast("p.qv", "a.v"), 6).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** w16: streaming ANN index MAINTENANCE — the continuous-ingestion
    * path a production vector index runs. The embeddings corpus
    * arrives as three file-source micro-batches; each batch is
    * assigned to its trained IVF cell in-stream ([[ivfAssign]] — a
    * pure projection, so the stream needs no state or watermark) and
    * APPENDED to the postings store by the parquet sink: the index is
    * built incrementally, batch by batch, never rebuilt. The s04
    * probe query then answers from the landed postings, and the
    * oracle is s04's batch-index replay VERBATIM — maintaining the
    * index under arrival must be observationally identical to
    * building it from the full corpus (the g07/g09 shared-oracle
    * pattern, applied to ANN).
    *
    * At scale: each arriving batch costs one map pass + one append;
    * search cost is unchanged (same cells, same probe plan). The
    * trained centroids are the pinned artifact — re-training cadence
    * is the deployment's knob, exactly like any production IVF.
    */
  private[graft] def ivfStreamRun(s: SparkSession, embs: DataFrame,
      queryMaxId: Long, k: Int, nProbe: Int,
      cents: Seq[Array[Double]],
      feedKey: Option[String] = None): DataFrame = {
    graft.functions.VectorExprs.register(s)
    val e = embs.select(col("vec_id"), asDoubles(col("embedding")).as("v"))
    val batches = (0 until 3).map(i =>
      e.filter(pmod(col("vec_id"), lit(3)) === i))
    val landed = graft.util.StreamGate.runParquet(s, "w16_ivf_stream",
      batches, df => ivfAssign(df, cents), feedKey = feedKey)
    ivfProbeRank(landed, queryMaxId, k, nProbe, cents)
  }

  /** Cell-balanced (diversity) sampling: keep the first ceil(n·num/den)
    * of each Voronoi cell in content-independent md5 order — the
    * embedding-space analog of stratified sampling, used to build
    * training subsets that cover the embedding distribution instead of
    * oversampling its dense modes. Cell assignment is [[ivfTopK]]'s
    * map-side kernel math against literal centroids (deterministic
    * lowest-id stand-ins for the gate; pass trained
    * [[kMeansCentroids]] in production); the quota is
    * [[graft.operators.Pipelines.stratifiedSample]]'s exact integer
    * machinery keyed on the cell.
    *
    * Scale shape: map-side assignment, then one window shuffle keyed
    * on the cell id; rank and cell size share the Exchange.
    */
  /** SQ8 scalar quantization — the faiss-style int8 compression that
    * cuts vector memory 4× (the difference between an index that fits
    * executor RAM at 100 TB and one that doesn't): each vector stores
    * max-abs-scaled int8 codes, code_i = round(x_i / max|x| · 127).
    * For COSINE the per-vector scale cancels out of
    * dot/(‖a‖·‖b‖), so scoring runs entirely on the integer codes —
    * integer dot products are exact in any engine (≤ dim·127² ≪ 2^53)
    * and the only float steps are two correctly-rounded sqrts and one
    * divide, rounded to 6 decimals. Codes ride as double arrays
    * holding exact integers so the codegen array_dot/array_norm
    * kernels score them unchanged.
    */
  def sq8Codes(embs: DataFrame): DataFrame = {
    val v = asDoubles(col("embedding"))
    embs.select(col("vec_id"), v.as("v"))
      .withColumn("s0", array_max(transform(col("v"), x => abs(x))))
      // all-zero vector: any scale yields the all-zero code; 1.0 keeps
      // the division defined (the oracle mirrors the branch)
      .withColumn("s", when(col("s0") === 0.0, lit(1.0)).otherwise(col("s0")))
      .select(col("vec_id"),
        expr("transform(v, x -> cast(round(x / s * 127.0) as double))")
          .as("code"))
  }

  /** s11: brute-force cosine top-k over the SQ8 codes — s01's pipeline
    * on the quantized representation. `dot_i` (the exact integer code
    * dot product) rides along so the gate hash pins the integer path,
    * not just the rounded ratio; the spec measures recall@10 against
    * the exact s01 ranking.
    *
    * Scale shape: identical to s01 (broadcast queries, per-query
    * window over candidate scores) at ¼ the scan bytes; the
    * quantization itself is map-side codegen. The IVF/PQ composition
    * (s06) remains the index for corpus-scale candidate pruning —
    * SQ8 is the re-rank-tier representation.
    */
  def sq8TopK(embs: DataFrame, queryMaxId: Long, k: Int): DataFrame = {
    graft.functions.VectorExprs.register(embs.sparkSession)
    val e = sq8Codes(embs)
    val q = e.filter(col("vec_id") < queryMaxId)
      .select(col("vec_id").as("query_id"), col("code").as("qc"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        expr("cast(array_dot(qc, code) as bigint)").as("dot_i"),
        round(cosineFast("qc", "code"), 6).as("sq_cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sq_cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** 1-bit (binary) quantization — the extreme end of the ladder s11's
    * SQ8 sits on (fp32 → int8 → sign bit; 32× memory cut): each
    * 64-dim vector compresses to two 32-bit sign words, and distance
    * is Hamming via popcount — pure integer arithmetic, exact in any
    * engine. For mean-centered embeddings sign-Hamming approximates
    * angular distance (Charikar SimHash, STOC'02: P[sign differs] =
    * θ/π per random hyperplane; coordinate axes stand in for the
    * hyperplanes here, the same stance as s02's LSH family).
    */
  def binaryCodes(embs: DataFrame): DataFrame = {
    def half(lo: Int): Column = expr(
      s"aggregate(sequence(0, 31), cast(0 as bigint), " +
        s"(acc, i) -> acc + if(element_at(v, i + ${lo + 1}) > 0D, " +
        s"shiftleft(cast(1 as bigint), i), cast(0 as bigint)))")
    embs.select(col("vec_id"), asDoubles(col("embedding")).as("v"))
      .select(col("vec_id"), half(0).as("h0"), half(32).as("h1"))
  }

  /** s12: Hamming top-k over the binary codes — the coarse, cheapest
    * retrieval tier (scan cost two popcounts/vector). The spec
    * measures its recall against exact cosine; production composes it
    * as a wide shortlist under an SQ8/exact re-rank (the s10 pattern).
    */
  def binaryHammingTopK(embs: DataFrame, queryMaxId: Long,
      k: Int): DataFrame = {
    val e = binaryCodes(embs)
    val q = e.filter(col("vec_id") < queryMaxId)
      .select(col("vec_id").as("query_id"),
        col("h0").as("q0"), col("h1").as("q1"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        (bit_count(col("q0").bitwiseXOR(col("h0"))) +
          bit_count(col("q1").bitwiseXOR(col("h1")))).cast("int").as("ham"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("ham").asc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  def cellBalancedSample(embs: DataFrame, nCentroids: Int = 8,
      num: Int = 1, den: Int = 4,
      centroids: Option[Seq[Array[Double]]] = None): DataFrame = {
    graft.functions.VectorExprs.register(embs.sparkSession)
    val e = embs.select(col("vec_id"), asDoubles(col("embedding")).as("v"))
    val cents: Seq[Array[Double]] = centroids.getOrElse(
      e.orderBy(col("vec_id")).limit(nCentroids)
        .collect().map(_.getSeq[Double](1).toArray).toSeq)
    require(cents.nonEmpty, "cellBalancedSample: empty corpus")
    def centCos(j: Int) = {
      val c = typedlit(cents(j))
      round(call_function("array_dot", col("v"), c) /
        (call_function("array_norm", col("v")) * call_function("array_norm", c)), 9)
    }
    val cellScores = array(cents.indices.map(j =>
      struct(centCos(j).as("cos"), lit(-j).as("jneg"))): _*)
    val w = Window.partitionBy(col("cell"))
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
    e.withColumn("cell",
        (-array_max(cellScores).getField("jneg")).cast("bigint"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .filter(col("rn") <= expr(s"(n * $num + ${den - 1}) div $den"))
      .select(col("vec_id"), col("cell"))
  }

  /** Trained spherical-k-means centroids flattened to (j, pos, c) rows —
    * the inspectable/verifiable face of [[kMeansCentroids]]; with the
    * fixed-point Lloyd update the values are bit-reproducible, so the
    * DuckDB oracle replays the full training loop (s07).
    */
  def kMeansCentroidTable(spark: SparkSession,
      cents: Seq[Array[Double]]): DataFrame =
    spark.createDataFrame(cents.zipWithIndex.flatMap { case (c, j) =>
      c.zipWithIndex.map { case (x, i) => (j, i, x) } })
      .toDF("j", "pos", "c")

  /** Trained PQ codebooks flattened to (b, j, pos, c) rows (s08). */
  def pqCodebookTable(spark: SparkSession,
      books: Seq[Seq[Array[Double]]]): DataFrame =
    spark.createDataFrame(for {
      (bk, b) <- books.zipWithIndex
      (c, j) <- bk.zipWithIndex
      (x, i) <- c.zipWithIndex.toSeq
    } yield (b, j, i, x)).toDF("b", "j", "pos", "c")

  type Q = (SparkSession, String) => DataFrame

  /** Gate training sizes: small fixed-iteration configs so the per-round
    * bench pays a bounded number of driver-loop jobs; the oracle
    * generators below unroll the SAME constants. Embedding dim is 64
    * (TESTDATA.md).
    */
  private val GateDim = 64
  private val GatePqM = 4
  private val GatePqK = 4
  private val GatePqIters = 2
  private val GateKmK = 8
  private val GateKmIters = 3
  private val GateRerankShort = 12
  private val GateRerankK = 5
  // s14 gate constants — passed EXPLICITLY at the gate call site and
  // interpolated into its oracle, so a future knnJoin default change
  // fails visibly instead of silently diverging gate from oracle
  private val GateKnnK = 5
  private val GateKnnTau = 0.2

  /** Gate-level memo of trained artifacts per corpus dir — the
    * offline-index pattern: a production pipeline trains centroids /
    * codebooks ONCE and every consumer (encode, search, export)
    * reuses them, so the four training gates share two training runs
    * instead of retraining per query. Safe because training is
    * deterministic (fixed-point Lloyd): a cached artifact is
    * bit-identical to a retrain; the key carries the hyperparameters,
    * so changing a Gate* constant invalidates naturally. The oracle
    * side has no cache and replays every loop from the raw table.
    */
  private val trainedCents =
    collection.concurrent.TrieMap.empty[String, Seq[Array[Double]]]
  private val trainedBooks =
    collection.concurrent.TrieMap.empty[String, Seq[Seq[Array[Double]]]]
  private def gateCents(s: SparkSession, d: String): Seq[Array[Double]] =
    trainedCents.getOrElseUpdate(s"$d|$GateKmK|$GateKmIters",
      kMeansCentroids(Tables.embeddings(s, d), GateKmK, GateKmIters))
  private def gateBooks(s: SparkSession, d: String): Seq[Seq[Array[Double]]] =
    trainedBooks.getOrElseUpdate(s"$d|$GatePqM|$GatePqK|$GatePqIters",
      pqCodebooks(Tables.embeddings(s, d), GatePqM, GatePqK, GatePqIters))

  /** s14: thresholded kNN JOIN — every vector's top-k neighbors with
    * cos ≥ tau, in one distributed operator (the SemDeDup/retrieval-
    * mining shape: "for EACH document, its nearest neighbors", not a
    * handful of query probes like s02-s13). Candidates come from
    * [[Dedup.embeddingPairsLsh]]'s multi-table LSH (Σ bucket² work,
    * exact cosine verify, precision 1.0 by construction), symmetrized,
    * then ranked per query by (cos desc, vec_id) — deterministic
    * ties, so the DuckDB oracle hash-matches the approximate result.
    *
    * Scale shape: the rank window partitions on query_id over the
    * CANDIDATE list, whose per-query size is bounded by LSH bucket
    * co-membership (grows with resolution-controlled bucket sizes,
    * never the corpus), so no window ever sees a corpus-wide
    * partition; the thresholded form is what production kNN joins run
    * (a min-similarity floor keeps junk neighbors out of the top-k
    * and makes the candidate set prunable before ranking).
    */
  def knnJoin(embs: DataFrame, k: Int = 5, tau: Double = 0.2,
      nPlanes: graft.util.Resolution = graft.util.Resolution.Auto,
      nTables: Int = graft.util.Resolution.AutoInt,
      dim: Int = 64): DataFrame = {
    val p = Dedup.embeddingPairsLsh(embs, tau, nPlanes, nTables, dim)
    val sym = p.select(col("vec_a").as("query_id"),
        col("vec_b").as("vec_id"), col("cos"))
      .unionAll(p.select(col("vec_b").as("query_id"),
        col("vec_a").as("vec_id"), col("cos")))
    sym.withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
          .orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rank") <= k)
  }

  /** s15 gate constant — single-bit probe flips, shared plan + oracle. */
  val GateProbeFlips: Int = 2

  /** s15: MULTI-PROBE LSH top-k (Lv et al., "Multi-Probe LSH:
    * Efficient Indexing for High-Dimensional Similarity Search",
    * VLDB'07): instead of paying recall for table count, each query
    * probes its own hyperplane bucket PLUS the `flips` buckets that
    * differ in the planes with the smallest projection margin — the
    * buckets a true near neighbor most likely fell into when it
    * landed just across a hyperplane. Probe order is deterministic:
    * planes ranked by (|margin|, plane index), single-bit flips only
    * (the 1-step probe sequence; Lv et al.'s multi-step sequence
    * generalizes the same candidate join).
    *
    * Scale shape: identical to the single-bucket LSH join with the
    * probe side exploded ×(flips+1) — the corpus side is hashed on
    * its ONE bucket id, queries broadcast with their probe list, and
    * per-query candidates stay bucket-bounded (≤ flips+1 buckets,
    * never the corpus). No distinct is needed: a query's probe set is
    * distinct by construction, so a corpus vector joins at most once
    * per query. The ranking window partitions by query over that
    * bounded candidate list.
    */
  def multiProbeTopK(embs: DataFrame, queryMaxId: Long, k: Int,
      flips: Int = GateProbeFlips, nPlanes: Int = 8,
      dim: Int = 64): DataFrame = {
    require(flips >= 0 && flips <= nPlanes,
      s"flips must be in [0, $nPlanes]: $flips")
    graft.functions.VectorExprs.register(embs.sparkSession)
    val b = embs.select(col("vec_id"), asDoubles(col("embedding")).as("v"))
      .withColumn("bucket", lshBucket(col("v"), nPlanes, dim))
    val margins = array((0 until nPlanes).map { j =>
      struct(
        abs(call_function("array_dot", col("qv"),
          typedlit(planeWeights(j, dim)))).as("m"),
        lit(j).as("j"))
    }: _*)
    val q = b.filter(col("vec_id") < queryMaxId)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("bucket").as("qb"))
      .withColumn("ms", margins)
      .select(col("query_id"), col("qv"),
        explode(concat(
          array(col("qb")),
          expr(s"transform(slice(array_sort(ms), 1, $flips)," +
            " s -> qb ^ shiftleft(1, s.j))"))).as("pb"))
    b.join(broadcast(q),
        col("bucket") === col("pb") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(cosineFast("qv", "v"), 6).as("cos"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rank") <= k)
  }

  val queries: Map[String, Q] = Map(
    // resolution pinned for the same static-oracle reason as d09
    "s14_knn_join" -> ((s, d) =>
      knnJoin(Tables.embeddings(s, d), k = GateKnnK, tau = GateKnnTau,
          nPlanes = graft.util.Resolution.Fixed(4))
        .orderBy(col("query_id"), col("rank"))),
    "s01_cosine_topk" -> ((s, d) =>
      bruteForceTopK(Tables.embeddings(s, d), 5L, 10)
        .orderBy(col("query_id"), col("rank"))),
    // ~10% selectivity (one of ten labels): the regime where
    // pre-filtering beats post-filtering a prebuilt index
    "s13_filtered_topk" -> ((s, d) =>
      filteredTopK(Tables.embeddings(s, d), 5L, 10, col("label") === 3)
        .select(col("query_id"), col("vec_id"), col("cos"), col("rank"))
        .orderBy(col("query_id"), col("rank"))),
    "s11_sq8_topk" -> ((s, d) =>
      sq8TopK(Tables.embeddings(s, d), 5L, 10)
        .orderBy(col("query_id"), col("rank"))),
    "s12_binary_hamming" -> ((s, d) =>
      binaryHammingTopK(Tables.embeddings(s, d), 5L, 10)
        .orderBy(col("query_id"), col("rank"))),
    // s04/s09 gate the TRAINED index: cells come from the memoized
    // spherical-k-means artifact (shared with s06/s07 — trained once per
    // corpus), and the oracle replays the same Lloyd chain symbolically,
    // so the gates exercise the production path, not lowest-id stand-ins
    "s04_ivf_topk" -> ((s, d) =>
      ivfTopK(Tables.embeddings(s, d), 5L, 10,
          nCentroids = GateKmK, nProbe = 2, centroids = Some(gateCents(s, d)))
        .orderBy(col("query_id"), col("rank"))),
    // the INCREMENTALLY-maintained index must answer s04's probe
    // identically (shared oracle, see ivfStreamRun)
    "w16_ivf_stream" -> ((s, d) =>
      ivfStreamRun(s, Tables.embeddings(s, d), 5L, 10, 2, gateCents(s, d),
        feedKey = Some(s"w16|$d"))
        .orderBy(col("query_id"), col("rank"))),
    "s02_lsh_buckets" -> ((s, d) =>
      lshBuckets(Tables.embeddings(s, d)).orderBy(col("vec_id"))),
    "s15_multiprobe_topk" -> ((s, d) =>
      multiProbeTopK(Tables.embeddings(s, d), 5L, 10)
        .orderBy(col("query_id"), col("rank"))),
    "s03_lsh_pairs" -> ((s, d) =>
      lshCandidatePairs(Tables.embeddings(s, d), 0.3)
        .orderBy(col("vec_a"), col("vec_b"))),
    "s05_pq_topk" -> ((s, d) =>
      pqTopK(Tables.embeddings(s, d), 5L, 10, gateBooks(s, d))
        .orderBy(col("query_id"), col("rank"))),
    "s06_ivfpq_topk" -> ((s, d) =>
      ivfPqTopK(Tables.embeddings(s, d), 5L, 10,
        nCells = GateKmK, nProbe = 2, m = GatePqM, kCodes = GatePqK,
        kmIters = GateKmIters, pqIters = GatePqIters,
        centroids = Some(gateCents(s, d)), codebooks = Some(gateBooks(s, d)))
        .orderBy(col("query_id"), col("rank"))),
    "s10_ivfpq_rerank" -> ((s, d) =>
      ivfPqRerankTopK(Tables.embeddings(s, d), 5L, GateRerankK,
        shortlist = GateRerankShort, nCells = GateKmK, nProbe = 2,
        m = GatePqM, kCodes = GatePqK, kmIters = GateKmIters,
        pqIters = GatePqIters, centroids = Some(gateCents(s, d)),
        codebooks = Some(gateBooks(s, d)))
        .orderBy(col("query_id"), col("rank"))),
    "s07_kmeans_train" -> ((s, d) =>
      kMeansCentroidTable(s, gateCents(s, d))
        .orderBy(col("j"), col("pos"))),
    "s08_pq_train" -> ((s, d) =>
      pqCodebookTable(s, gateBooks(s, d))
        .orderBy(col("b"), col("j"), col("pos"))),
    "s09_cell_sample" -> ((s, d) =>
      cellBalancedSample(Tables.embeddings(s, d), nCentroids = GateKmK,
        centroids = Some(gateCents(s, d))).orderBy(col("vec_id"))))

  /** Oracle CTE: embeddings as double lists. */
  private val embCte =
    """WITH e AS (SELECT vec_id, label,
      |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)""".stripMargin

  /** Oracle SQL fragment for the md5-hyperplane bucket of list column
    * v; `planeOffset` selects the table's stretch of the hyperplane
    * family (mirrors [[graft.functions.TextFns.lshBucket]]).
    */
  /** Oracle SQL fragment: raw projection of list column v onto
    * md5-hyperplane `plane` — [[graft.functions.TextFns.planeWeights]]
    * replayed symbolically (hex digit of the md5 first char, −7.5).
    * Both engines sum the products in index order, so the doubles are
    * bit-identical and sign/margin comparisons agree exactly.
    */
  private[operators] def planeDotSql(v: String, plane: Int,
      dim: Int = 64): String =
    s"""list_sum([$v[i+1] * (CASE
       |   WHEN ascii(substr(md5('$plane:'||CAST(i AS VARCHAR)), 1, 1)) >= 97
       |   THEN ascii(substr(md5('$plane:'||CAST(i AS VARCHAR)), 1, 1)) - 87
       |   ELSE ascii(substr(md5('$plane:'||CAST(i AS VARCHAR)), 1, 1)) - 48 END - 7.5)
       |  for i in range(0, $dim)])""".stripMargin

  private[operators] def bucketSql(v: String, nPlanes: Int = 8,
      dim: Int = 64, planeOffset: Int = 0): String = {
    val planeBits = (0 until nPlanes).map { j =>
      s"CASE WHEN ${planeDotSql(v, planeOffset + j, dim)} >= 0" +
        s" THEN ${1 << j} ELSE 0 END"
    }
    planeBits.mkString("(", " + ", ")")
  }

  /** Oracle CTEs: `e` = the L2-normalized embedding doubles, matching
    * [[normalized]] arithmetic exactly (norm from the raw doubles, then
    * elementwise x/nrm — both engines then hold identical binary
    * doubles).
    */
  private val normCtes =
    """e0 AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v0
      |  FROM embeddings),
      |en AS (SELECT vec_id, v0, sqrt(list_dot_product(v0, v0)) AS nrm FROM e0),
      |e AS (SELECT vec_id, list_transform(v0, x -> x / nrm) AS v FROM en)""".stripMargin

  /** Unrolled fixed-iteration Lloyd chain over `eRel`(vec_id, v),
    * mirroring [[lloyd]] step for step: init = the k lowest-id vectors;
    * each iteration assigns by 9-dp-rounded score (ties to the lowest
    * cell), sums nano-unit BIGINT components (exact integers — the
    * fixed-point trick that makes the trainer engine- and
    * partitioning-independent), takes the mean, renormalizes in
    * spherical mode, and carries empty cells over. Yields
    * `${p}c$iters`(j, cv).
    */
  private def lloydCtes(eRel: String, k: Int, iters: Int,
      spherical: Boolean, dim: Int, p: String): String = {
    val scoreSql =
      if (spherical) "round(list_dot_product(x.v, c.cv), 9)"
      else "round(list_dot_product(x.v, c.cv) - list_dot_product(c.cv, c.cv) / 2, 9)"
    val renorm =
      if (spherical)
        """CASE WHEN m.cell IS NULL THEN c.cv
          |       WHEN sqrt(list_dot_product(m.mv, m.mv)) = 0 THEN c.cv
          |       ELSE list_transform(m.mv, x -> x / sqrt(list_dot_product(m.mv, m.mv))) END"""
          .stripMargin
      else "CASE WHEN m.cell IS NULL THEN c.cv ELSE m.mv END"
    val init =
      s"""${p}c0 AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS j, v AS cv
         |  FROM $eRel ORDER BY vec_id LIMIT $k)""".stripMargin
    val steps = (0 until iters).map { t =>
      s"""${p}a$t AS (SELECT vec_id, v, j AS cell FROM (
         |   SELECT s.*, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sc DESC, j) AS rn
         |   FROM (SELECT x.vec_id, x.v, c.j, $scoreSql AS sc
         |         FROM $eRel x CROSS JOIN ${p}c$t c) s) WHERE rn = 1),
         |${p}s$t AS (SELECT cell, i, SUM(CAST(floor(v[i] * 1e9 + 0.5) AS BIGINT)) AS s,
         |   COUNT(*) AS n
         |  FROM ${p}a$t, (SELECT unnest(range(1, ${dim + 1})) AS i) GROUP BY cell, i),
         |${p}m$t AS (SELECT cell, list(CAST(s AS DOUBLE) / n / 1e9 ORDER BY i) AS mv
         |  FROM ${p}s$t GROUP BY cell),
         |${p}c${t + 1} AS (SELECT c.j, $renorm AS cv
         |  FROM ${p}c$t c LEFT JOIN ${p}m$t m ON m.cell = c.j)""".stripMargin
    }
    (init +: steps).mkString(",\n")
  }

  /** Per-block PQ training + encode CTEs over `e`: `pe$b` sliced
    * blocks, one euclidean [[lloydCtes]] chain per block, `enc$b`
    * nearest-code argmax, composed into `encp`(vec_id, v, c0..c{m-1}).
    * Mirrors [[pqCodebooks]] + [[pqEncode]].
    */
  private def pqCtes(m: Int, k: Int, iters: Int, dim: Int): String = {
    val sub = dim / m
    val blocks = (0 until m).map { b =>
      val lo = b * sub + 1
      val hi = (b + 1) * sub
      s"""pe$b AS (SELECT vec_id, v[$lo:$hi] AS v FROM e),
         |${lloydCtes(s"pe$b", k, iters, spherical = false, sub, s"pb${b}_")},
         |enc$b AS (SELECT vec_id, j AS c$b FROM (
         |   SELECT s.*, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sc DESC, j) AS rn
         |   FROM (SELECT x.vec_id, c.j,
         |      round(list_dot_product(x.v, c.cv) - list_dot_product(c.cv, c.cv) / 2, 9) AS sc
         |     FROM pe$b x CROSS JOIN pb${b}_c$iters c) s) WHERE rn = 1)""".stripMargin
    }
    val joins = (0 until m).map(b => s"JOIN enc$b USING (vec_id)").mkString(" ")
    val codes = (0 until m).map(b => s"c$b").mkString(", ")
    (blocks :+ s"encp AS (SELECT e.vec_id, e.v, $codes FROM e $joins)")
      .mkString(",\n")
  }

  /** ADC scoring + top-k tail over a `cand`(query_id, qv, vec_id,
    * c0..c{m-1}) relation: per-block centroid lookup by code, then the
    * left-assoc dot-product sum chain (matches [[adcScore]]'s fold
    * order), rank, and the rank<=k cut.
    */
  private def adcRankCtes(m: Int, iters: Int, dim: Int): String = {
    val sub = dim / m
    val cvJoins = (0 until m)
      .map(b => s"JOIN pb${b}_c$iters b$b ON b$b.j = t.c$b").mkString(" ")
    val sumChain = (0 until m).map { b =>
      val lo = b * sub + 1
      val hi = (b + 1) * sub
      s"list_dot_product(t.qv[$lo:$hi], b$b.cv)"
    }.mkString(" + ")
    s"""scored AS (SELECT t.query_id, t.vec_id, round($sumChain, 6) AS approx_cos
       |  FROM cand t $cvJoins),
       |ranked AS (SELECT query_id, vec_id, approx_cos,
       |   ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY approx_cos DESC, vec_id) AS rank
       |  FROM scored)""".stripMargin
  }

  private def adcTailSql(m: Int, iters: Int, dim: Int, topK: Int): String =
    s"""${adcRankCtes(m, iters, dim)}
       |SELECT query_id, vec_id, approx_cos, CAST(rank AS INT) AS rank FROM ranked
       |WHERE rank <= $topK ORDER BY query_id, rank""".stripMargin

  /** The s06 candidate chain (cell assignment, query probes, PQ-code
    * candidates) — shared by the s06 gate and s10's re-rank gate.
    */
  private def ivfPqCandCtes: String =
    s"""asgc AS (SELECT vec_id, j AS cell FROM (
       |   SELECT s.*, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sc DESC, j) AS rn
       |   FROM (SELECT x.vec_id, c.j, round(list_dot_product(x.v, c.cv), 9) AS sc
       |         FROM e x CROSS JOIN km_c$GateKmIters c) s) WHERE rn = 1),
       |qsc AS (SELECT x.vec_id AS query_id, x.v AS qv, c.j,
       |   round(list_dot_product(x.v, c.cv), 9) AS sc
       |  FROM e x CROSS JOIN km_c$GateKmIters c WHERE x.vec_id < 5),
       |probes AS (SELECT query_id, qv, j AS cell FROM (
       |   SELECT q.*, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sc DESC, j) AS rn
       |   FROM qsc q) WHERE rn <= 2),
       |cand AS (SELECT p.query_id, p.qv, x.vec_id,
       |   ${(0 until GatePqM).map(b => s"x.c$b").mkString(", ")}
       |  FROM encp x JOIN asgc a ON a.vec_id = x.vec_id
       |  JOIN probes p ON p.cell = a.cell AND x.vec_id <> p.query_id)""".stripMargin

  val oracle: Map[String, String] = oracleBase +
    // w16's contract IS s04's oracle verbatim: incremental index
    // maintenance must be observationally identical to a batch build
    ("w16_ivf_stream" -> oracleBase("s04_ivf_topk"))

  private lazy val oracleBase: Map[String, String] = Map(
    // replays the d09 pair chain (same 4-plane static arithmetic the
    // pinned gate runs), symmetrizes, ranks per query with the same
    // deterministic (cos desc, vec_id) tie-break
    "s14_knn_join" ->
      s"""WITH ${Dedup.embLshPairCtes},
         |thr AS (SELECT vec_a, vec_b, cos FROM lshp WHERE cos >= $GateKnnTau),
         |sym AS (SELECT vec_a AS query_id, vec_b AS vec_id, cos FROM thr
         |        UNION ALL SELECT vec_b, vec_a, cos FROM thr),
         |rk AS (SELECT query_id, vec_id, cos,
         |   CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |     ORDER BY cos DESC, vec_id) AS INT) AS rank
         |  FROM sym)
         |SELECT query_id, vec_id, cos, rank FROM rk WHERE rank <= $GateKnnK
         |ORDER BY query_id, rank""".stripMargin,
    "s05_pq_topk" ->
      s"""WITH $normCtes,
         |${pqCtes(GatePqM, GatePqK, GatePqIters, GateDim)},
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
         |cand AS (SELECT q.query_id, q.qv, x.vec_id,
         |   ${(0 until GatePqM).map(b => s"x.c$b").mkString(", ")}
         |  FROM encp x CROSS JOIN q WHERE x.vec_id <> q.query_id),
         |${adcTailSql(GatePqM, GatePqIters, GateDim, 10)}""".stripMargin,
    "s06_ivfpq_topk" ->
      s"""WITH $normCtes,
         |${lloydCtes("e", GateKmK, GateKmIters, spherical = true, GateDim, "km_")},
         |${pqCtes(GatePqM, GatePqK, GatePqIters, GateDim)},
         |$ivfPqCandCtes,
         |${adcTailSql(GatePqM, GatePqIters, GateDim, 10)}""".stripMargin,
    // the production refine stage: ADC shortlist (same chain as s06,
    // rank <= GateRerankShort), then EXACT cosine on the shortlist
    // only, re-ranked to top-5
    "s10_ivfpq_rerank" ->
      s"""WITH $normCtes,
         |${lloydCtes("e", GateKmK, GateKmIters, spherical = true, GateDim, "km_")},
         |${pqCtes(GatePqM, GatePqK, GatePqIters, GateDim)},
         |$ivfPqCandCtes,
         |${adcRankCtes(GatePqM, GatePqIters, GateDim)},
         |short AS (SELECT query_id, vec_id FROM ranked
         |  WHERE rank <= $GateRerankShort),
         |rr AS (SELECT s.query_id, s.vec_id,
         |   round(list_dot_product(qe.v, xe.v), 6) AS cos
         |  FROM short s JOIN e xe ON xe.vec_id = s.vec_id
         |  JOIN e qe ON qe.vec_id = s.query_id),
         |rrk AS (SELECT query_id, vec_id, cos,
         |   ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
         |  FROM rr)
         |SELECT query_id, vec_id, cos, CAST(rank AS INT) AS rank FROM rrk
         |WHERE rank <= $GateRerankK ORDER BY query_id, rank""".stripMargin,
    "s07_kmeans_train" ->
      s"""WITH $normCtes,
         |${lloydCtes("e", GateKmK, GateKmIters, spherical = true, GateDim, "km_")}
         |SELECT km.j, CAST(i - 1 AS INT) AS pos, cv[i] AS c
         |FROM km_c$GateKmIters km, (SELECT unnest(range(1, ${GateDim + 1})) AS i)
         |ORDER BY j, pos""".stripMargin,
    "s08_pq_train" ->
      s"""WITH $normCtes,
         |${pqCtes(GatePqM, GatePqK, GatePqIters, GateDim)}
         |${(0 until GatePqM).map(b =>
             s"""SELECT $b AS b, j, CAST(i - 1 AS INT) AS pos, cv[i] AS c
                |FROM pb${b}_c$GatePqIters, (SELECT unnest(range(1, ${GateDim / GatePqM + 1})) AS i)"""
               .stripMargin)
           .mkString("\nUNION ALL\n")}
         |ORDER BY b, j, pos""".stripMargin,
    "s12_binary_hamming" ->
      s"""$embCte,
         |bits AS (SELECT vec_id, i,
         |   CASE WHEN v[i + 1] > 0 THEN (1::BIGINT << (i % 32))
         |        ELSE 0 END AS b, i // 32 AS half
         |  FROM e, LATERAL (SELECT unnest(range(0, 64)) AS i)),
         |cw AS (SELECT vec_id,
         |   CAST(SUM(CASE WHEN half = 0 THEN b ELSE 0 END) AS BIGINT)
         |     AS h0,
         |   CAST(SUM(CASE WHEN half = 1 THEN b ELSE 0 END) AS BIGINT)
         |     AS h1
         |  FROM bits GROUP BY vec_id),
         |q AS (SELECT vec_id AS query_id, h0 AS q0, h1 AS q1 FROM cw
         |  WHERE vec_id < 5),
         |scored AS (SELECT query_id, vec_id,
         |   CAST(bit_count(xor(q0, h0)) + bit_count(xor(q1, h1)) AS INT)
         |     AS ham
         |  FROM cw CROSS JOIN q WHERE vec_id <> query_id),
         |ranked AS (SELECT query_id, vec_id, ham,
         |   ROW_NUMBER() OVER (PARTITION BY query_id
         |     ORDER BY ham ASC, vec_id) AS rank FROM scored)
         |SELECT query_id, vec_id, ham, CAST(rank AS INT) AS rank
         |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    "s11_sq8_topk" ->
      s"""$embCte,
         |sc0 AS (SELECT vec_id,
         |   list_max(list_transform(v, x -> abs(x))) AS s0, v FROM e),
         |cd AS (SELECT vec_id, list_transform(v, x ->
         |   ROUND(x / (CASE WHEN s0 = 0 THEN 1.0 ELSE s0 END) * 127.0))
         |  AS code FROM sc0),
         |q AS (SELECT vec_id AS query_id, code AS qc FROM cd
         |  WHERE vec_id < 5),
         |scored AS (SELECT query_id, vec_id,
         |   CAST(list_dot_product(qc, code) AS BIGINT) AS dot_i,
         |   ROUND(list_dot_product(qc, code) /
         |     (sqrt(list_dot_product(qc, qc)) *
         |      sqrt(list_dot_product(code, code))), 6) AS sq_cos
         |  FROM cd CROSS JOIN q WHERE vec_id <> query_id),
         |ranked AS (SELECT query_id, vec_id, dot_i, sq_cos,
         |   ROW_NUMBER() OVER (PARTITION BY query_id
         |     ORDER BY sq_cos DESC, vec_id) AS rank FROM scored)
         |SELECT query_id, vec_id, dot_i, sq_cos, CAST(rank AS INT) AS rank
         |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    "s01_cosine_topk" ->
      s"""$embCte,
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
         |scored AS (SELECT query_id, vec_id,
         |   round(list_cosine_similarity(qv, v), 6) AS cos
         |  FROM e CROSS JOIN q WHERE vec_id <> query_id),
         |ranked AS (SELECT query_id, vec_id, cos,
         |   ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
         |  FROM scored)
         |SELECT query_id, vec_id, cos, CAST(rank AS INT) AS rank FROM ranked
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    "s13_filtered_topk" ->
      s"""$embCte,
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
         |scored AS (SELECT query_id, vec_id,
         |   round(list_cosine_similarity(qv, v), 6) AS cos
         |  FROM e CROSS JOIN q
         |  WHERE vec_id <> query_id AND label = 3),
         |ranked AS (SELECT query_id, vec_id, cos,
         |   ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
         |  FROM scored)
         |SELECT query_id, vec_id, cos, CAST(rank AS INT) AS rank FROM ranked
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    // trained cells: the Lloyd chain (bit-identical to Spark's
    // fixed-point trainer, see s07) replaces the lowest-id stand-in
    // centroid CTE; scoring stays on the RAW doubles (e0), mirroring
    // ivfTopK's plan exactly
    "s04_ivf_topk" ->
      s"""WITH $normCtes,
         |${lloydCtes("e", GateKmK, GateKmIters, spherical = true, GateDim, "km_")},
         |sc AS (SELECT e0.vec_id, e0.v0 AS v, c.j,
         |   round(list_cosine_similarity(e0.v0, c.cv), 9) AS cc
         |  FROM e0 CROSS JOIN km_c$GateKmIters c),
         |asg AS (SELECT vec_id, v, j AS cell FROM (
         |   SELECT vec_id, v, j,
         |     ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cc DESC, j) AS rn
         |   FROM sc) WHERE rn = 1),
         |qp AS (SELECT vec_id AS query_id, v AS qv, j AS cell FROM (
         |   SELECT vec_id, v, j,
         |     ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cc DESC, j) AS rn
         |   FROM sc WHERE vec_id < 5) WHERE rn <= 2),
         |cand AS (SELECT qp.query_id, qp.qv, a.vec_id, a.v
         |  FROM qp JOIN asg a ON qp.cell = a.cell AND a.vec_id <> qp.query_id),
         |scored AS (SELECT query_id, vec_id,
         |   round(list_cosine_similarity(qv, v), 6) AS cos FROM cand),
         |ranked AS (SELECT query_id, vec_id, cos,
         |   ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
         |  FROM scored)
         |SELECT query_id, vec_id, cos, CAST(rank AS INT) AS rank FROM ranked
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    "s09_cell_sample" ->
      s"""WITH $normCtes,
         |${lloydCtes("e", GateKmK, GateKmIters, spherical = true, GateDim, "km_")},
         |sc AS (SELECT e0.vec_id, c.j,
         |   round(list_cosine_similarity(e0.v0, c.cv), 9) AS cc
         |  FROM e0 CROSS JOIN km_c$GateKmIters c),
         |asg AS (SELECT vec_id, j AS cell FROM (
         |   SELECT vec_id, j,
         |     ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cc DESC, j) AS rn
         |   FROM sc) WHERE rn = 1),
         |r AS (SELECT vec_id, cell,
         |  row_number() OVER (PARTITION BY cell
         |    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn,
         |  COUNT(*) OVER (PARTITION BY cell) AS n FROM asg)
         |SELECT vec_id, CAST(cell AS BIGINT) AS cell FROM r
         |WHERE rn <= (n * 1 + 3) // 4 ORDER BY vec_id""".stripMargin,
    "s02_lsh_buckets" ->
      s"""$embCte
         |SELECT vec_id, label, ${bucketSql("v")} AS bucket
         |FROM e ORDER BY vec_id""".stripMargin,
    "s15_multiprobe_topk" -> {
      val planeStructs = (0 until 8).map(j =>
        s"{'m': ABS(${planeDotSql("qv", j)}), 'j': $j}").mkString(",\n  ")
      s"""$embCte,
         |bk AS (SELECT vec_id, v, ${bucketSql("v")} AS bucket FROM e),
         |q AS (SELECT vec_id AS query_id, v AS qv, bucket AS qb
         |  FROM bk WHERE vec_id < 5),
         |pm AS (SELECT query_id, qb, unnest([
         |  $planeStructs
         |  ], recursive := true) FROM q),
         |pr AS (SELECT query_id, qb, j,
         |   ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY m, j) AS rn
         |  FROM pm),
         |probes AS (SELECT query_id, qb AS pb FROM q
         |  UNION ALL
         |  SELECT query_id, xor(qb, 1 << j) AS pb FROM pr
         |  WHERE rn <= $GateProbeFlips),
         |cand AS (SELECT p.query_id, q.qv, b.vec_id, b.v
         |  FROM probes p JOIN q USING (query_id)
         |  JOIN bk b ON b.bucket = p.pb AND b.vec_id <> p.query_id),
         |scored AS (SELECT query_id, vec_id,
         |   round(list_cosine_similarity(qv, v), 6) AS cos FROM cand),
         |ranked AS (SELECT query_id, vec_id, cos,
         |   ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
         |  FROM scored)
         |SELECT query_id, vec_id, cos, CAST(rank AS INT) AS rank FROM ranked
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
    },
    "s03_lsh_pairs" ->
      s"""$embCte,
         |bk AS (SELECT vec_id, v, ${bucketSql("v")} AS bucket FROM e)
         |SELECT x.vec_id AS vec_a, y.vec_id AS vec_b, x.bucket AS bucket,
         | round(list_cosine_similarity(x.v, y.v), 6) AS cos
         |FROM bk x JOIN bk y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
         |WHERE round(list_cosine_similarity(x.v, y.v), 6) >= 0.3
         |ORDER BY vec_a, vec_b""".stripMargin)
}

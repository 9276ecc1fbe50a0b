package graft.util

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** Column helpers shared across the query inventory.
  *
  * Determinism-vs-oracle convention: the testdata money/quantity columns
  * are doubles holding 2-decimal values. Summing doubles is
  * order-dependent (Spark's partial aggregation order differs run to run
  * and from DuckDB's), so every aggregated money expression is cast to an
  * exact decimal BEFORE the sum and back to double AFTER. The decimal sum
  * is exact in both engines and the final decimal→double conversion is a
  * single correctly-rounded step in both, so results hash-match.
  */
object Cols {
  /** Exact 2-decimal view of a money/quantity double column. */
  def dec2(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Exact 4-decimal decimal (for products that need extra scale). */
  def dec4(c: Column): Column = c.cast(DecimalType(18, 4))

  /** Final cast of an exact decimal aggregate back to double. */
  def asD(c: Column): Column = c.cast(DoubleType)

  /** Exact decimal sum of a 2-decimal double column, emitted as double. */
  def dsum(c: Column): Column = asD(sum(dec2(c)))

  /** Exact mean of a 2-decimal double column (decimal sum / count). */
  def davg(c: Column): Column = asD(sum(dec2(c))) / count(c)

  /** Guide §2.5 input-skew helper for compute-heavy map phases over
    * possibly-unsplittable inputs: when the frame's scan parallelism
    * is below the cluster's cores (e.g. one parquet row group — the
    * bench corpora are single-row-group files), round-robin rebalance
    * it so per-row kernels (tokenize, shingle, hash) spread across
    * cores; when the input already arrives as ≥cores splits (any real
    * deployment's table), this is the identity — no corpus-wide
    * shuffle is ever added at scale. Use only above partitioning-
    * invariant consumers (aggregations, joins, deterministic windows).
    * Cost: `df.rdd.getNumPartitions` forces analysis, optimization and
    * physical planning of `df` once per call, so keep it off
    * per-request paths (HTTP routes, engine reads); batch operators
    * pay it once per operator invocation.
    */
  def rebalanceIfNarrow(
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < cores) df.repartition(cores) else df
  }

  /** Epoch-nanos long column (by name) -> epoch-micros long. SQL `div` is
    * integer division; `/` on longs is double division, which loses
    * precision above 2^53 (epoch-ns is ~1.7e18).
    */
  def nsToUs(name: String): Column = expr(s"`$name` div 1000")

  /** Epoch-nanos long column (by name) -> floor'd epoch-seconds long. */
  def nsToSec(name: String): Column = expr(s"`$name` div 1000000000")
}

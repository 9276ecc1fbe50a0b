package graft.ingest

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.model.{Span, TagValue}

/** Partial span records as shipped by instrumented apps: a NewSpan
  * (no end) followed by a CloseSpan carrying end (+ tags), merged by id
  * (reference: duo/src/aggregator.rs:17-30).
  *
  * Merge rule: the first record pins identity fields (trace_id, name,
  * process_id, start); later records overwrite parent_id when present
  * and `end` unconditionally, and extend tags (later values win per key).
  *
  * Tags carry the wire's typed values (string/u64/i64/bool,
  * duo-api/proto/common.proto:28-38); the type survives into the span's
  * JSON tags column and out through the Jaeger edge.
  */
case class SpanRecord(
    seq: Long,
    id: Long,
    parent_id: Option[Long],
    trace_id: Long,
    name: String,
    process_id: String,
    start: Long,
    end: Option[Long],
    tags: Map[String, TagValue])

object SpanMerger {

  def mergeTwo(base: SpanRecord, next: SpanRecord): SpanRecord =
    base.copy(
      parent_id = next.parent_id.orElse(base.parent_id),
      end = next.end,
      tags = base.tags ++ next.tags)

  def mergeAll(records: Seq[SpanRecord]): SpanRecord =
    records.sortBy(_.seq).reduceLeft(mergeTwo)

  private def tagsJson(tags: Map[String, TagValue]): Option[String] =
    if (tags.isEmpty) None
    else Some(tags.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""${TagValue.escape(k)}":${v.jsonToken}""" }
      .mkString("{", ",", "}"))

  /** Finalize a merged record into a storable span. u64 `busy`/`idle`
    * timing tags are formatted human-readable here, exactly where the
    * reference does it (duo/src/models.rs:104-113: `Span::from` rewrites
    * U64Val busy/idle through format_timing_value before anything is
    * stored); non-u64 values under those keys pass through untouched.
    */
  def toSpan(r: SpanRecord): Span = {
    val formatted = r.tags.map {
      case (k @ ("busy" | "idle"), v) if v.u64Val.isDefined =>
        k -> TagValue.str(graft.functions.Timing.formatTimingValue(v.u64Val.get))
      case kv => kv
    }
    Span(r.id, r.parent_id, r.trace_id, r.name, r.process_id, r.start, r.end,
      tagsJson(formatted))
  }

  /** Batch merge (J4): groupByKey on span id, fold in arrival order,
    * split intact (end set) from ongoing. One shuffle on id; state never
    * leaves the executors.
    */
  def mergeBatch(spark: SparkSession, records: Dataset[SpanRecord])
      : (Dataset[Span], Dataset[SpanRecord]) = {
    import spark.implicits._
    val merged = records.groupByKey(_.id)
      .mapGroups((_, it) => mergeAll(it.toSeq))
    val intact = merged.filter(_.end.isDefined).map(toSpan)
    val ongoing = merged.filter(_.end.isEmpty)
    (intact, ongoing)
  }

  /** Streaming merge (ST2): flatMapGroupsWithState keyed by span id.
    * Emits the merged span when a close record lands; open spans are
    * retained in state.
    *
    * Default is NoTimeout — exactly the reference, which retains open
    * spans forever (SURVEY §7.4). Pass `evictAfterMs` to add a
    * processing-time eviction that emits stale opens non-intact
    * (end=None, rendered with the Jaeger `name*` convention). Note that
    * with ProcessingTimeTimeout Spark's micro-batch engine runs
    * continuous timeout-check batches even when idle — fine for a
    * long-lived ingest service, unsuitable for run-to-completion jobs.
    */
  def mergeStream(spark: SparkSession, records: Dataset[SpanRecord],
      evictAfterMs: Option[Long] = None): Dataset[Span] = {
    import spark.implicits._
    val timeoutConf = if (evictAfterMs.isDefined)
      GroupStateTimeout.ProcessingTimeTimeout else GroupStateTimeout.NoTimeout
    // State stays the plain SpanRecord row. A compact form (tags
    // flattened to prefixed string arrays — r21 VERDICT #5) was built
    // and MEASURED in round 22: state memory dropped ~10% (227->204 MB
    // at w07's 600k keys) but per-batch state update time was equal or
    // WORSE (batch-1 allUpdatesTimeMs 9.4 s -> 11.4-14.1 s: every
    // buffered key pays an extra encode/decode hop) and wall time was
    // flat (repeat-5 medians 3.86 vs 3.96 s) — the commit term is the
    // store machinery, not the Map encoder. Reverted; see
    // OPTIMIZATION_r22.md.
    records.groupByKey(_.id)
      .flatMapGroupsWithState[SpanRecord, Span](OutputMode.Append, timeoutConf) {
        (_, batch: Iterator[SpanRecord], state: GroupState[SpanRecord]) =>
          if (evictAfterMs.isDefined && state.hasTimedOut) {
            val leaked = state.get
            state.remove()
            Iterator.single(toSpan(leaked.copy(end = None)))
          } else {
            val incoming = batch.toSeq.sortBy(_.seq)
            val merged = (state.getOption.toSeq ++ incoming)
              .reduceLeft(mergeTwo)
            if (merged.end.isDefined) {
              state.remove()
              Iterator.single(toSpan(merged))
            } else {
              state.update(merged)
              evictAfterMs.foreach(state.setTimeoutDuration)
              Iterator.empty
            }
          }
      }
  }

  /** DataFrame-native batch merge used when records arrive as rows (the
    * groupBy-last form from SURVEY J4): max_by/last-by-seq per field.
    * Kept for symmetry with SQL engines; mergeBatch is the typed path.
    */
  def mergeBatchSql(records: DataFrame): DataFrame = {
    records
      .groupBy(col("id"))
      .agg(
        min_by(col("trace_id"), col("seq")).as("trace_id"),
        min_by(col("name"), col("seq")).as("name"),
        min_by(col("process_id"), col("seq")).as("process_id"),
        min_by(col("start"), col("seq")).as("start"),
        max_by(col("end"), col("seq")).as("end"),
        // last NON-NULL parent_id by seq (the typed path's "overwrite
        // only when present", duo/src/aggregator.rs:19-21): null the
        // ordering key for null parent_ids so max_by skips them.
        max_by(col("parent_id"),
          when(col("parent_id").isNotNull, col("seq"))).as("parent_id"))
      .select(col("id"), col("parent_id"), col("trace_id"), col("name"),
        col("process_id"), col("start"), col("end"))
  }
}

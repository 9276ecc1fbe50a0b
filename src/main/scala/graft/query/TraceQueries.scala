package graft.query

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Jaeger-style trace search + assembly
  * (reference: duo/src/web/services.rs:13-130, correlation
  * duo/src/models.rs:80-94).
  *
  * The answer is bounded by the search `limit` (20 traces by default)
  * and the HTTP route renders it on the driver anyway, so the engine
  * runs three narrow fetches and assembles the traces on the driver,
  * like the reference's J1 -> J2 order (SURVEY §2.3 J1-J3):
  *  - admission = root filter on parent_id IS NULL + operation /
  *    start-range / duration predicates (F8-F11), ordered and limited
  *    inside the scan stage (a top-K, one job), collected as trace ids;
  *  - trace-scoped log fetch (J1) = `trace_id IN ids`, collecting only
  *    `trace_id, span_id, level`: the driver counts `n_logs` per trace
  *    and keeps the span ids that carry an ERROR log (J2/A3);
  *  - trace-scoped span fetch (J1) = `trace_id IN ids`, with the error
  *    flag and the `"error":true` tag splice as column expressions over
  *    that id set ([[correlateSpanLogs]]);
  *  - assembly (J3) = a driver-side group per trace, the spans in
  *    `sort_array`'s struct order, returned as a local relation.
  * No stage shuffles; a search runs at most three jobs, a by-id fetch
  * two. Only logs of the admitted traces count, as in the reference.
  *
  * Deliberate divergences (documented, SURVEY §7.4): the trace limit
  * picks the N most recent roots and traces come newest root first
  * (the reference's HashMap take(limit) is nondeterministic, O4);
  * children arriving before their root are kept (the reference drops
  * them, §3.2).
  */
object TraceQueries {

  /** Search parameters. Like [[graft.query.LogQueries.LogSearchParams]],
    * an unset time range defaults to the last 15 minutes at the engine's
    * cold-storage read (duo/src/query.rs:104-109); `unbounded = true`
    * opts out explicitly.
    */
  case class TraceSearchParams(
      service: String,
      operation: Option[String] = None,
      startUs: Option[Long] = None,
      endUs: Option[Long] = None,
      minDurationUs: Option[Long] = None,
      maxDurationUs: Option[Long] = None,
      limit: Int = 20,
      unbounded: Boolean = false)

  /** Root spans passing the admission predicates (F8-F11). */
  def admittedRoots(spans: DataFrame, p: TraceSearchParams): DataFrame = {
    var roots = spans
      .filter(col("process_id").like(s"${p.service}%"))
      .filter(col("parent_id").isNull)
    p.operation.foreach(op => roots = roots.filter(col("name") === op))
    p.startUs.foreach(s => roots = roots.filter(col("start") >= s))
    p.endUs.foreach(e => roots = roots.filter(col("start") <= e))
    val dur = col("end") - col("start")
    p.minDurationUs.foreach(m => roots = roots.filter(dur >= m))
    p.maxDurationUs.foreach(m => roots = roots.filter(dur <= m))
    // Derived END-RANGE conjuncts: `end - start` is an arithmetic
    // expression parquet row-group statistics can never serve, but
    // each (start-bound, duration-bound) pair IMPLIES a bound on the
    // STORED `end` column — redundant predicates, so results are
    // unchanged, while the scan gains pushable row-group filters that
    // a z-ordered layout (ParquetStore.compact zorderOn start ×
    // duration) makes decisive (measured skip ratios in SCALE.md;
    // read-path form at ParquetStore.readSpanRange).
    for (s <- p.startUs; m <- p.minDurationUs)
      roots = roots.filter(col("end") >= s + m)
    for (e <- p.endUs; m <- p.maxDurationUs)
      roots = roots.filter(col("end") <= e + m)
    roots
  }

  /** Flag spans with an ERROR log and inject the `error=true` tag (J2 +
    * A3 + C4: the tag lives in the JSON tags string, so it is decoded,
    * checked, re-encoded). `errSpanIds` are the span ids of the ERROR
    * logs in scope.
    */
  def correlateSpanLogs(spans: DataFrame, errSpanIds: Set[Long]): DataFrame = {
    val logErr = coalesce(col("id").isin(errSpanIds.toSeq: _*), lit(false))
    spans
      // the error flag rides out as a real column (consumed by the
      // assembly): log-derived, OR already present in the span's own
      // tags — decoded with a real JSON path lookup, not a substring
      // sniff a user tag could false-positive
      .withColumn("has_err",
        logErr || coalesce(get_json_object(col("tags"), "$.error") === "true",
          lit(false)))
      // splice `"error":true` into the raw JSON text — a typed JSON
      // bool like the reference's Value::Bool insert
      // (duo/src/models.rs:80-94); a from_json(Map[String,String])
      // round-trip would stringify every typed tag value on exactly
      // the spans that have errors. Tags that already carry an `error`
      // key are left as-is (has_err above already accounts for them;
      // splicing a second key would produce duplicate-key JSON), and
      // the splice tolerates surrounding whitespace in the stored text.
      // Presence is checked with map_contains_key over a parsed map —
      // get_json_object returns null for BOTH a missing key and a JSON
      // null value ({"error":null}), which would splice a duplicate key.
      .withColumn("tags",
        when(
          logErr &&
            !coalesce(map_contains_key(
              from_json(col("tags"), MapType(StringType, StringType)),
              lit("error")), lit(false)),
          when(col("tags").isNull || trim(col("tags")).rlike("^\\{\\s*\\}$")
              || trim(col("tags")) === "",
            lit("""{"error":true}"""))
            .otherwise(concat(
              regexp_replace(trim(col("tags")), "\\}\\s*$", ""),
              lit(""","error":true}"""))))
          .otherwise(col("tags")))
  }

  /** GET /api/traces: admit → fetch logs → fetch spans → assemble. One
    * row per trace, newest root first, with the span list as structs
    * in span-start order plus trace-level rollups.
    */
  def filterTraces(spark: SparkSession, spans: DataFrame, logs: DataFrame,
      p: TraceSearchParams): DataFrame = {
    // several roots of one trace take one slot each, as the limit
    // counts roots; the trace itself appears once
    val ids = admittedRoots(spans, p)
      .select(col("trace_id"), col("start"))
      .orderBy(col("start").desc, col("trace_id"))
      .limit(p.limit)
      .collect().map(_.getLong(0)).distinct.toSeq
    assemble(spark, spans, logs, ids)
  }

  /** GET /api/traces/:id — the same fetches for one exact trace_id (F2). */
  def getTrace(spark: SparkSession, spans: DataFrame, logs: DataFrame,
      traceId: Long): DataFrame =
    assemble(spark, spans, logs, Seq(traceId))

  /** Fetch the logs and spans of `ids` and group them into TraceExt rows
    * (J1-J3), in the order of `ids`. Each fetch is one job; none runs
    * when `ids` is empty.
    */
  private def assemble(spark: SparkSession, spans: DataFrame,
      logs: DataFrame, ids: Seq[Long]): DataFrame = {
    def fetch(df: DataFrame): Array[Row] =
      if (ids.isEmpty) Array.empty else df.collect()
    val inScope = col("trace_id").isin(ids: _*)
    val logRows = fetch(logs.filter(inScope)
      .select(col("trace_id"), col("span_id"), col("level")))
    val nLogs = logRows.groupMapReduce(_.getLong(0))(_ => 1L)(_ + _)
    val errSpanIds = logRows.iterator
      .filter(r => r.getString(2) == "ERROR" && !r.isNullAt(1))
      .map(_.getLong(1)).toSet
    val scoped = correlateSpanLogs(spans.filter(inScope), errSpanIds)
      .select(col("trace_id"), col("has_err"),
        struct(col("start"), col("id"), col("parent_id"), col("name"),
          col("process_id"), col("end"), col("tags")).as("span"))
    val byTrace = fetch(scoped).groupBy(_.getLong(0))
    val rows = ids.flatMap(id => byTrace.get(id).map { rs =>
      val structs = rs.map(_.getStruct(2)).sorted(structOrder)
      def longs(f: String) = structs.iterator
        .map(_.getAs[java.lang.Long](f)).filter(_ != null)
      Row(id, rs.length.toLong, longs("start").minOption.orNull,
        longs("end").maxOption.orNull,
        if (rs.exists(_.getBoolean(1))) 1 else 0,
        structs.toSeq, nLogs.getOrElse(id, 0L))
    })
    spark.createDataFrame(rows.asJava, StructType(Seq(
      scoped.schema("trace_id"),
      StructField("n_spans", LongType, nullable = false),
      StructField("trace_start", LongType),
      StructField("trace_end", LongType),
      StructField("has_error", IntegerType),
      StructField("spans",
        ArrayType(scoped.schema("span").dataType, containsNull = false),
        nullable = false),
      StructField("n_logs", LongType, nullable = false))))
  }

  /** `sort_array`'s ascending struct order: field by field in struct
    * order (start first), nulls first, strings by their UTF-8 bytes.
    */
  private val structOrder: Ordering[Row] = (a, b) => {
    var c = 0
    var i = 0
    while (c == 0 && i < a.length) {
      c = (a.get(i), b.get(i)) match {
        case (null, null) => 0
        case (null, _) => -1
        case (_, null) => 1
        case (x: String, y: String) =>
          UTF8String.fromString(x).compareTo(UTF8String.fromString(y))
        case (x: java.lang.Long, y: java.lang.Long) => x.compareTo(y)
        case (x, y) => sys.error(s"unordered span field: $x vs $y")
      }
      i += 1
    }
    c
  }
}

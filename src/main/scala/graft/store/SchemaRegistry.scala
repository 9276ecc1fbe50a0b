package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** Dynamic log-schema registry (duo/src/schema.rs:13-14,48-101): the log
  * table's schema widens monotonically as batches introduce new
  * user-defined fields; the merged schema is persisted as JSON
  * (`schema/log_schema.json`) and re-merged on startup.
  *
  * Spark mapping (SURVEY §1.4): merge = StructType union with
  * first-writer-wins types; cross-batch/file alignment =
  * unionByName(allowMissingColumns). The reference's open FIXME (reading
  * old parquet with the current schema, duo/src/partition/query.rs:72-75)
  * is resolved in the store: every [[ParquetStore]] generation records
  * the same kind of monotone union, and reads plan old files with it
  * (missing columns read as null) — only duo's native un-manifested
  * layout is still read with a `mergeSchema` footer merge.
  */
object SchemaRegistry {

  /** Monotone widening merge: keep every existing field (type pinned by
    * first writer, like Arrow's Schema::try_merge for exact duplicates),
    * append unseen fields in arrival order. Conflicting re-typings throw
    * — same contract as try_merge (duo/src/schema.rs:78-89).
    */
  def merge(base: StructType, incoming: StructType): StructType = {
    val byName = base.fields.map(f => f.name -> f).toMap
    incoming.fields.foreach { f =>
      byName.get(f.name).foreach { existing =>
        require(existing.dataType == f.dataType,
          s"schema conflict on '${f.name}': ${existing.dataType} vs ${f.dataType}")
      }
    }
    val added = incoming.fields.filterNot(f => byName.contains(f.name))
      .map(_.copy(nullable = true))
    StructType(base.fields ++ added)
  }

  /** Align two frames on the union of their columns, missing columns
    * nulled — the drift-safe union used everywhere the reference does
    * `df.union` (duo/src/query.rs:110).
    */
  def unionByNameAllowMissing(a: DataFrame, b: DataFrame): DataFrame =
    if (a.columns.sameElements(b.columns)) a.union(b)
    else a.unionByName(b, allowMissingColumns = true)

  /** Project a frame onto a registry schema, adding nulls for columns
    * the frame predates.
    */
  def conform(df: DataFrame, schema: StructType): DataFrame = {
    val have = df.columns.toSet
    val cols = schema.fields.map { f =>
      if (have.contains(f.name)) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** Registry GC for long-lived stores: keep every `protect`ed field
    * (the compiled-in base — the engine's query contract) and every
    * field in `live` (columns some retained data still carries); drop
    * the rest. The registry otherwise widens FOREVER (the decided
    * resurrect-as-null contract keeps retired columns queryable), so
    * after years of drifted JSON ingest every `conform` projection
    * pays the full historical union — this is the explicit,
    * OPERATOR-INVOKED trim (never automatic: an automatic gc would
    * make a column's existence depend on retention timing, the exact
    * trade the contract decided against). After gc a saved query
    * referencing a dropped column fails loudly at analysis — the
    * documented trade the operator accepts by invoking it.
    */
  def gc(schema: StructType, live: Set[String],
      protect: Set[String]): StructType =
    StructType(schema.fields.filter(f => protect(f.name) || live(f.name)))

  /** Persist / load the merged schema as JSON (StructType's own JSON
    * codec — engine-portable, like the reference's serialized Arrow
    * schema at schema/log_schema.json). Through `StoreFs` so the
    * registry lives wherever the store root does (S5: a path under an
    * `s3a://` root works the same as a local one).
    */
  def save(schema: StructType, path: String): Unit =
    StoreFs.writeString(path, schema.json)

  def load(path: String): Option[StructType] =
    StoreFs.readString(path)
      .map(DataType.fromJson(_).asInstanceOf[StructType])

  /** Startup behavior (duo/src/schema.rs:48-72): stored schema, merged
    * with the compiled-in base (new code may know new base columns).
    */
  def loadMerged(path: String, base: StructType): StructType =
    load(path).map(stored => merge(stored, base)).getOrElse(base)
}

package graft.store

import scala.collection.mutable.LinkedHashMap

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  PartitionSpec, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** A Spark `FileIndex` built entirely from [[StoreManifest]] entries:
  * every `FileStatus` Spark needs for split planning (path, size,
  * mtime) comes from the manifest's one GET, so planning a scan of the
  * partitioned tree performs ZERO filesystem listings. This is the
  * piece `spark.read.parquet(file, file, ...)` cannot give — Spark's
  * own `InMemoryFileIndex` re-lists every input path it is handed
  * (one LIST per file on an object store, the exact rate-limited call
  * the manifest exists to avoid). The partition columns (`date=`,
  * `hour=`, `minute=`) are inferred from the manifest paths by the
  * same `inferPartitioning` the directory scan uses, so partition
  * pruning, types, and the resulting schema are identical to a
  * directory read — only the I/O to discover the files is gone.
  * Files are keyed by their LOGICAL leaf dir (no `_gen-*` segment),
  * so many trees' files parse against one `basePath` as one relation.
  * (Iceberg/Delta read planning at this store's scale; the reference
  * lists per prefix at query time, duo/src/partition/query.rs.)
  *
  * Spark-internal surface, version-pinned: this extends
  * `execution.datasources.PartitioningAwareFileIndex` and the
  * companion casts to `sql.classic.SparkSession` for
  * `baseRelationToDataFrame` — developer-internal API, stable across
  * Spark 4.1.x (the build's pinned line) but free to move in a minor
  * bump. Upgrade checklist: (1) `leafFiles`/`leafDirToChildrenFiles`/
  * `partitionSpec` signatures, (2) the "basePath" parameters key,
  * (3) the classic-session cast. Breakage degrades loudly at compile
  * time, not silently at read time; if the index ever has to be
  * dropped, [[ParquetStore]]'s legacy listing mode is the functional
  * (slower) fallback for never-compacted stores, and a
  * DataSourceV2 `FileTable` port is the forward path.
  */
final class ManifestFileIndex(
    spark: SparkSession,
    tableDir: Path,
    files: Seq[(Path, FileStatus)])
  extends PartitioningAwareFileIndex(
    spark, Map("basePath" -> tableDir.toString), None) {

  override def rootPaths: Seq[Path] = Seq(tableDir)

  override val leafFiles: LinkedHashMap[Path, FileStatus] =
    LinkedHashMap(files.map { case (_, s) => s.getPath -> s }: _*)

  /** Logical leaf dir → the files filed under it. */
  override val leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
    files.groupMap(_._1)(_._2).view.mapValues(_.toArray).toMap

  private lazy val spec: PartitionSpec = inferPartitioning()
  override def partitionSpec(): PartitionSpec = spec

  override def refresh(): Unit = ()
}

object ManifestFileIndex {

  /** Nominal block size for the synthesized statuses; parquet split
    * planning derives split sizes from `maxPartitionBytes`/file
    * length, not this, so the value only has to be sane.
    */
  private val NominalBlockSize = 128L * 1024 * 1024

  /** The given manifest entries as a DataFrame over `dataSchema` (the
    * generation's recorded schema), planned with no listing and no
    * footer read. `logicalRel` maps a rel to the path its partition
    * values parse from; all entries must share one partition depth.
    * Returns None for an empty selection (mirrors the
    * "no files" read contract).
    */
  def relation(spark: SparkSession, tableDir: String,
      entries: Seq[StoreManifest.Entry],
      dataSchema: StructType,
      logicalRel: String => String = identity): Option[DataFrame] = {
    if (entries.isEmpty) return None
    // qualified like Spark's own listing index: an unpartitioned
    // relation finds its files by the qualified root dir
    val root = rootOf(tableDir)
    val files = entries.map(e =>
      new Path(s"$root/${logicalRel(e.rel)}").getParent -> statusOf(root, e))
    val index = new ManifestFileIndex(spark, root, files)
    // all-nullable mirrors DataSource.resolveRelation's asNullable, so
    // a caller-pinned schema reads exactly as through spark.read.schema
    val rel = HadoopFsRelation(index, index.partitionSchema,
      StoreManifest.allNullable(dataSchema), None, new ParquetFileFormat(),
      Map.empty)(spark)
    Some(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .baseRelationToDataFrame(rel))
  }

  /** The data schema a `mergeSchema` directory read infers for
    * `entries` (their footers merged in rel order, partition columns
    * not included), inferred from the entries alone: the walk that
    * found them already holds every status Spark needs, so inference
    * lists nothing. None for no entries.
    */
  def footerSchema(spark: SparkSession, tableDir: String,
      entries: Seq[StoreManifest.Entry]): Option[StructType] =
    if (entries.isEmpty) None
    else {
      val root = rootOf(tableDir)
      new ParquetFileFormat().inferSchema(spark,
        Map("mergeSchema" -> "true"),
        entries.sortBy(_.rel).map(statusOf(root, _)))
    }

  private def rootOf(tableDir: String): Path = {
    val base = new Path(tableDir)
    StoreFs.fs(base).makeQualified(base)
  }

  private def statusOf(root: Path, e: StoreManifest.Entry): FileStatus =
    new FileStatus(e.size, false, 1, NominalBlockSize, e.mtime,
      new Path(s"$root/${e.rel}"))
}

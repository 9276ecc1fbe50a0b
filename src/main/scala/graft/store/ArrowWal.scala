package graft.store

import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.{BigIntVector, BitVector, Float8Vector, IntVector, VarCharVector, VectorSchemaRoot}
import org.apache.arrow.vector.ipc.{ArrowFileReader, ArrowFileWriter}
import org.apache.arrow.vector.util.ByteArrayReadableSeekableByteChannel
import org.apache.hadoop.fs.Path
import org.apache.arrow.vector.types.FloatingPointPrecision
import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema => ArrowSchema}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Arrow IPC WAL codec — the reference's snapshot format
  * (duo/src/ipc.rs:23-64: each table's in-memory batch serialized as an
  * Arrow IPC file, replayed on boot). Driver-side IO like the
  * reference: the WAL holds at most one flush interval of rows, so the
  * collect here is bounded by ingest rate, never by table size.
  *
  * Supported column types are the engine's storage set — the fixed
  * span/log base columns plus every type JSON inference produces
  * (long/int/double/boolean/string). Anything else fails loudly rather
  * than corrupting a replay.
  *
  * IO goes through the Hadoop FileSystem of the WAL path's scheme
  * (`StoreFs`), like the rest of the store (S5) — a snapshot file is
  * one flush interval of rows, so reading it whole through the FS
  * stream (Arrow's seekable byte-array channel) costs what the replay
  * already materializes.
  */
object ArrowWal {

  private def arrowField(f: StructField): Field = {
    val t = f.dataType match {
      case LongType => new ArrowType.Int(64, true)
      case IntegerType => new ArrowType.Int(32, true)
      case DoubleType => new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE)
      case BooleanType => ArrowType.Bool.INSTANCE
      case StringType => ArrowType.Utf8.INSTANCE
      case other => throw new IllegalArgumentException(
        s"ArrowWal: unsupported column type $other for '${f.name}'")
    }
    new Field(f.name, new FieldType(true, t, null), null)
  }

  /** Append one batch as a standalone Arrow IPC file (one file per
    * snapshot, like the reference's timestamped IPC files).
    */
  def write(path: String, schema: StructType, rows: Seq[Row]): Unit = {
    val p = new Path(path)
    val fs = StoreFs.fs(p)
    val alloc = new RootAllocator()
    try {
      val arrowSchema = new ArrowSchema(schema.fields.map(arrowField).toSeq.asJava)
      val root = VectorSchemaRoot.create(arrowSchema, alloc)
      try {
        schema.fields.zipWithIndex.foreach { case (f, c) =>
          val v = root.getVector(c)
          v.setInitialCapacity(rows.size)
          v.allocateNew()
          rows.zipWithIndex.foreach { case (row, i) =>
            if (row.isNullAt(c)) () // vectors default to null
            else f.dataType match {
              case LongType => v.asInstanceOf[BigIntVector].setSafe(i, row.getLong(c))
              case IntegerType => v.asInstanceOf[IntVector].setSafe(i, row.getInt(c))
              case DoubleType => v.asInstanceOf[Float8Vector].setSafe(i, row.getDouble(c))
              case BooleanType =>
                v.asInstanceOf[BitVector].setSafe(i, if (row.getBoolean(c)) 1 else 0)
              case StringType => v.asInstanceOf[VarCharVector]
                .setSafe(i, row.getString(c).getBytes(StandardCharsets.UTF_8))
              case other => throw new IllegalArgumentException(other.toString)
            }
          }
        }
        root.setRowCount(rows.size)
        val out = fs.create(p, true) // parents created by FS contract
        val writer = new ArrowFileWriter(root, null,
          java.nio.channels.Channels.newChannel(out))
        try { writer.start(); writer.writeBatch(); writer.end() }
        finally { writer.close(); out.close() }
      } finally root.close()
    } finally alloc.close()
  }

  /** Read one IPC file back into (schema, rows). */
  def read(path: String): (StructType, Seq[Row]) = {
    val alloc = new RootAllocator()
    try {
      val p = new Path(path)
      val fs = StoreFs.fs(p)
      // whole-file read: the IPC reader needs a seekable channel, and a
      // WAL snapshot is one bounded flush interval — the rows are about
      // to be materialized anyway
      val stream = fs.open(p)
      val bytes = try stream.readAllBytes() finally stream.close()
      val reader = new ArrowFileReader(
        new ByteArrayReadableSeekableByteChannel(bytes), alloc)
      try {
        val root = reader.getVectorSchemaRoot
        val schema = StructType(root.getSchema.getFields.asScala.toSeq.map { f =>
          val dt = f.getType match {
            case i: ArrowType.Int if i.getBitWidth == 64 => LongType
            case i: ArrowType.Int => IntegerType
            case _: ArrowType.FloatingPoint => DoubleType
            case _: ArrowType.Bool => BooleanType
            case _: ArrowType.Utf8 => StringType
            case other => throw new IllegalArgumentException(
              s"ArrowWal: unsupported arrow type $other for '${f.getName}'")
          }
          StructField(f.getName, dt, nullable = true)
        })
        val rows = Seq.newBuilder[Row]
        while (reader.loadNextBatch()) {
          val n = root.getRowCount
          (0 until n).foreach { i =>
            rows += Row.fromSeq(schema.fields.indices.map { c =>
              val v = root.getVector(c)
              if (v.isNull(i)) null
              else schema.fields(c).dataType match {
                case LongType => v.asInstanceOf[BigIntVector].get(i)
                case IntegerType => v.asInstanceOf[IntVector].get(i)
                case DoubleType => v.asInstanceOf[Float8Vector].get(i)
                case BooleanType => v.asInstanceOf[BitVector].get(i) == 1
                case StringType => new String(
                  v.asInstanceOf[VarCharVector].get(i), StandardCharsets.UTF_8)
                case other => throw new IllegalArgumentException(other.toString)
              }
            })
          }
        }
        (schema, rows.result())
      } finally { reader.close() }
    } finally alloc.close()
  }

  /** Replay every IPC file in a WAL directory into one DataFrame,
    * aligning drifted schemas by name (dynamic log columns may appear
    * mid-WAL, exactly like the parquet analog's mergeSchema read).
    */
  def replayDir(spark: SparkSession, dir: String): Option[DataFrame] = {
    val d = new Path(dir)
    val files = StoreFs.list(StoreFs.fs(d), d)
      .filter(_.getPath.getName.endsWith(".arrow"))
      .sortBy(_.getPath.getName)
    if (files.isEmpty) return None
    val frames = files.map { f =>
      val (schema, rows) = read(f.getPath.toString)
      spark.createDataFrame(rows.asJava, schema)
    }
    Some(frames.reduce(SchemaRegistry.unionByNameAllowMissing))
  }
}

package graft.model

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.plans.Placement.Placed

/** Canonical metadata model, mirroring the reference's internal model
  * (xtable-api/.../model/InternalTable.java:38-55, InternalDataFile.java:45-55,
  * ColumnStat.java:28-33, PartitionValue.java:28-30) but shaped as
  * Dataset-encodable case classes so file listings stay distributed:
  * the reference holds 100k-file listings in driver memory
  * (loadtest/LoadTest.java:68-95); at 100 TB (10^6..10^7 files) the listing
  * itself must be a Dataset.
  */

/** A partition transform, reference PartitionTransformType.java:21-31. */
object Transform {
  val Year = "YEAR"; val Month = "MONTH"; val Day = "DAY"; val Hour = "HOUR"
  val Value = "VALUE"; val Bucket = "BUCKET"
  val all: Set[String] = Set(Year, Month, Day, Hour, Value, Bucket)
  def isTimeBased(t: String): Boolean =
    t == Year || t == Month || t == Day || t == Hour
}

/** Reference InternalPartitionField.java:30-38. */
case class PartitionFieldSpec(
    sourceField: String,
    transform: String,
    format: Option[String] = None,   // for DAY:yyyy-MM-dd style path formats
    numBuckets: Option[Int] = None) {
  /** Name of the physical partition column in the target layout. */
  def partitionColumnName: String =
    if (transform == Transform.Value) sourceField
    else s"${sourceField}_${transform.toLowerCase}"
}

/** Reference InternalTable.java:38-55. Schema carried as StructType JSON so
  * the descriptor itself stays a plain serializable value.
  */
case class TableDescriptor(
    name: String,
    format: String,                  // PARQUET | DELTA | ICEBERG | HUDI
    basePath: String,
    schemaJson: String,
    partitionFields: Seq[PartitionFieldSpec],
    layout: String,                  // HIVE_STYLE_PARTITION | FLAT
    latestCommitMillis: Long) {
  def schema: StructType =
    org.apache.spark.sql.types.DataType.fromJson(schemaJson).asInstanceOf[StructType]
}

object TableDescriptor {
  def apply(name: String, format: String, basePath: String, schema: StructType,
      partitionFields: Seq[PartitionFieldSpec], layout: String,
      latestCommitMillis: Long): TableDescriptor =
    TableDescriptor(name, format, basePath, schema.json, partitionFields,
      layout, latestCommitMillis)
}

/** Per-file, per-column statistics — reference ColumnStat.java:28-33.
  * min/max use a canonical string encoding (see StatCodec) so the row is
  * flat-encodable; the table schema gives the type back.
  */
case class FileColumnStat(
    field: String,                   // dotted path for nested fields
    min: Option[String],
    max: Option[String],
    numNulls: Long,
    numValues: Long,
    totalSize: Long)

/** Reference PartitionValue.java:28-30; value in canonical string form. */
case class PartitionMember(field: String, value: String)

/** A Delta deletion-vector descriptor attached to a live file (Delta
  * PROTOCOL.md §Deletion Vectors; reference handles these in
  * DeltaConversionSource.java:104-174). `storageType` is `u` (relative,
  * z85-UUID-named file), `p` (absolute path) or `i` (inline z85 payload).
  * A file carrying one is physically whole but logically missing
  * `cardinality` rows — readers must mask those positions; file-level
  * metadata sync cannot represent it.
  */
case class DvDescriptor(
    storageType: String,
    pathOrInlineDv: String,
    offset: Int,
    sizeInBytes: Int,
    cardinality: Long)

/** Raised when an operation cannot honor live deletion vectors (file-level
  * metadata sync, 1:1 relation scans). Deliberately NOT swallowed into a
  * sync ERROR outcome — serving or propagating phantom rows is a
  * wrong-answer class, so it propagates to the caller.
  */
class DeletionVectorsUnsupported(msg: String) extends RuntimeException(msg)

/** Reference InternalDataFile.java:45-55. `path` is the absolute canonical
  * path — it is the join key of every diff (SURVEY §7.3 path
  * canonicalization), so it is normalized once at construction via
  * Paths.canonicalize. `deletionVector` is present only for Delta files
  * whose current snapshot carries row-level deletes.
  */
case class FileEntry(
    path: String,
    fileSizeBytes: Long,
    recordCount: Long,
    fileFormat: String,              // parquet | orc | avro
    partitionValues: Seq[PartitionMember],
    columnStats: Seq[FileColumnStat],
    lastModifiedMillis: Long,
    deletionVector: Option[DvDescriptor] = None)

/** Reference InternalSnapshot.java:48-52: table state + file listing +
  * the commit that produced it. The listing is the snapshot's own value,
  * placed where its decode ran ([[graft.plans.Listing]]).
  */
case class TableSnapshot(
    table: TableDescriptor,
    listing: graft.plans.Listing,
    commitId: String,
    pendingCommits: Seq[String] = Nil) {
  /** The listing as a Dataset view. */
  def files: Dataset[FileEntry] = listing.files

  /** This snapshot over a derived distributed listing. */
  def withFiles(derived: Dataset[FileEntry]): TableSnapshot =
    copy(listing = new graft.plans.Listing(derived.sparkSession,
      Right(derived)))
}

object TableSnapshot {
  /** A snapshot over a distributed listing. */
  def apply(table: TableDescriptor, files: Dataset[FileEntry],
      commitId: String): TableSnapshot =
    TableSnapshot(table, new graft.plans.Listing(files.sparkSession,
      Right(files)), commitId)
}

/** Reference InternalFilesDiff.java:35-80. Each side crosses the SPI
  * where its source decoded it: rows on the driver or a distributed
  * Dataset ([[graft.plans.Placement]]).
  */
case class FilesDelta(added: Placed[FileEntry], removed: Placed[FileEntry])

object FilesDelta {
  val empty: FilesDelta = FilesDelta(Left(Vector.empty), Left(Vector.empty))

  /** A diff whose sides are both distributed. */
  def apply(added: Dataset[FileEntry], removed: Dataset[FileEntry])
      : FilesDelta = FilesDelta(Right(added), Right(removed))

  /** Reference FilesDiff.findNewAndRemovedFiles (FilesDiff.java:67-85):
    * keyed set-match on path, expressed as two anti-joins so Catalyst can
    * pick broadcast/shuffled-hash and AQE can re-plan at runtime.
    */
  def between(latest: Dataset[FileEntry], previous: Dataset[FileEntry]): FilesDelta = {
    val added = latest.join(previous.select("path"), Seq("path"), "left_anti")
      .as(latest.encoder)
    val removed = previous.join(latest.select("path"), Seq("path"), "left_anti")
      .as(previous.encoder)
    FilesDelta(added, removed)
  }
}

/** Reference TableChange.java:39-42 — one commit's worth of file changes. */
case class TableChange(
    commitId: String,
    tableAsOfChange: TableDescriptor,
    diff: FilesDelta)

object Layout {
  val HivePartitioned = "HIVE_STYLE_PARTITION"
  val Flat = "FLAT"
}

object TableFormats {
  val Parquet = "PARQUET"; val Delta = "DELTA"; val Iceberg = "ICEBERG"
  val Hudi = "HUDI"; val Paimon = "PAIMON"
}

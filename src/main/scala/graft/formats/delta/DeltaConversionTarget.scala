package graft.formats.delta

import java.util.UUID

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

import graft.model._
import graft.plans.Placement
import graft.spi._
import graft.util.{Jsons, PathUtils}

/** Delta target — reference DeltaConversionTarget.java:75-374: buffers
  * schema/partition/actions in transaction state, commits one log entry with
  * metaData (schema JSON, partition columns, GRAFT_METADATA property) plus
  * add/remove actions. Zero data copy: add actions point at the source's
  * physical parquet files (absolute paths, allowed by the Delta spec).
  *
  * Action JSON is built by one per-file function, run over the driver's
  * rows or per partition where the diff arrived; a distributed side
  * streams to the single commit file through [[graft.util.StreamedLines]]
  * (bounded batches), so the driver never holds a large action list.
  */
class DeltaConversionTarget(spark: SparkSession, tablePath: String)
  extends ConversionTarget {

  private val conf = graft.util.HadoopConfs.session(spark)
  override def targetFormat: String = TableFormats.Delta

  // transaction state (reference TransactionState, DeltaConversionTarget.java:279-372)
  private var table: TableDescriptor = _
  private var schema: StructType = _
  private var partitionSpec: Seq[PartitionFieldSpec] = Nil
  private var syncMeta: Option[SyncMetadata] = None
  private var pending = FilesDelta.empty

  private def currentVersions: Seq[Long] = DeltaLog.listVersions(tablePath, conf)

  override def beginSync(t: TableDescriptor): Unit = {
    table = t
    schema = t.schema
    pending = FilesDelta.empty
  }

  override def syncMetadata(meta: SyncMetadata): Unit = syncMeta = Some(meta)
  override def syncSchema(s: StructType): Unit = schema = s
  override def syncPartitionSpec(spec: Seq[PartitionFieldSpec]): Unit =
    partitionSpec = spec

  /** Snapshot mode: diff incoming live set against the table's current live
    * set (reference DeltaDataFileUpdatesExtractor.applySnapshot:65-86).
    */
  override def syncFilesForSnapshot(files: Dataset[FileEntry]): Unit = {
    val versions = currentVersions
    pending =
      if (versions.isEmpty) FilesDelta(Right(files), Left(Vector.empty))
      else FilesDelta.between(files,
        DeltaSnapshot.liveFiles(spark, tablePath, versions, schema))
  }

  override def syncFilesForDiff(diff: FilesDelta): Unit = pending = diff

  override def completeSync(): Unit = {
    val versions = currentVersions
    val version = versions.lastOption.map(_ + 1).getOrElse(0L)
    val st = DeltaSnapshot.state(spark, tablePath, versions)
    val existingMeta = st.metaData

    val configuration = existingMeta.map(_.configuration).getOrElse(Map.empty) ++
      syncMeta.map(m => Map(SyncMetadata.PropertyKey -> m.toJson)).getOrElse(Map.empty) ++
      Map("graft.partitionSpec" -> Jsons.toJson(partitionSpec.map(p => Map(
        "sourceField" -> p.sourceField, "transform" -> p.transform,
        "format" -> p.format.orNull,
        "numBuckets" -> p.numBuckets.map(Integer.valueOf).orNull))))

    val metaNode = Map(
      "id" -> existingMeta.map(_.id).getOrElse(UUID.randomUUID().toString),
      "format" -> Map("provider" -> "parquet", "options" -> Map.empty),
      // time/bucket transforms ride as generated columns with
      // delta.generationExpression metadata (reference
      // DeltaPartitionExtractor.getGeneratedField:358)
      "schemaString" ->
        DeltaPartitions.withGeneratedColumns(schema, partitionSpec).json,
      "partitionColumns" -> partitionSpec.map(_.partitionColumnName),
      "configuration" -> configuration,
      "createdTime" -> existingMeta.map(_.createdTime)
        .getOrElse(System.currentTimeMillis()))

    // carry the table's EXISTING protocol forward: a sync commit writing
    // the (1,2) floor after an upgrade (ADD CONSTRAINT's writer-v3/v7
    // raise, a feature table adopted from delta-spark) would DOWNGRADE
    // the table — latest protocol action wins per the Delta spec, and
    // the features in force would lose their license. Creation keeps the
    // (1,2) floor; on existing tables the protocol line only restates
    // what the log already holds.
    DeltaSnapshot.requireWritable(tablePath, st)
    val header = Iterator(
      Jsons.toJson(Map("protocol" ->
        st.protocol.getOrElse(DeltaSnapshot.ProtocolInfo(1, 2, Nil, Nil))
          .action)),
      Jsons.toJson(Map("metaData" -> metaNode)),
      Jsons.toJson(Map("commitInfo" -> Map(
        "timestamp" -> System.currentTimeMillis(),
        "operation" -> "GRAFT SYNC",
        "operationParameters" -> Map.empty))))

    val schemaJson = schema.json
    val tp = tablePath
    // row tracking (PROTOCOL.md §Row Tracking): adds on a supported
    // table carry fresh baseRowId ranges + this commit's version, and
    // the same commit advances the high-water-mark domain action. The
    // per-file lines are "count\tjson"; the driver stamps in its single
    // streaming pass.
    val rowTracking = DeltaRowTracking.isSupported(st)
    val rt = rowTracking
    val addLines = DeltaConversionTarget.lines(pending.added) { it =>
      val sch = DataType.fromJson(schemaJson).asInstanceOf[StructType]
      it.map { f =>
        // Delta's format action admits parquet only (PROTOCOL.md
        // §Format); registering an ORC/avro file would make every
        // Delta reader misparse it — refuse loudly, Iceberg/Hudi
        // targets carry those formats natively
        if (f.fileFormat != "parquet")
          throw new UnsupportedOperationException(
            s"Delta data files must be parquet; ${f.path} is " +
              s"${f.fileFormat} — sync this source to Iceberg instead")
        val line = Jsons.toJson(Map("add" -> Map(
          // PROTOCOL.md: action paths are URL-encoded URIs
          "path" -> PathUtils.toDeltaUri(PathUtils.relativize(tp, f.path)),
          "partitionValues" -> f.partitionValues
            .map(p => p.field -> p.value).toMap,
          "size" -> f.fileSizeBytes,
          "modificationTime" -> f.lastModifiedMillis,
          "dataChange" -> true,
          "stats" -> DeltaStats.toJson(sch, f.recordCount, f.columnStats))))
        if (rt) s"${f.recordCount}\t$line" else line
      }
    }
    val stampedAdds =
      if (rowTracking)
        DeltaRowTracking.stampFreshIds(DeltaRowTracking.countedLines(addLines),
          DeltaRowTracking.highWaterMark(st) + 1, version)
      else addLines

    val now = System.currentTimeMillis()
    val removeLines = DeltaConversionTarget.lines(pending.removed)(_.map { f =>
      Jsons.toJson(Map("remove" -> Map(
        "path" -> PathUtils.toDeltaUri(PathUtils.relativize(tp, f.path)),
        "deletionTimestamp" -> now,
        "dataChange" -> true)))
    })

    val ok = DeltaLog.writeCommit(tablePath, version,
      header ++ stampedAdds ++ removeLines, new graft.io.TableStore(conf))
    if (!ok) throw new IllegalStateException(
      s"concurrent writer committed version $version first at $tablePath")

    // periodic checkpoint: replay cost stays O(tail), not O(history)
    if (version > 0 && version % DeltaConversionTarget.CheckpointInterval == 0)
      DeltaSnapshot.writeCheckpoint(spark, tablePath, version, schema)
  }

  override def tableMetadata(): Option[SyncMetadata] =
    DeltaSnapshot.metadata(spark, tablePath, currentVersions)
      .flatMap(_.configuration.get(SyncMetadata.PropertyKey))
      .flatMap(SyncMetadata.fromJson)
}

object DeltaConversionTarget {
  /** Checkpoint cadence, matching delta-spark's default. */
  val CheckpointInterval = 10

  /** One side's commit lines, made by `line` where the side is: over the
    * driver's rows, or per partition and streamed in bounded batches.
    */
  private def lines(side: Placement.Placed[FileEntry])(
      line: Iterator[FileEntry] => Iterator[String]): Iterator[String] = {
    import org.apache.spark.sql.Encoders
    Placement.mapRows(side)(line)(Encoders.STRING)
      .fold(_.iterator, graft.util.StreamedLines.iterate)
  }
}

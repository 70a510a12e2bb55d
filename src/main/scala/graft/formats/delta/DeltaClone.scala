package graft.formats.delta

import java.util.UUID

import org.apache.spark.sql.SparkSession

import graft.util.{HadoopConfs, Jsons, PathUtils}

/** SHALLOW CLONE — delta-spark's zero-copy table fork (`CREATE TABLE ...
  * SHALLOW CLONE src [VERSION AS OF v]`): the clone is a NEW table whose
  * add actions point at the SOURCE's data files by absolute path, so no
  * data moves; from then on the histories are independent (writes,
  * deletes and OPTIMIZE on either side never touch the other — the
  * clone's rewrites land under the clone's own directory).
  *
  * Refusals, loudly: a target that already has a Delta log (CLONE
  * creates, it does not merge), and a source with live deletion vectors
  * (the clone would share DV files whose vacuum lifecycle belongs to the
  * source — delta-spark materializes DVs on clone; out of scope here).
  *
  * Scale shape: the add actions are authored executor-side from the
  * source's distributed listing and STREAMED to the commit writer — a
  * 10^6-file clone is one bounded-batch pass, zero data IO.
  */
object DeltaClone {

  case class CloneResult(files: Long, version: Long)

  def shallowClone(spark: SparkSession, srcPath: String, dstPath: String,
      versionAsOf: Option[Long] = None): CloneResult = {
    val conf = HadoopConfs.session(spark)
    require(DeltaLog.latestVersion(dstPath, conf).isEmpty,
      s"cannot CLONE into $dstPath: a Delta table already exists there")
    val src = new DeltaConversionSource(spark, srcPath,
      PathUtils.canonical(srcPath).stripSuffix("/").split('/').last)
    val snap = versionAsOf.map(src.snapshotAt).getOrElse(src.currentSnapshot())
    val dv = snap.listing.summary
    require(dv.dvFiles == 0L,
      s"source has ${dv.dvFiles} file(s) with live deletion vectors — " +
        "shallow clone would share their DV lifecycle; compact the " +
        "source first (OPTIMIZE retires DVs)")

    val meta = src.currentMeta()
    val now = System.currentTimeMillis()
    val listing = snap.listing.dataset
    val schemaJson = snap.table.schema.json
    import spark.implicits._
    val adds = listing.mapPartitions(_.map { fe =>
      Jsons.toJson(Map("add" -> Map(
        // absolute source path: the defining shallow-clone property
        "path" -> PathUtils.toDeltaUri(fe.path),
        "partitionValues" -> fe.partitionValues
          .map(p => p.field -> p.value).toMap,
        "size" -> fe.fileSizeBytes,
        "modificationTime" -> fe.lastModifiedMillis,
        "dataChange" -> true,
        "stats" -> DeltaStats.toJson(
          org.apache.spark.sql.types.DataType.fromJson(schemaJson)
            .asInstanceOf[org.apache.spark.sql.types.StructType],
          fe.recordCount, fe.columnStats))))
    })
    // the clone's protocol is the SOURCE's protocol as of the cloned
    // version (delta-spark CLONE semantics): the copied schemaString /
    // configuration may reference column mapping, CHECK constraints or
    // v7 table features, and a hardcoded (1,2) log would use features its
    // protocol doesn't license — invalid per PROTOCOL.md §Table Features
    val srcVersions = DeltaLog.listVersions(srcPath, conf)
      .filter(_ <= snap.commitId.toLong)
    val proto = DeltaSnapshot.protocolInfo(spark, srcPath, srcVersions)
      .getOrElse(DeltaSnapshot.ProtocolInfo(1, 2, Nil, Nil))
    val protoMap: Map[String, Any] = Map(
      "minReaderVersion" -> proto.minReaderVersion,
      "minWriterVersion" -> proto.minWriterVersion) ++
      (if (proto.minWriterVersion >= 7)
         Map("writerFeatures" -> proto.writerFeatures.distinct.sorted)
       else Map.empty) ++
      (if (proto.minReaderVersion >= 3)
         Map("readerFeatures" -> proto.readerFeatures.distinct.sorted)
       else Map.empty)
    val header = Iterator(
      Jsons.toJson(Map("protocol" -> protoMap)),
      Jsons.toJson(Map("metaData" -> Map(
        "id" -> UUID.randomUUID().toString,     // a NEW table identity
        // schema AS OF the cloned snapshot, not the source head
        "schemaString" -> snap.table.schema.json,
        "format" -> Map("provider" -> "parquet", "options" -> Map.empty),
        "partitionColumns" ->
          snap.table.partitionFields.map(_.partitionColumnName),
        "configuration" -> meta.configuration,
        "createdTime" -> now))),
      Jsons.toJson(Map("commitInfo" -> Map(
        "timestamp" -> now, "operation" -> "CLONE",
        "operationParameters" -> Map(
          "source" -> PathUtils.canonical(srcPath),
          "sourceVersion" -> snap.commitId)))))
    val ok = DeltaLog.writeCommit(dstPath, 0L,
      header ++ graft.util.StreamedLines.iterate(adds))
    if (!ok) throw new IllegalStateException(
      s"concurrent writer created version 0 first at $dstPath")
    CloneResult(snap.listing.fetched.count, 0L)
  }
}

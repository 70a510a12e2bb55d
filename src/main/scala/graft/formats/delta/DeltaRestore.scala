package graft.formats.delta

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.FileEntry
import graft.util.{HadoopConfs, Jsons, PathUtils}

/** RESTORE a Delta table to an earlier version (delta-spark's
  * `RESTORE TABLE ... TO VERSION AS OF` semantics): one commit whose
  * add/remove set turns the CURRENT live file set into exactly the
  * TARGET version's — files dropped since are re-added (with the stats
  * and deletion-vector descriptor they carried at the target version),
  * files added since are removed, and a file whose DV changed is
  * re-described. History is preserved; the restore itself is just
  * another commit, so it can be restored away from again.
  *
  * Scale shape: both listings stay distributed; the two anti-joins diff
  * them on (path, dv-identity) and the commit lines stream to the driver
  * in bounded batches — a restore across 10^7 files never materializes a
  * file list. Re-added files are existence-checked executor-side first:
  * restoring past a VACUUM that already swept them must refuse loudly
  * (delta-spark's default), not commit adds that can never be read.
  */
object DeltaRestore {

  case class RestoreResult(readded: Long, removed: Long, version: Long)

  /** `verifyExists = false` skips the re-added-file existence probe —
    * the `spark.sql.files.ignoreMissingFiles` analog for callers that
    * manage physical retention out of band.
    */
  def restoreTo(spark: SparkSession, tablePath: String, version: Long,
      verifyExists: Boolean = true): RestoreResult = {
    import spark.implicits._
    val src = new DeltaConversionSource(spark, tablePath,
      PathUtils.canonical(tablePath).stripSuffix("/").split('/').last)
    val cur = src.currentSnapshot()
    val curV = cur.commitId.toLong
    require(version <= curV,
      s"cannot restore $tablePath to version $version: head is $curV")
    if (version == curV) return RestoreResult(0L, 0L, curV)
    val target = src.snapshotAt(version)

    // identity of a live add for the diff: path + its DV descriptor —
    // a file whose DV changed since the target version must be re-added
    // with the target's descriptor even though the path survived
    // NUL-separated key: paths can contain spaces, never NUL
    def keyed(files: Dataset[FileEntry]) = files
      .withColumn("__k", concat_ws("\u0000", col("path"),
        coalesce(col("deletionVector.pathOrInlineDv"), lit("")),
        coalesce(col("deletionVector.offset").cast("string"), lit("")),
        coalesce(col("deletionVector.cardinality").cast("string"), lit(""))))
    val curFiles = keyed(cur.listing.dataset)
    val tgtFiles = keyed(target.listing.dataset)

    val toAdd = tgtFiles.join(curFiles.select(col("__k").as("__ck")),
        col("__k") === col("__ck"), "left_anti")
      .drop("__k").as[FileEntry].localCheckpoint(eager = false)
    val toRemove = curFiles.join(tgtFiles.select(col("__k").as("__tk")),
        col("__k") === col("__tk"), "left_anti")
      .drop("__k").as[FileEntry].localCheckpoint(eager = false)

    val nAdd = toAdd.count()
    val nRemove = toRemove.count()
    if (nAdd == 0L && nRemove == 0L)
      return RestoreResult(0L, 0L, curV)

    // refuse a restore whose re-added files were already swept (VACUUM):
    // distributed existence probe, fails loudly with the missing paths
    if (verifyExists) {
      val bconf = HadoopConfs.broadcastSession(spark)
      val missing = toAdd.mapPartitions { it =>
        val conf = bconf.value.value
        it.filterNot { f =>
          val p = new org.apache.hadoop.fs.Path(f.path)
          p.getFileSystem(conf).exists(p)
        }.map(_.path)
      }.take(3)
      require(missing.isEmpty,
        s"cannot restore $tablePath to version $version: data file(s) no " +
          s"longer exist (vacuumed?): ${missing.mkString(", ")} ...")
    }

    val tp = cur.table.basePath
    val schemaJson = target.table.schema.json
    val now = System.currentTimeMillis()
    // RESTORE reverts schema and table properties too (delta-spark
    // semantics): when the metaData differs from the head's, the target
    // version's metaData action rides in the restore commit
    val conf = HadoopConfs.session(spark)
    val allVs = DeltaLog.listVersions(tablePath, conf)
    val metaAtTarget =
      DeltaSnapshot.metadata(spark, tablePath, allVs.filter(_ <= version))
    val metaAtHead = DeltaSnapshot.metadata(spark, tablePath, allVs)
    val metaLine = metaAtTarget match {
      case Some(m) if metaAtTarget != metaAtHead =>
        Iterator(Jsons.toJson(Map("metaData" -> Map(
          "id" -> m.id,
          "format" -> Map("provider" -> "parquet", "options" -> Map.empty),
          "schemaString" -> m.schemaString,
          "partitionColumns" -> m.partitionColumns,
          "configuration" -> m.configuration,
          "createdTime" -> m.createdTime))))
      case _ => Iterator.empty
    }
    val header = metaLine ++ Iterator(Jsons.toJson(Map("commitInfo" -> Map(
      "timestamp" -> now, "operation" -> "RESTORE",
      "operationParameters" -> Map("version" -> version.toString)))))
    val addLines = toAdd.mapPartitions { it =>
      val sch = org.apache.spark.sql.types.DataType.fromJson(schemaJson)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      it.map { fe =>
        val add = Map(
          "path" -> PathUtils.toDeltaUri(PathUtils.relativize(tp, fe.path)),
          "partitionValues" -> fe.partitionValues
            .map(p => p.field -> p.value).toMap,
          "size" -> fe.fileSizeBytes,
          "modificationTime" -> fe.lastModifiedMillis,
          "dataChange" -> true,
          "stats" -> DeltaStats.toJson(sch, fe.recordCount, fe.columnStats))
        Jsons.toJson(Map("add" -> (fe.deletionVector match {
          case Some(d) => add + ("deletionVector" -> Map(
            "storageType" -> d.storageType,
            "pathOrInlineDv" -> d.pathOrInlineDv,
            "offset" -> d.offset,
            "sizeInBytes" -> d.sizeInBytes,
            "cardinality" -> d.cardinality))
          case None => add
        })))
      }
    }
    val removeLines = toRemove.mapPartitions { it =>
      it.map { fe =>
        Jsons.toJson(Map("remove" -> Map(
          "path" -> PathUtils.toDeltaUri(PathUtils.relativize(tp, fe.path)),
          "deletionTimestamp" -> now,
          "dataChange" -> true)))
      }
    }
    val newV = curV + 1
    val ok = DeltaLog.writeCommit(tablePath, newV,
      header ++ graft.util.StreamedLines.iterate(addLines) ++
        graft.util.StreamedLines.iterate(removeLines))
    if (!ok) throw new IllegalStateException(
      s"concurrent writer committed version $newV first at $tablePath — " +
        "re-run RESTORE against the new snapshot")
    RestoreResult(nAdd, nRemove, newV)
  }
}

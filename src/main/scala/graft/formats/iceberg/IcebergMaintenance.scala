package graft.formats.iceberg

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.util.{HadoopConfs, PathUtils}

/** Iceberg table maintenance — snapshot expiration (the ExpireSnapshots
  * action every production Iceberg table runs) and orphan-file removal
  * (RemoveOrphanFiles, its physical-cleanup twin). Expiration drops old
  * snapshot entries from the metadata under a fresh version;
  * [[removeOrphanFiles]] then sweeps everything under the table directory
  * that no RETAINED snapshot references — expired manifest lists,
  * manifests, superseded data/delete files, stray temp output. The
  * reference's expiration-safety check on the SOURCE side
  * (IcebergConversionSource isIncrementalSyncSafeFrom) is what expiration
  * exercises: an expired snapshot makes per-commit replay impossible and
  * must force fallback-to-full.
  */
object IcebergMaintenance {

  /** Drop all but the newest `retainLast` snapshots — EXCEPT snapshots
    * a ref (branch/tag) points at, the current snapshot itself (a
    * rolled-back head can be older than the retention window), and any
    * snapshot committed at/after `olderThanMillis` (Iceberg's
    * expire_snapshots(older_than) semantics: `GRAFT VACUUM ... RETAIN n
    * HOURS` keeps the window's time travel intact instead of truncating
    * history to the head). Returns the expired sequence numbers (empty
    * when under the window).
    */
  def expireSnapshots(tablePath: String, retainLast: Int,
      olderThanMillis: Long = Long.MaxValue): Seq[Long] = {
    require(retainLast >= 1, "must retain at least one snapshot")
    val version = IcebergMetadata.currentVersion(tablePath).getOrElse(
      throw new IllegalStateException(s"no Iceberg table at $tablePath"))
    val m = IcebergMetadata.read(tablePath, version)
    val ordered = m.snapshots.sortBy(_.sequenceNumber)
    if (ordered.size <= retainLast) return Nil
    val pinned = m.refs.values.map(_.snapshotId).toSet + m.currentSnapshotId
    val (old, recent) = ordered.splitAt(ordered.size - retainLast)
    val (keptOld, expired) = old.partition(s =>
      pinned.contains(s.snapshotId) || s.timestampMs >= olderThanMillis)
    if (expired.isEmpty) return Nil
    val ok = IcebergMetadata.write(tablePath, version + 1, m.copy(
      snapshots = keptOld ++ recent,
      lastUpdatedMs = System.currentTimeMillis()))
    if (!ok) throw new IllegalStateException(
      s"concurrent writer during snapshot expiration at $tablePath")
    expired.map(_.sequenceNumber)
  }

  case class OrphanSweep(deleted: Long, deletedBytes: Long, scanned: Long)

  /** Delete every file under the table directory that (a) no retained
    * snapshot references — data/delete files via their manifests, the
    * manifests and manifest lists themselves — (b) is not table metadata
    * (`*.metadata.json`, `version-hint.text`), and (c) is older than
    * `retentionMillis` (protects a concurrent writer's in-flight files).
    * Like the reference engines' RemoveOrphanFiles, files OUTSIDE the
    * table directory (metadata-only conversions reference the source
    * dir's data files in place) are never touched.
    *
    * Scale shape: manifest walking fans out per manifest in executor
    * tasks, the directory walk is the same driver/cluster split as every
    * graft listing, and the keep-set anti-join + deletes run distributed.
    */
  def removeOrphanFiles(spark: SparkSession, tablePath: String,
      retentionMillis: Long = 0L): OrphanSweep = {
    import spark.implicits._
    val horizon = System.currentTimeMillis() - retentionMillis
    val version = IcebergMetadata.currentVersion(tablePath).getOrElse(
      throw new IllegalStateException(s"no Iceberg table at $tablePath"))
    val m = IcebergMetadata.read(tablePath, version)

    val manifestLists = m.snapshots.map(_.manifestList)
    // ALL manifests — data AND delete (content 1): readManifestList's
    // data-only filter would drop the delete manifests from the keep
    // set, the sweep would remove them, and every position/equality
    // delete would silently resurrect its rows
    val manifests: Seq[String] = manifestLists
      .flatMap(IcebergManifests.readManifestListRecords(_))
      .map(_.get("manifest_path").toString)
    val bconf = HadoopConfs.broadcastSession(spark)
    val referencedData: Dataset[String] =
      if (manifests.isEmpty) spark.emptyDataset[String]
      else graft.util.Par.ds(spark, manifests, 64)
        .mapPartitions { it =>
          it.flatMap { mp =>
            IcebergManifests.readManifest(mp, bconf.value.value).map { e =>
              val df = e.get("data_file")
                .asInstanceOf[org.apache.avro.generic.GenericRecord]
              PathUtils.canonical(df.get("file_path").toString)
            }
          }
        }
    val keepDriver = (manifestLists ++ manifests)
      .map(PathUtils.canonical)
    val keep = referencedData
      .union(spark.createDataset(keepDriver)).distinct()

    // never walk a SIBLING format's metadata plane (in-place
    // multi-format tables): its files are absent from Iceberg's keep
    // set and the sweep would destroy that plane
    val foreign = graft.util.DistributedWalk.foreignPlaneDirs("iceberg")
    val all = graft.util.DistributedWalk.allFiles(spark, tablePath,
        skipDir = d => d == graft.plans.BloomIndex.IndexDirName ||
          foreign.contains(d),
        skipFile = n => n.endsWith(".metadata.json") ||
          n == "version-hint.text")
      .localCheckpoint(eager = false)   // lazy pin: count() materializes
    val scanned = all.count()
    val doomed = all
      .join(keep.toDF("__keep"), all("path") === org.apache.spark.sql
        .functions.col("__keep"), "left_anti")
      .as[graft.util.DistributedWalk.WalkedFile]
      // boundary inclusive: with retention 0, a file stamped in the same
      // millisecond the sweep started is still sweepable
      .filter(_.mtime <= horizon)
    val sums = doomed.mapPartitions { it =>
      val store = new graft.io.TableStore(bconf.value.value)
      var n = 0L; var b = 0L
      it.foreach { f =>
        if (store.delete(f.path)) { n += 1; b += f.size }
      }
      Iterator.single((n, b))
    }.collect()
    OrphanSweep(sums.map(_._1).sum, sums.map(_._2).sum, scanned)
  }

}

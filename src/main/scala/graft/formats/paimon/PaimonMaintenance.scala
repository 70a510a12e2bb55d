package graft.formats.paimon

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.io.TableStore
import graft.util.{HadoopConfs, PathUtils}

/** Paimon table maintenance — snapshot expiration plus orphan-file
  * removal, completing the four-format `GRAFT VACUUM` matrix (Delta
  * vacuum / Iceberg expire+sweep / Hudi clean). Paimon proper runs the
  * same pair as `snapshot.num-retained.*` expiration + orphan cleanup.
  *
  * Expiration removes only a contiguous PREFIX of snapshot ids: it
  * stops at the first tag-pinned snapshot. Gaps in the id listing would
  * silently break incremental sync (`commitsBacklog` would skip the
  * missing snapshot's delta while `isIncrementalSyncSafeFrom` still
  * passed) and dangle tag reads (`snapshotAt` resolves through the
  * snapshot file, the tag file being a copy) — a shorter expiration is
  * always safe, a gapped one is silently wrong.
  *
  * Reference anchor: the reference only OBSERVES expiration — its
  * source-side safety check (PaimonConversionSource /
  * IcebergConversionSource.isIncrementalSyncSafeFrom) forces
  * fallback-to-full when history is gone; graft also performs the
  * write-side operation.
  */
object PaimonMaintenance {

  /** Drop all but the newest `retainLast` snapshots, never expiring past
    * a tag-pinned id (see class doc) nor one committed at/after
    * `olderThanMillis` — `GRAFT VACUUM ... RETAIN n HOURS` keeps the
    * window's time travel intact (Paimon proper expires by
    * `snapshot.time-retained` the same way) instead of truncating
    * history to the head. Returns the expired ids.
    */
  def expireSnapshots(tablePath: String, retainLast: Int,
      olderThanMillis: Long = Long.MaxValue): Seq[Long] = {
    require(retainLast >= 1, "must retain at least one snapshot")
    val store = TableStore.active()
    val path = PathUtils.canonical(tablePath)
    val ids = PaimonFormat.listSnapshotIds(path, store)
    if (ids.isEmpty)
      throw new IllegalStateException(s"no Paimon table at $path")
    if (ids.size <= retainLast) return Nil
    val pinned = PaimonFormat.listTags(path, store).map(_._2).toSet
    val expired = ids.dropRight(retainLast).takeWhile(id =>
      !pinned.contains(id) &&
        PaimonFormat.readSnapshot(path, id, store).timeMillis < olderThanMillis)
    // oldest-first: a concurrent reader resolving the head never loses it
    expired.foreach { id =>
      store.delete(s"${PaimonFormat.snapshotDir(path)}/snapshot-$id")
    }
    expired
  }

  case class OrphanSweep(deleted: Long, deletedBytes: Long, scanned: Long)

  /** Delete every file under the table directory that (a) no RETAINED
    * snapshot references — data files via their manifests' ADD entries,
    * the manifests and manifest lists themselves — (b) is not the
    * snapshot/schema/tag metadata plane, and (c) is older than
    * `retentionMillis` (protects a concurrent writer's in-flight files).
    * Files OUTSIDE the table directory (adopted source data referenced
    * in place) are never touched by construction of the walk.
    *
    * Scale shape: manifest fan-out runs one executor task per manifest,
    * the directory walk is the same driver/cluster split as every graft
    * listing, and the keep-set anti-join + deletes run distributed —
    * mirrors [[graft.formats.iceberg.IcebergMaintenance.removeOrphanFiles]].
    */
  def removeOrphanFiles(spark: SparkSession, tablePath: String,
      retentionMillis: Long = 0L): OrphanSweep = {
    import spark.implicits._
    val path = PathUtils.canonical(tablePath)
    val horizon = System.currentTimeMillis() - retentionMillis
    val ids = PaimonFormat.listSnapshotIds(path)
    if (ids.isEmpty)
      throw new IllegalStateException(s"no Paimon table at $path")
    val mdir = PaimonFormat.manifestDir(path)

    // retained snapshots (tags resolve through retained snapshot files —
    // expiration never removes a pinned one, so this covers tag reads)
    val snaps = ids.map(PaimonFormat.readSnapshot(path, _))
    val manifestLists = snaps
      .flatMap(s => Seq(s.baseManifestList, s.deltaManifestList))
      .map(PaimonFormat.manifestListPath(path, _))
      .distinct
    val manifestNames = manifestLists
      .flatMap(PaimonFormat.readManifestList(_).map(_._1)).distinct
    val keepDriver = (manifestLists ++ manifestNames.map(n => s"$mdir/$n"))
      .map(PathUtils.canonical)

    val bconf = HadoopConfs.broadcastSession(spark)
    val tp = path
    val referencedData: Dataset[String] =
      if (manifestNames.isEmpty) spark.emptyDataset[String]
      else graft.util.Par.ds(spark, manifestNames.map(n => s"$mdir/$n"), 64)
        .mapPartitions { it =>
          val store = new TableStore(bconf.value.value)
          // ADD entries only: a path no retained snapshot ADDs is dead
          // weight even if a retained DELETE entry names it (the
          // reconciliation anti-join matches by path and tolerates the
          // file's absence)
          it.flatMap(mp => PaimonFormat.readManifest(mp, store)
            .filter(_.get("kind").asInstanceOf[Int] == PaimonFormat.Kind.Add)
            .map(e => PathUtils.canonical(PathUtils.resolve(tp,
              e.get("fileName").toString))))
        }
    val keep = referencedData
      .union(spark.createDataset(keepDriver)).distinct()

    // own snapshot/schema/tag plane never swept (the manifest dir IS
    // swept, via the keep set); sibling formats' planes never walked
    // (in-place multi-format tables — their files are absent from
    // Paimon's keep set and the sweep would destroy them)
    val metaDirs = Set("snapshot", "schema", "tag",
      graft.plans.BloomIndex.IndexDirName) ++
      graft.util.DistributedWalk.foreignPlaneDirs("paimon")
    val all = graft.util.DistributedWalk.allFiles(spark, path,
        skipDir = metaDirs.contains)
      .localCheckpoint(eager = false)   // lazy pin: count() materializes
    val scanned = all.count()
    val doomed = all
      .join(keep.toDF("__keep"),
        all("path") === org.apache.spark.sql.functions.col("__keep"),
        "left_anti")
      .as[graft.util.DistributedWalk.WalkedFile]
      .filter(_.mtime <= horizon)
    val sums = doomed.mapPartitions { it =>
      val store = new TableStore(bconf.value.value)
      var n = 0L; var b = 0L
      it.foreach { f =>
        if (store.delete(f.path)) { n += 1; b += f.size }
      }
      Iterator.single((n, b))
    }.collect()
    OrphanSweep(sums.map(_._1).sum, sums.map(_._2).sum, scanned)
  }
}

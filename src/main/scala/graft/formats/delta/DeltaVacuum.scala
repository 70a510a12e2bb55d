package graft.formats.delta

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.TableStore
import graft.util.{HadoopConfs, Jsons, PathUtils}

/** VACUUM — physical removal of files no longer referenced by the Delta
  * table, the retention sweep every production table runs (reference
  * vacuum-SAFETY is read-side only, DeltaConversionSource.java:191-204;
  * this is the write-side op itself).
  *
  * A file under the table directory is deleted iff
  *   (a) it is not referenced by the CURRENT snapshot (data files and
  *       their deletion-vector files both count as references),
  *   (b) it is not protected by a remove tombstone newer than the
  *       retention horizon (so time travel within the retention window
  *       keeps working), and
  *   (c) its own modification time is older than the horizon (protects
  *       in-flight writes of a concurrent committer and recently
  *       superseded DV files).
  *
  * Scale shape: the table-directory walk, the reference set, the
  * anti-join and the deletes are all distributed — the driver holds only
  * per-partition delete counts. Time travel to versions older than the
  * retention window stops working after a vacuum, exactly like Delta's
  * own VACUUM (the log is untouched; reads of vacuumed versions fail on
  * the missing files, loudly).
  */
object DeltaVacuum {

  case class VacuumResult(deleted: Long, deletedBytes: Long,
      scanned: Long, kept: Long)

  def vacuum(spark: SparkSession, tablePath: String,
      retentionMillis: Long): VacuumResult = {
    import spark.implicits._
    require(retentionMillis >= 0, "retentionMillis must be >= 0")
    val horizon = System.currentTimeMillis() - retentionMillis
    val src = new DeltaConversionSource(spark, tablePath,
      PathUtils.canonical(tablePath).stripSuffix("/").split('/').last)
    val snap = src.currentSnapshot()
    val tp = snap.table.basePath

    // reference set 1: live data files + their DV files
    val listing = snap.listing.dataset
    val liveRefs: Dataset[String] = listing.flatMap { f =>
      f.path +: f.deletionVector.toSeq
        .filter(_.storageType != "i")
        .map(d => PathUtils.canonical(DeletionVectors.absolutePath(tp, d)))
    }
    // reference set 2: remove tombstones still inside the retention
    // window (their data files must stay readable for time travel)
    val conf = HadoopConfs.session(spark)
    val versions = DeltaLog.listVersions(tablePath, conf)
    val table = tp
    val tombstoneRefs: Dataset[String] =
      if (versions.isEmpty) spark.emptyDataset[String]
      else spark.read
        .textFile(versions.map(v => DeltaLog.versionFile(tablePath, v)): _*)
        .mapPartitions { it =>
          it.flatMap { line =>
            if (line.isEmpty || !line.contains("\"remove\"")) None
            else Option(Jsons.mapper.readTree(line).get("remove")).map { r =>
              val ts = Option(r.get("deletionTimestamp"))
                .map(_.asLong).getOrElse(Long.MaxValue)
              (PathUtils.resolve(table,
                PathUtils.fromDeltaUri(r.get("path").asText)), ts)
            }
          }
        }
        .filter(_._2 >= horizon).map(_._1)

    val keep = liveRefs.union(tombstoneRefs).distinct()
    // never walk a SIBLING format's metadata plane (in-place
    // multi-format tables): its files are absent from Delta's keep set
    // and the sweep would destroy that plane
    val foreign = graft.util.DistributedWalk.foreignPlaneDirs("delta")
    val all = graft.util.DistributedWalk
      .allFiles(spark, tp, skipDir = d => d == DeltaLog.LogDir ||
        d == graft.plans.BloomIndex.IndexDirName || foreign.contains(d))
      .localCheckpoint(eager = false)   // lazy pin: count() materializes
    val scanned = all.count()
    val doomed: Dataset[graft.util.DistributedWalk.WalkedFile] = all
      .join(keep.toDF("__keep"), all("path") === col("__keep"), "left_anti")
      .as[graft.util.DistributedWalk.WalkedFile]
      .filter(_.mtime < horizon)
      // pin: count and delete see one set (lazy — the delete-sum job
      // right below materializes it)
      .localCheckpoint(eager = false)

    val bconf = HadoopConfs.broadcastSession(spark)
    val sums = doomed.mapPartitions { it =>
      val store = new TableStore(bconf.value.value)
      var n = 0L; var b = 0L
      it.foreach { f =>
        if (store.delete(f.path)) { n += 1; b += f.size }
      }
      Iterator.single((n, b))
    }.collect()
    val deleted = sums.map(_._1).sum
    val bytes = sums.map(_._2).sum

    // stale conflict-retry spools: commitWithRetry writes its spool into
    // _delta_log (hard-link publish) and deletes it in a finally — only
    // a hard crash strands one. Sweep spools older than the horizon;
    // in-flight writers' spools are younger by construction.
    val store = new TableStore(conf)
    store.list(DeltaLog.logPath(tablePath)).foreach { f =>
      if (TableStore.isTemp(f.getPath.getName) &&
          f.getModificationTime < horizon)
        store.delete(f.getPath.toString)
    }

    VacuumResult(deleted, bytes, scanned, scanned - deleted)
  }

}

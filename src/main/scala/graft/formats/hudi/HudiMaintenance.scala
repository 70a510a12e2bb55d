package graft.formats.hudi

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.SparkSession

import graft.io.TableStore
import graft.util.{HadoopConfs, Jsons, PathUtils}

/** Hudi cleaning — the physical-file retirement every production Hudi
  * table runs (HoodieCleaner; the reference handles clean instants only
  * read-side, as a safety check). With Delta VACUUM and Iceberg
  * RemoveOrphanFiles this completes the maintenance story across all
  * three formats.
  *
  * Semantics (KEEP_LATEST_COMMITS-shaped): the newest `retainInstants`
  * completed instants define a horizon (the earliest retained instant).
  * A physical file is deleted iff the TIMELINE says it is dead and old:
  *
  * - a committed BASE file that is no longer any live file group's base
  *   (superseded by compaction or replaced), committed before the
  *   horizon;
  * - a committed LOG file no longer part of any live file slice
  *   (absorbed by a later compaction or its group replaced), committed
  *   before the horizon.
  *
  * Files the timeline never registered (stray temp output) are NOT
  * touched — the cleaner trusts commits, not directory listings, exactly
  * like Hudi's. A JSON `<instant>.clean` records what was removed;
  * timeline readers (graft's and real Hudi's alike) ignore unknown
  * instant actions when folding file groups, so cleaning never perturbs
  * the views. Time travel / incremental reads AT OR AFTER the horizon
  * keep working; reads before it fail loudly on the missing files.
  *
  * Scale shape: the dead-set derivation is pure timeline-fold arithmetic
  * (O(commits + files) driver memory for the stat maps — the same bound
  * the fold already holds); the deletes fan out over executors.
  */
object HudiMaintenance {

  case class CleanResult(deleted: Long, deletedBytes: Long,
      earliestRetained: String)

  /** Clean file slices superseded before the horizon. The horizon is
    * the count-based `retainInstants` cut, WIDENED (never narrowed) by
    * `olderThanMillis`: every instant committed at/after that wall-clock
    * point stays serveable, so `GRAFT VACUUM ... RETAIN n HOURS` keeps
    * the window's time travel intact — Hudi's own
    * KEEP_LATEST_BY_HOURS cleaning policy.
    */
  def clean(spark: SparkSession, tablePath: String,
      retainInstants: Int,
      olderThanMillis: Long = Long.MaxValue): CleanResult = {
    require(retainInstants >= 1, "must retain at least one instant")
    val active = HudiTimeline.listInstants(tablePath)
    require(active.nonEmpty, s"no Hudi timeline at $tablePath")
    if (active.size <= retainInstants)
      return CleanResult(0L, 0L, active.head)
    val countHorizon = active.takeRight(retainInstants).head
    val horizon =
      if (olderThanMillis == Long.MaxValue) countHorizon
      else {
        val cutoff = HudiTimeline.InstantFormat
          .format(java.time.Instant.ofEpochMilli(olderThanMillis))
        val timeHorizon = active.find(_ >= cutoff).getOrElse(countHorizon)
        if (timeHorizon < countHorizon) timeHorizon else countHorizon
      }
    if (active.head >= horizon)
      return CleanResult(0L, 0L, horizon)
    val head = active.last

    val src = new HudiConversionSource(spark, tablePath, "cleaner")
    val liveBase = src.liveStats(head)
      .map { case (_, s, _) => PathUtils.resolve(tablePath, s.path) }.toSet
    val liveLogs = src.liveLogFiles(head).map(_._1).toSet
    val live = liveBase ++ liveLogs

    val dead = src.allWrites()
      .filter { case (instant, _) => instant < horizon }
      .map { case (_, s) =>
        (PathUtils.resolve(tablePath, s.path), s.fileSizeInBytes) }
      .filterNot { case (p, _) => live.contains(p) }
      .distinct

    if (dead.isEmpty) return CleanResult(0L, 0L, horizon)

    // distributed delete (tiny here, bounded everywhere)
    val bconf = HadoopConfs.broadcastSession(spark)
    import spark.implicits._
    val sums = graft.util.Par.ds(spark, dead, 32)
      .mapPartitions { it =>
        val store = new TableStore(bconf.value.value)
        var n = 0L; var b = 0L
        it.foreach { case (p, size) =>
          if (store.delete(p)) { n += 1; b += size }
        }
        Iterator.single((n, b))
      }.collect()

    // record the clean on the timeline (graft-JSON body; readers fold
    // file groups from commit/deltacommit/replacecommit only and skip
    // unknown actions, so this is purely informational — like Hudi's own
    // HoodieCleanMetadata is to query engines)
    val instant = HudiTimeline.newInstant(tablePath)
    val body = Jsons.toJson(Map(
      "earliestCommitToRetain" -> horizon,
      "totalFilesDeleted" -> sums.map(_._1).sum,
      "deletedFiles" -> dead.map(_._1).sorted))
    TableStore(spark).putIfAbsent(
      s"${HudiTimeline.hoodieDir(tablePath)}/$instant.clean",
      body.getBytes(StandardCharsets.UTF_8))

    // tombstone the physically deleted files in .hoodie/metadata — the
    // files partition tracks filesystem state, so clean is the one
    // operation that REMOVES entries
    if (HudiMetadataTable.exists(tablePath))
      HudiMetadataTable.maintain(spark, tablePath,
        HudiTimeline.tableName(tablePath).getOrElse("table"), instant,
        Left(dead.toIndexedSeq.map { case (p, _) =>
          val rel = PathUtils.relativize(tablePath, p)
          val cut = rel.lastIndexOf('/')
          (if (cut < 0) "" else rel.substring(0, cut),
            if (cut < 0) rel else rel.substring(cut + 1), 0L, true)
        }))

    CleanResult(sums.map(_._1).sum, sums.map(_._2).sum, horizon)
  }

  case class RestoreResult(rolledBack: Seq[String], deletedFiles: Long)

  /** RESTORE to `instant` (Hudi's savepoint/restore semantics): every
    * LATER instant is rolled back — its commit leaves the timeline and
    * the files it wrote are physically deleted, so replay serves exactly
    * the state at `instant`. Only files the table OWNS (under its base
    * path) are deleted: a conversion target's write stats reference the
    * SOURCE's files, which a restore must never touch. A `.restore`
    * marker instant records what was rolled back (informational, like
    * clean — readers fold commit kinds only).
    *
    * Deletes run distributed; the driver holds only the rolled-back
    * instants' write-stat lists (O(files per rolled-back commit)).
    */
  def restoreTo(spark: SparkSession, tablePath: String, instant: String)
      : RestoreResult = {
    val all = HudiTimeline.listInstants(tablePath)
    require(all.contains(instant),
      s"no completed instant $instant on the timeline at $tablePath " +
        s"(have: ${all.mkString(", ")})")
    val later = all.filter(_ > instant)
    if (later.isEmpty) return RestoreResult(Nil, 0L)

    val canon = PathUtils.canonical(tablePath).stripSuffix("/") + "/"
    val owned = later.flatMap { i =>
      HudiTimeline.readCommit(tablePath, i)
        .partitionToWriteStats.values.flatten
        .map(ws => PathUtils.resolve(tablePath, ws.path))
    }.distinct.filter(p => PathUtils.canonical(p).startsWith(canon))

    val bconf = HadoopConfs.broadcastSession(spark)
    import spark.implicits._
    val deleted =
      if (owned.isEmpty) 0L
      else graft.util.Par.ds(spark, owned, 32)
        .mapPartitions { it =>
          val store = new TableStore(bconf.value.value)
          var n = 0L
          it.foreach(p => if (store.delete(p)) n += 1)
          Iterator.single(n)
        }.collect().sum

    later.foreach(HudiTimeline.deleteInstant(tablePath, _))
    // a restore rewrites history; rather than model rollback in the
    // metadata table, drop it — readers degrade to file listing, which
    // is always correct
    HudiMetadataTable.drop(tablePath)
    val marker = HudiTimeline.newInstant(tablePath)
    TableStore(spark).putIfAbsent(
      s"${HudiTimeline.hoodieDir(tablePath)}/$marker.restore",
      Jsons.toJson(Map(
        "restoredTo" -> instant,
        "rolledBackInstants" -> later,
        "totalFilesDeleted" -> deleted)).getBytes(StandardCharsets.UTF_8))
    RestoreResult(later, deleted)
  }
}

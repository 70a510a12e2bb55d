package graft.sync

import graft.model._
import graft.plans.Placement
import graft.spi._

/** The per-target sync protocol — reference TableFormatSync.java:153-188,
  * fixed call order: beginSync → syncMetadata → syncSchema →
  * syncPartitionSpec → syncFiles → completeSync.
  */
object TableFormatSync {

  /** Guard: file-level sync cannot represent row-level deletes, so a
    * DV'd entry flowing into any target is refused. One decode step, run
    * where the files are (over driver rows, or fused into the Dataset with
    * no extra Spark action); the failure is rethrown — not folded into an
    * ERROR outcome — because silently propagating a file with
    * logically-deleted rows is the wrong-answer class the reference guards
    * against (DeltaConversionSource.java:104-174).
    */
  private def refuseDvs(context: String)(it: Iterator[FileEntry])
      : Iterator[FileEntry] =
    it.map { f =>
      f.deletionVector.foreach { dv =>
        throw new DeletionVectorsUnsupported(
          s"$context: file ${f.path} carries a live deletion vector " +
            s"(${dv.cardinality} deleted row(s)) — file-level metadata " +
            "sync would propagate logically-deleted rows to every " +
            "target; compact/rewrite the source table (purge DVs) first")
      }
      f
    }

  private def isDvRefusal(e: Throwable): Boolean = {
    var t = e
    while (t != null) {
      if (t.isInstanceOf[DeletionVectorsUnsupported]) return true
      t = t.getCause
    }
    false
  }

  /** `expectBase`: CAS pin for read-modify-write callers (compaction,
    * clustering, ALTER TABLE) — the target commit fails loudly if another
    * writer advanced the table past the commit the caller planned against
    * (see [[graft.spi.ConversionTarget.expectBaseCommit]]).
    */
  def syncSnapshot(targets: Seq[ConversionTarget], snapshot: TableSnapshot,
      sourceFormat: String, expectBase: Option[String] = None)
      : Seq[SyncOutcome] =
    targets.map { target =>
      val t0 = System.currentTimeMillis()
      try {
        val meta = SyncMetadata(snapshot.commitId, snapshot.pendingCommits,
          sourceFormat, snapshot.table.basePath)
        target.beginSync(snapshot.table)
        expectBase.foreach(target.expectBaseCommit)
        target.syncMetadata(meta)
        target.syncSchema(snapshot.table.schema)
        target.syncPartitionSpec(snapshot.table.partitionFields)
        target.syncFilesForSnapshot(snapshot.files.mapPartitions(
          refuseDvs(s"snapshot sync ${snapshot.commitId}"))(
          snapshot.files.encoder))
        target.completeSync()
        SyncOutcome(target.targetFormat, SyncMode.Full, "SUCCESS",
          snapshot.commitId, System.currentTimeMillis() - t0)
      } catch {
        case e: Exception if isDvRefusal(e) => throw e
        case e: Exception =>
          SyncOutcome(target.targetFormat, SyncMode.Full, "ERROR",
            snapshot.commitId, System.currentTimeMillis() - t0,
            Some(e.toString))
      }
    }

  /** Incremental path: one pass over the change iterator, applied to every
    * target in lock-step; targets whose metadata already covers a change
    * skip it (reference TableFormatSync.java:99-151).
    */
  def syncChanges(targetsWithMeta: Seq[(ConversionTarget, Option[SyncMetadata])],
      changes: Iterator[TableChange], sourceFormat: String,
      pendingCommits: Seq[String]): Seq[SyncOutcome] = {
    val t0 = System.currentTimeMillis()
    var outcomes = targetsWithMeta.map { case (t, m) =>
      t -> (m.map(_.lastInstantSynced), Option.empty[String])
    }.toMap
    var lastApplied = Map.empty[ConversionTarget, String]

    for (change <- changes) {
      for ((target, meta) <- targetsWithMeta) {
        val (lastSynced, err) = outcomes(target)
        val applicable = err.isEmpty &&
          lastSynced.forall(ls => isBefore(ls, change.commitId))
        if (applicable) {
          try {
            val syncMeta = SyncMetadata(change.commitId, pendingCommits,
              sourceFormat, change.tableAsOfChange.basePath)
            target.beginSync(change.tableAsOfChange)
            target.syncMetadata(syncMeta)
            target.syncSchema(change.tableAsOfChange.schema)
            target.syncPartitionSpec(change.tableAsOfChange.partitionFields)
            target.syncFilesForDiff(change.diff.copy(added =
              Placement.mapRows(change.diff.added)(
                refuseDvs(s"incremental sync ${change.commitId}"))(
                org.apache.spark.sql.Encoders.product[FileEntry])))
            target.completeSync()
            lastApplied += target -> change.commitId
            outcomes += target -> (Some(change.commitId), None)
          } catch {
            case e: Exception if isDvRefusal(e) => throw e
            case e: Exception =>
              outcomes += target -> (lastSynced, Some(e.toString))
          }
        }
      }
    }
    targetsWithMeta.map { case (target, meta) =>
      val (last, err) = outcomes(target)
      SyncOutcome(target.targetFormat, SyncMode.Incremental,
        if (err.isEmpty) "SUCCESS" else "ERROR",
        last.getOrElse(meta.map(_.lastInstantSynced).getOrElse("")),
        System.currentTimeMillis() - t0, err)
    }
  }

  /** Commit ids order numerically when both are numeric, else lexically
    * (all built-in sources use numeric ids: Delta version, parquet mtime,
    * Hudi instant yyyyMMddHHmmssSSS, Iceberg sequence number).
    */
  def isBefore(a: String, b: String): Boolean =
    if (a.forall(_.isDigit) && b.forall(_.isDigit))
      (try BigInt(a) < BigInt(b) catch { case _: Exception => a < b })
    else a < b
}

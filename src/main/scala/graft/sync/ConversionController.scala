package graft.sync

import graft.model._
import graft.spi._

/** Orchestrator — reference ConversionController.sync:99-222: read each
  * target's last-sync metadata, partition targets into incremental vs
  * snapshot (incremental iff the source says replay is safe from the
  * target's last instant), run both paths, merge results.
  */
class ConversionController {

  def sync(source: ConversionSource, targets: Seq[ConversionTarget],
      mode: String = SyncMode.Incremental): Seq[SyncOutcome] = {
    if (mode == SyncMode.Full) return fullSync(source, targets)

    val withMeta = targets.map(t => t -> t.tableMetadata())
    // targets at the same instant share one answer from the source
    val safeFrom = scala.collection.mutable.Map.empty[String, Boolean]
    val (incremental, full) = withMeta.partition { case (_, meta) =>
      meta.exists(m => incrementalSufficient(source, m, earliest =>
        safeFrom.getOrElseUpdate(earliest,
          source.isIncrementalSyncSafeFrom(earliest))))
    }
    val fullOutcomes =
      if (full.isEmpty) Nil
      else fullSync(source, full.map(_._1))
    val incOutcomes =
      if (incremental.isEmpty) Nil
      else {
        // most-out-of-sync commit across targets
        // (reference getMostOutOfSyncCommitAndPendingCommits:354-387)
        val lastInstants = incremental.flatMap(_._2).map(_.lastInstantSynced)
        val earliest = lastInstants.minBy(identity)(
          Ordering.fromLessThan(TableFormatSync.isBefore))
        val pendingFromMeta = incremental.flatMap(_._2)
          .flatMap(_.pendingCommits).distinct
          .sortWith(TableFormatSync.isBefore)
        val backlog = (source.commitsBacklog(earliest) ++ pendingFromMeta)
          .distinct.sortWith(TableFormatSync.isBefore)
        val changes = backlog.iterator.map(source.changeForCommit)
        TableFormatSync.syncChanges(incremental, changes,
          source.sourceFormat, Nil)
      }
    fullOutcomes ++ incOutcomes
  }

  private def fullSync(source: ConversionSource,
      targets: Seq[ConversionTarget]): Seq[SyncOutcome] =
    TableFormatSync.syncSnapshot(targets, source.currentSnapshot(),
      source.sourceFormat)

  /** Reference isIncrementalSyncSufficient (ConversionController.java:326-352):
    * a target can sync incrementally iff it has sync metadata from the same
    * source and the source can safely replay from the earliest relevant
    * instant (including pending commits).
    */
  private def incrementalSufficient(source: ConversionSource,
      meta: SyncMetadata, safeFrom: String => Boolean): Boolean = {
    if (meta.sourceFormat.nonEmpty && meta.sourceFormat != source.sourceFormat)
      return false
    safeFrom((meta.lastInstantSynced +: meta.pendingCommits)
      .minBy(identity)(Ordering.fromLessThan(TableFormatSync.isBefore)))
  }
}

package graft.formats.hudi

import java.util.UUID

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.model.FilesDelta

/** Exactly-once Structured-Streaming sink into a graft-managed Hudi COW
  * table — the Hudi twin of [[graft.formats.delta.DeltaStreamSink]] and
  * [[graft.formats.iceberg.IcebergStreamSink]]: every micro-batch commit
  * stamps `graft.txn.<appId> = batchId` into the commit's extraMetadata
  * (the channel Hudi itself uses for checkpoint bookkeeping,
  * `HoodieStreamingSink`'s `_checkpoint` key), and a replayed batch is
  * detected by `batchId <= last recorded` and skipped. The commit rides
  * [[HudiConversionTarget]]'s streamed commit path, so write stats are
  * authored executor-side and the metadata index is maintained.
  *
  * CAS: two racing writers that compute the same next instant collide on
  * the put-if-absent commit file; the loser retries with a fresh instant
  * AFTER re-checking the replay stamp — a zombie replay that lost its
  * race to the real writer aborts instead of landing twice.
  */
object HudiStreamSink {

  private def txnKey(appId: String) = s"graft.txn.$appId"

  /** Last committed batch id for `appId`, from commit extraMetadata
    * (newest instant wins). Uses the streaming extra-metadata read —
    * never materializes a 10^6-entry write-stat tree to check a stamp.
    */
  def lastTxnVersion(spark: SparkSession, tablePath: String,
      appId: String): Option[Long] = {
    val key = txnKey(appId)
    HudiTimeline.listInstants(tablePath).reverseIterator
      .flatMap(i => HudiTimeline.readCommitExtraMetadata(tablePath, i)
        .get(key))
      .nextOption().map(_.toLong)
  }

  val MaxCommitRetries = 5

  // Hudi's timeline is append-only — no table-level CAS, so the
  // stamp-check + commit critical section serializes under
  // [[HudiLock]] (Hudi's FileSystemBasedLockProvider pattern)

  /** Append one micro-batch idempotently; false = already committed
    * (replay after a restart), nothing written. The table must exist
    * (sync or create it first) — the sink appends under the table's
    * existing schema and partition spec.
    */
  def appendBatch(spark: SparkSession, tablePath: String, batch: DataFrame,
      appId: String, batchId: Long): Boolean = {
    require(HudiTimeline.listInstants(tablePath).nonEmpty,
      s"no Hudi timeline at $tablePath — the streaming sink appends to " +
        "an existing table (sync or create it first)")
    if (lastTxnVersion(spark, tablePath, appId).exists(batchId <= _))
      return false
    // schema + partition spec resolve from commit EXTRA METADATA only
    // (streamed reads that skip the write-stat arrays): a per-batch
    // full-timeline parse would cost O(total files ever written) at
    // every micro-batch on a big table
    val src = new HudiConversionSource(spark, tablePath, "stream-sink")
    val instants = HudiTimeline.listInstants(tablePath)
    val extras = instants.map(i => HudiTimeline.CommitMeta(i, "commit",
      Map.empty, Map.empty,
      HudiTimeline.readCommitExtraMetadata(tablePath, i)))
    val spec = src.specFromTimeline(extras)
    val table = graft.model.TableDescriptor("stream-sink",
      graft.model.TableFormats.Hudi,
      graft.util.PathUtils.canonical(tablePath),
      src.schemaFromTimeline(extras), spec,
      if (spec.nonEmpty) graft.model.Layout.HivePartitioned
      else graft.model.Layout.Flat,
      instants.lastOption.map(_.toLong).getOrElse(0L))
    val partCols = table.partitionFields.map(_.partitionColumnName)
    // data files written ONCE; a commit-CAS retry re-authors only the
    // cheap commit metadata, never the parquet bytes. Partition columns
    // may live OUTSIDE the logical schema (hive layout) — the batch must
    // carry them, and partitionBy routes them into the path, not the file
    val needed = (table.schema.fieldNames.toSeq ++ partCols).distinct
    val missing = needed.toSet -- batch.columns.toSet
    require(missing.isEmpty,
      s"streaming batch lacks table/partition columns: $missing")
    val dataDir = s"$tablePath/data/stream-${UUID.randomUUID()}"
    val projected = batch.select(needed
      .map(org.apache.spark.sql.functions.col): _*)
    if (partCols.isEmpty) projected.write.parquet(dataDir)
    else projected.write.partitionBy(partCols: _*).parquet(dataDir)
    val conf = graft.util.HadoopConfs.session(spark)
    val added = graft.sources.ParquetFooters.fileEntries(spark, dataDir,
      graft.sources.ParquetFooters.listFiles(dataDir, conf))

    // the stamp-check + commit critical section runs under the lock:
    // without a table-level CAS, a concurrent replay of this batch on a
    // DIFFERENT instant would otherwise land alongside ours
    HudiLock.withLock(tablePath, s"txn-$appId") {
      if (lastTxnVersion(spark, tablePath, appId).exists(batchId <= _))
        return false
      var attempt = 0
      while (true) {
        try {
          val tgt = new HudiConversionTarget(spark, tablePath)
          tgt.beginSync(table)
          tgt.syncSchema(table.schema)
          tgt.syncPartitionSpec(table.partitionFields)
          tgt.stampCommit(txnKey(appId) -> batchId.toString)
          tgt.syncFilesForDiff(FilesDelta(Right(added), Left(Vector.empty)))
          tgt.completeSync()
          return true
        } catch {
          case e: IllegalStateException
              if e.getMessage.contains("concurrent writer") =>
            // an instant collision with a NON-sink writer (syncs don't
            // take this lock): retry on a fresh instant
            attempt += 1
            if (attempt > MaxCommitRetries) throw e
        }
      }
      true
    }
  }

  /** Wire a streaming DataFrame into the sink: `foreachBatch` with the
    * idempotent append; the checkpoint dir gives batch ids their
    * stable-replay meaning.
    */
  def writeStream(df: DataFrame, tablePath: String, checkpointDir: String,
      appId: String): DataStreamWriter[Row] =
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendBatch(batch.sparkSession, tablePath, batch, appId, batchId)
        ()
      }
}

package graft.formats.paimon

import java.util.UUID

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.model.FilesDelta
import graft.util.PathUtils

/** Exactly-once Structured-Streaming sink into a graft-managed Paimon
  * table, using Paimon's OWN exactly-once convention: every snapshot a
  * sink writer commits carries (`commitUser`, `commitIdentifier`) — the
  * writer's id and its checkpoint/batch id — and a replayed identifier
  * is skipped (what Paimon's Flink sink does on checkpoint restore).
  * The commit rides [[PaimonConversionTarget]]'s streamed manifest
  * authoring.
  *
  * CAS: two racing writers compute the same next snapshot id and the
  * put-if-absent snapshot publish lets exactly one win; the loser
  * retries AFTER re-checking the replay stamp, so a zombie replay of
  * the same batch aborts instead of landing twice.
  */
object PaimonStreamSink {

  /** Last committed batch id for `appId`, newest snapshot wins. */
  def lastTxnVersion(spark: SparkSession, tablePath: String,
      appId: String): Option[Long] =
    PaimonFormat.listSnapshotIds(tablePath).reverseIterator
      .map(id => PaimonFormat.readSnapshot(tablePath, id))
      .collectFirst {
        case s if s.commitUser.contains(appId) && s.commitIdentifier.isDefined =>
          s.commitIdentifier.get
      }

  val MaxCommitRetries = 5

  /** Append one micro-batch idempotently; false = already committed
    * (replay after a restart), nothing written. The table must exist.
    */
  def appendBatch(spark: SparkSession, tablePath: String, batch: DataFrame,
      appId: String, batchId: Long): Boolean = {
    require(PaimonFormat.latestSnapshotId(tablePath).isDefined,
      s"no Paimon table at $tablePath — the streaming sink appends to " +
        "an existing table (sync or create it first)")
    if (lastTxnVersion(spark, tablePath, appId).exists(batchId <= _))
      return false
    val src = new PaimonConversionSource(spark, tablePath,
      PathUtils.canonical(tablePath).stripSuffix("/").split('/').last)
    val table = src.currentTable()
    val partCols = table.partitionFields.map(_.partitionColumnName)
    // data files written ONCE; a snapshot-CAS retry re-authors only the
    // cheap manifests, never the parquet bytes. Partition columns may
    // live OUTSIDE the logical schema (hive layout) — the batch must
    // carry them, and partitionBy routes them into the path
    val needed = (table.schema.fieldNames.toSeq ++ partCols).distinct
    val missing = needed.toSet -- batch.columns.toSet
    require(missing.isEmpty,
      s"streaming batch lacks table/partition columns: $missing")
    val dataDir = s"${PathUtils.canonical(tablePath)}/data" +
      s"/stream-${UUID.randomUUID()}"
    val projected = batch.select(needed
      .map(org.apache.spark.sql.functions.col): _*)
    if (partCols.isEmpty) projected.write.parquet(dataDir)
    else projected.write.partitionBy(partCols: _*).parquet(dataDir)
    val conf = graft.util.HadoopConfs.session(spark)
    val added = graft.sources.ParquetFooters.fileEntries(spark, dataDir,
      graft.sources.ParquetFooters.listFiles(dataDir, conf))

    var attempt = 0
    while (true) {
      try {
        val tgt = new PaimonConversionTarget(spark, tablePath)
        tgt.beginSync(table)
        tgt.syncSchema(table.schema)
        tgt.syncPartitionSpec(table.partitionFields)
        tgt.stampCommit(appId, batchId)
        tgt.syncFilesForDiff(FilesDelta(Right(added), Left(Vector.empty)))
        tgt.completeSync()
        return true
      } catch {
        case e: IllegalStateException
            if e.getMessage.contains("concurrent writer") =>
          attempt += 1
          // exactly-once recheck BEFORE re-landing (see class doc)
          if (lastTxnVersion(spark, tablePath, appId).exists(batchId <= _))
            return false
          if (attempt > MaxCommitRetries) throw e
      }
    }
    true
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

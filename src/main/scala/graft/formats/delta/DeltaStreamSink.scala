package graft.formats.delta

import java.util.UUID

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.{DataType, StructType}

import graft.util.{HadoopConfs, Jsons, PathUtils}

/** Exactly-once Structured-Streaming sink into a graft-managed Delta
  * table — delta-spark's idempotent-writer pattern: every micro-batch
  * commit carries a `txn` action `{appId, version = batchId}`, and a
  * replayed batch (restart between commit and checkpoint advance) is
  * detected by `batchId <= last committed txn version` and skipped, so
  * each batch's rows land EXACTLY once no matter how often the stream
  * retries.
  *
  * Scale shape: the batch writes as a plain distributed parquet write,
  * the `add` lines come from a distributed footer scan (real column
  * stats) and stream to the commit writer in bounded batches; the only
  * driver state is the log state (one [[DeltaSnapshot.state]] read). The
  * commit CAS-es on the observed head version, so a concurrent writer
  * makes the stream fail loudly instead of clobbering.
  */
object DeltaStreamSink {

  /** Last committed `txn` version for `appId` (PROTOCOL.md §Transaction
    * Identifiers: latest txn per appId wins; checkpoints carry it).
    */
  def lastTxnVersion(spark: SparkSession, tablePath: String,
      appId: String): Option[Long] =
    DeltaSnapshot.state(spark, tablePath, DeltaLog.listVersions(tablePath,
      HadoopConfs.session(spark))).txns.get(appId)

  /** Append one micro-batch idempotently; false = already committed
    * (replay after a restart), nothing written.
    */
  def appendBatch(spark: SparkSession, tablePath: String, batch: DataFrame,
      appId: String, batchId: Long): Boolean = {
    val conf = HadoopConfs.session(spark)
    val versions = DeltaLog.listVersions(tablePath, conf)
    val head = versions.lastOption
    val st = DeltaSnapshot.state(spark, tablePath, versions)
    if (st.txns.get(appId).exists(batchId <= _)) return false

    val schema = batch.schema
    DeltaSnapshot.requireWritable(tablePath, st)
    val meta = st.metaData
    meta.foreach { m =>
      require(m.partitionColumns.isEmpty,
        "streaming sink writes unpartitioned tables (route partitioned " +
          "streams through foreachBatch + the sync path)")
      require(DeltaWrite.sameSchema(m.schema, schema),
        s"micro-batch schema does not match the table's:\n  batch: " +
          s"${schema.simpleString}\n  table: ${m.schema.simpleString}")
      DeltaConstraints.enforce(batch, m, "STREAMING UPDATE")
    }
    // column-mapped tables store PHYSICAL names in the files and key
    // stats by them — rename on the way out (see DeltaColumnMapping)
    val tableSchema = meta.map(_.schema).getOrElse(schema)
    val mapped = DeltaColumnMapping.isMapped(tableSchema)
    val out = DeltaColumnMapping.renameToPhysical(batch, tableSchema)

    val tp = PathUtils.canonical(tablePath)
    val dataDir = s"$tp/stream-${UUID.randomUUID()}"
    out.write.parquet(dataDir)
    val listed = graft.sources.ParquetFooters.listFiles(dataDir, conf)
    val schemaJson =
      if (mapped) DeltaColumnMapping.physicalSchema(tableSchema).json
      else schema.json
    // row tracking: stamp fresh base ids + advance the high-water mark
    // in this commit, as DeltaWrite does (PROTOCOL.md §Row Tracking)
    val rt = DeltaRowTracking.isSupported(st)
    import batch.sparkSession.implicits._
    val adds = graft.sources.ParquetFooters
      .fileEntries(spark, dataDir, listed)
      .mapPartitions { it =>
        val sch = DataType.fromJson(schemaJson).asInstanceOf[StructType]
        it.map { fe =>
          val line = Jsons.toJson(Map("add" -> Map(
            "path" -> PathUtils.toDeltaUri(PathUtils.relativize(tp, fe.path)),
            "partitionValues" -> Map.empty,
            "size" -> fe.fileSizeBytes,
            "modificationTime" -> fe.lastModifiedMillis,
            "dataChange" -> true,
            "stats" -> DeltaStats.toJson(sch, fe.recordCount,
              fe.columnStats))))
          if (rt) s"${fe.recordCount}\t$line" else line
        }
      }
    val now = System.currentTimeMillis()
    val header: Iterator[String] = (head match {
      case None => Iterator(
        // first batch creates the table
        Jsons.toJson(Map("protocol" ->
          Map("minReaderVersion" -> 1, "minWriterVersion" -> 2))),
        Jsons.toJson(Map("metaData" -> Map(
          "id" -> UUID.randomUUID().toString,
          "format" -> Map("provider" -> "parquet", "options" -> Map.empty),
          "schemaString" -> schemaJson,
          "partitionColumns" -> Nil,
          "configuration" -> Map.empty,
          "createdTime" -> now))))
      case Some(_) => Iterator.empty
    }) ++ Iterator(
      Jsons.toJson(Map("txn" -> Map(
        "appId" -> appId, "version" -> batchId, "lastUpdated" -> now))),
      Jsons.toJson(Map("commitInfo" -> Map(
        "timestamp" -> now, "operation" -> "STREAMING UPDATE",
        "operationParameters" -> Map("epochId" -> batchId.toString)))))

    val version = head.map(_ + 1).getOrElse(0L)
    val addLines = graft.util.StreamedLines.iterate(adds)
    val lines = header ++ (if (!rt) addLines
      else DeltaRowTracking.stampFreshIds(
        DeltaRowTracking.countedLines(addLines),
        DeltaRowTracking.highWaterMark(st) + 1, version))
    if (head.isEmpty || rt) {
      // table creation (batch 0): strict CAS — losing it means another
      // writer created the table, and re-deriving the metaData header
      // against it is a different operation. Row-id-assigning commits
      // CAS strictly too: a re-landed commit would reuse stale ids. A
      // lost race that landed this same batch is a replay, not an error.
      if (DeltaLog.writeCommit(tablePath, version, lines)) true
      else if (lastTxnVersion(spark, tablePath, appId).exists(batchId <= _))
        false
      else throw new IllegalStateException(
        s"concurrent writer committed version $version first at " +
          s"$tablePath — streaming sink cannot continue safely")
    } else
      // appends ride the conflict retry WITH the exactly-once guard:
      // a concurrent/zombie replay of this same batch that wins the
      // race is detected between attempts and skipped (None), while an
      // unrelated disjoint commit just re-lands us at the new head
      DeltaConflicts.commitWithRetryTxn(spark, tablePath, version, lines,
        appId, batchId).isDefined
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

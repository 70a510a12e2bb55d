package graft.sources

import org.apache.spark.sql.{DataFrame, SQLContext, SaveMode}
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, RelationProvider, StreamSinkProvider, StreamSourceProvider}

import graft.model.TableSnapshot
import graft.plans.SnapshotFileIndex

/** `spark.read.format("graft").load(path)` — one reader for every table
  * format this engine understands. The format is detected from the
  * directory layout (Delta log / Iceberg metadata / Hudi timeline / Paimon
  * snapshots / plain parquet) and the scan is driven by
  * [[graft.plans.SnapshotFileIndex]], so partition pruning and stats
  * skipping come from the metadata plane, not path listing.
  *
  * Options:
  *  - `versionAsOf` (Delta version / Iceberg sequence number / Hudi
  *    instant / Paimon snapshot id) and `timestampAsOf` (epoch millis or
  *    ISO date/datetime) — time travel to a historical snapshot on all
  *    four versioned formats.
  *  - `readChangeFeed=true` with `startingVersion` (exclusive) and
  *    optionally `endingVersion` (inclusive, default head): the
  *    row-level change feed instead of the table rows — the delta-spark
  *    CDF read surface, answered by [[graft.formats.delta.DeltaChanges]]
  *    (CDC sidecars when present, touched-file reconstruction
  *    otherwise) or [[graft.formats.iceberg.IcebergChanges]].
  *
  * Registered as a Spark `DataSourceRegister` (shortName "graft") so
  * `USING graft` also works in catalog DDL.
  */
class GraftDataSource extends RelationProvider
  with CreatableRelationProvider with StreamSourceProvider
  with StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "graft"

  /** `spark.readStream.format("graft").load(path)` — the table's commit
    * stream as a Structured Streaming source
    * ([[graft.streaming.GraftStreamSource]]): initial snapshot, then the
    * rows inserted per commit, offsets = the table's own versions.
    */
  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[org.apache.spark.sql.types.StructType],
      providerName: String,
      parameters: Map[String, String]): (String,
        org.apache.spark.sql.types.StructType) =
    (shortName(), schema.getOrElse {
      val path = graft.util.PathUtils.canonical(
        parameters.getOrElse("path", throw new IllegalArgumentException(
          "graft streaming source needs a path")))
      graft.streaming.GraftStreamSource.tableSchema(
        sqlContext.sparkSession, path,
        cdfMode = parameters.collectFirst {
          case (k, v) if k.equalsIgnoreCase("readChangeFeed") => v.toBoolean
        }.getOrElse(false))
    })

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[org.apache.spark.sql.types.StructType],
      providerName: String, parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source =
    graft.streaming.GraftStreamSource.fromOptions(
      sqlContext.sparkSession, parameters, schema, Some(metadataPath))

  /** `df.writeStream.format("graft").option("tableFormat", ...)` — the
    * exactly-once micro-batch sinks behind one format string. Every
    * batch lands through the per-format txn-stamped append (replays
    * skipped); `appId` defaults to the engine's streaming query id
    * (checkpoint-stable), so one query = one idempotence ledger.
    */
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    require(outputMode == org.apache.spark.sql.streaming.OutputMode.Append(),
      s"graft streaming sinks are append-only (got $outputMode)")
    require(partitionColumns.isEmpty,
      "partitionBy on the graft stream sink is not supported — " +
        "pre-partition the table via a batch write, then append")
    def opt(k: String) = parameters.collectFirst {
      case (pk, v) if pk.equalsIgnoreCase(k) => v
    }
    val path = graft.util.PathUtils.canonical(parameters.getOrElse("path",
      throw new IllegalArgumentException("graft stream sink needs a path")))
    val detected = CatalogConversionSource.detectFormat(path)
    val requested = opt("tableFormat").map(_.toUpperCase)
    val fmt =
      if (detected != graft.model.TableFormats.Parquet) {
        requested.filter(_ != detected).foreach(r =>
          throw new IllegalArgumentException(
            s"table at $path is $detected; tableFormat=$r disagrees"))
        detected
      } else requested.getOrElse(graft.model.TableFormats.Delta)
    val explicitAppId = opt("appId")
    val spark = sqlContext.sparkSession
    new org.apache.spark.sql.execution.streaming.Sink {
      // idempotence-ledger identity: the engine's streaming QUERY id
      // (stable across restarts — persisted in the checkpoint's metadata
      // file, the same derivation delta-spark's DeltaSink uses). A
      // checkpoint-location hash would collide two queries sharing a
      // table whenever the location rides the session conf (absent from
      // the options map) — their interleaved (appId, batchId) entries
      // would make real batches look like replays and silently drop them.
      private def queryAppId: String = explicitAppId.getOrElse {
        val qid = spark.sparkContext.getLocalProperty(
          org.apache.spark.sql.execution.streaming.runtime.StreamExecution
            .QUERY_ID_KEY)
        require(qid != null,
          "graft stream sink: no streaming query id on this thread — " +
            "pass an explicit appId option when driving addBatch directly")
        s"graft-$qid"
      }
      // Pre-r11 sinks keyed the ledger on a checkpoint-location hash; a
      // checkpointed query upgrading across that change gets a fresh
      // (query-id) identity, so the engine's post-restart replay of the
      // last batch would no longer be recognized as committed and would
      // land twice. One-time migration guard: the first batch this sink
      // instance sees also probes the LEGACY appId's ledger entry.
      private val legacyAppId = "graft-" + Integer.toHexString(
        opt("checkpointLocation").getOrElse(path).hashCode)
      private var legacyChecked = false
      private def legacyReplay(batchId: Long): Boolean = {
        if (legacyChecked || explicitAppId.isDefined) return false
        legacyChecked = true
        val last = fmt match {
          case graft.model.TableFormats.Delta =>
            graft.formats.delta.DeltaStreamSink
              .lastTxnVersion(spark, path, legacyAppId)
          case graft.model.TableFormats.Iceberg =>
            graft.formats.iceberg.IcebergStreamSink
              .lastTxnVersion(spark, path, legacyAppId)
          case graft.model.TableFormats.Hudi =>
            graft.formats.hudi.HudiStreamSink
              .lastTxnVersion(spark, path, legacyAppId)
          case graft.model.TableFormats.Paimon =>
            graft.formats.paimon.PaimonStreamSink
              .lastTxnVersion(spark, path, legacyAppId)
        }
        last.exists(batchId <= _)
      }
      override def addBatch(batchId: Long, data: DataFrame): Unit = {
        if (legacyReplay(batchId)) return
        val appId = queryAppId
        val batch = org.apache.spark.sql.GraftShims.asBatch(data)
        fmt match {
          case graft.model.TableFormats.Delta =>
            graft.formats.delta.DeltaStreamSink
              .appendBatch(spark, path, batch, appId, batchId)
          case graft.model.TableFormats.Iceberg =>
            graft.formats.iceberg.IcebergStreamSink
              .appendBatch(spark, path, batch, appId, batchId)
          case graft.model.TableFormats.Hudi =>
            graft.formats.hudi.HudiStreamSink
              .appendBatch(spark, path, batch, appId, batchId)
          case graft.model.TableFormats.Paimon =>
            graft.formats.paimon.PaimonStreamSink
              .appendBatch(spark, path, batch, appId, batchId)
        }
      }
      override def toString: String = s"GraftSink[$fmt, $path]"
    }
  }

  /** `df.write.format("graft").mode(...).save(path)` — lands the rows in
    * a graft-managed Delta table (created on first write; hive partition
    * columns via `.partitionBy(...)`). Append and Overwrite carry the
    * full write discipline ([[graft.formats.delta.DeltaWrite]]: schema
    * check, constraints, distributed footer stats, streamed CAS'd
    * commit); ErrorIfExists/Ignore follow their SaveMode contracts.
    */
  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val path = graft.util.PathUtils.canonical(
      parameters.getOrElse("path", throw new IllegalArgumentException(
        "graft datasource needs a path")))
    val spark = sqlContext.sparkSession
    // an existing table pins the format; otherwise `tableFormat` selects
    // it (default delta — the richest write discipline)
    val detected = CatalogConversionSource.detectFormat(path)
    val exists = detected != graft.model.TableFormats.Parquet
    val requested = parameters.get("tableFormat").map(_.toUpperCase)
    val fmt =
      if (exists) {
        requested.filter(_ != detected).foreach(r =>
          throw new IllegalArgumentException(
            s"table at $path is $detected; tableFormat=$r disagrees"))
        detected
      } else requested.getOrElse(graft.model.TableFormats.Delta)
    mode match {
      case SaveMode.ErrorIfExists if exists =>
        throw new IllegalArgumentException(
          s"table already exists at $path (SaveMode.ErrorIfExists)")
      case SaveMode.Ignore if exists => ()
      case m =>
        // partitionBy columns arrive JSON-encoded under this v1 key
        val parts = parameters.get("__partition_columns").toSeq.flatMap {
          js =>
            import scala.jdk.CollectionConverters._
            graft.util.Jsons.mapper.readTree(js)
              .elements().asScala.map(_.asText).toSeq
        }
        if (fmt == graft.model.TableFormats.Delta)
          graft.formats.delta.DeltaWrite.write(spark, path, data,
            overwrite = m == SaveMode.Overwrite, partitionCols = parts)
        else
          GraftBatchWrite.write(spark, path, data, fmt,
            overwrite = m == SaveMode.Overwrite, partitionCols = parts)
    }
    // schema-only relation: the V1 save() contract wants a BaseRelation
    // back but never scans it — building the full read relation here
    // would re-read the metadata AND throw the live-DV read refusal
    // AFTER a perfectly good append committed
    val sql = sqlContext
    val written = data.schema
    new BaseRelation {
      override def sqlContext: SQLContext = sql
      override def schema: org.apache.spark.sql.types.StructType = written
    }
  }

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    // table resolution: an explicit path, or BY NAME through an Iceberg
    // REST catalog (`option("restCatalog", uri).option("table", "ns.t")`)
    // — the CatalogConversionSource contract over the wire client
    val path = parameters.get("path") match {
      case Some(p) => graft.util.PathUtils.canonical(p)
      case None =>
        val uri = parameters.getOrElse("restCatalog",
          throw new IllegalArgumentException(
            "graft datasource needs a path, or restCatalog + table " +
              "options to resolve one by name"))
        val fq = parameters.getOrElse("table",
          throw new IllegalArgumentException(
            "restCatalog reads need option(\"table\", \"<ns>.<table>\")"))
        graft.catalog.IcebergRestCatalogClient.resolveLocation(uri, fq)
    }
    val spark = sqlContext.sparkSession
    val name = parameters.get("table").map(_.split('.').last).getOrElse(
      path.stripSuffix("/").split('/').last)
    // option-combination validation: every combination either serves or
    // refuses with a reason — an option that would otherwise be silently
    // ignored (e.g. startingVersion without readChangeFeed, versionAsOf
    // on a metadata table) is a refusal, never a silent no-op
    locally {
      val cdf = parameters.get("readChangeFeed").exists(_.toBoolean)
      val travel = Seq("versionAsOf", "timestampAsOf", "branch")
        .filter(parameters.contains)
      if (!cdf)
        Seq("startingVersion", "endingVersion").filter(parameters.contains)
          .foreach(k => throw new IllegalArgumentException(
            s"option $k only applies to change-feed reads — pass " +
              "readChangeFeed=true (or drop it)"))
      if (parameters.contains("tableFormat"))
        throw new IllegalArgumentException(
          "tableFormat is a WRITE option (it selects the format a new " +
            "table is created in); reads auto-detect the format — drop it")
      if (cdf && travel.nonEmpty)
        throw new IllegalArgumentException(
          s"readChangeFeed and ${travel.mkString("/")} are mutually " +
            "exclusive — the feed is itself a version range")
      if (parameters.contains("metaTable") && (cdf || travel.nonEmpty))
        throw new IllegalArgumentException(
          s"metaTable reads the metadata plane at the CURRENT snapshot; " +
            s"combining it with ${(travel ++
              (if (cdf) Seq("readChangeFeed") else Nil)).mkString("/")} " +
            "is not supported")
      if (parameters.get("withRowLineage").exists(_.toBoolean) &&
          (cdf || travel.nonEmpty || parameters.contains("metaTable")))
        throw new IllegalArgumentException(
          "withRowLineage serves the CURRENT snapshot's resolved row " +
            "lineage; combining it with change-feed/time-travel/" +
            "metaTable options is not supported")
    }
    val source = CatalogConversionSource.fromPath(spark, path, name)
    // v3 ROW LINEAGE surfaced to readers: `_row_id` and
    // `_last_updated_sequence_number` resolved per the spec inheritance
    // rule (materialized value wins, null inherits from the entry's
    // first_row_id + position / the file's data sequence)
    if (parameters.get("withRowLineage").exists(_.toBoolean)) {
      val df = source match {
        case _: graft.formats.iceberg.IcebergConversionSource =>
          val v = graft.formats.iceberg.IcebergMetadata
            .currentVersion(path).get
          val m = graft.formats.iceberg.IcebergMetadata.read(path, v)
          if (m.formatVersion < 3) throw new IllegalArgumentException(
            s"withRowLineage needs an Iceberg format-version 3 table " +
              s"(this one is v${m.formatVersion}) — upgrade first " +
              "(GRAFT ALTER TABLE ... SET TBLPROPERTIES " +
              "('format-version'='3'))")
          graft.formats.iceberg.IcebergRowLineage
            .keyedScanWithLineage(spark, path, m, m.headSequence, name)
            .drop("__scan_path", "__scan_pos")
            .withColumnRenamed("__row_id",
              graft.formats.iceberg.IcebergRowLineage.RowIdCol)
            .withColumnRenamed("__last_seq",
              graft.formats.iceberg.IcebergRowLineage.LastUpdatedCol)
        // Delta row tracking (PROTOCOL.md §Row Tracking): `_row_id` and
        // `_row_commit_version` via coalesce(materialized, default) —
        // the Delta sibling of Iceberg v3 lineage
        case _: graft.formats.delta.DeltaConversionSource =>
          graft.formats.delta.DeltaRowTracking.withRowLineage(spark, path)
        case other => throw new IllegalArgumentException(
          "withRowLineage needs an Iceberg v3 table or a Delta table " +
            s"with the rowTracking feature; this is a " +
            s"${other.sourceFormat} table")
      }
      val sql = sqlContext
      return new BaseRelation with org.apache.spark.sql.sources.TableScan {
        override def sqlContext: SQLContext = sql
        override def schema: org.apache.spark.sql.types.StructType =
          df.schema
        override def buildScan(): org.apache.spark.rdd.RDD[
          org.apache.spark.sql.Row] = df.rdd
      }
    }
    // metadata tables (the `table$files` idiom): the metadata plane as a
    // queryable DataFrame — the files listing stays the DISTRIBUTED
    // Dataset it already is (10^7 files never touch the driver);
    // history/partitions derive from it or from the (small) commit log
    parameters.get("metaTable").foreach { which =>
      val df = GraftMetaTables.of(spark, source, path, which)
      val sql = sqlContext
      return new BaseRelation with org.apache.spark.sql.sources.TableScan {
        override def sqlContext: SQLContext = sql
        override def schema: org.apache.spark.sql.types.StructType =
          df.schema
        override def buildScan(): org.apache.spark.rdd.RDD[
          org.apache.spark.sql.Row] = df.rdd
      }
    }
    if (parameters.get("readChangeFeed").exists(_.toBoolean)) {
      val fromRaw = parameters.getOrElse("startingVersion",
        throw new IllegalArgumentException(
          "readChangeFeed needs startingVersion (exclusive)"))
      def from = fromRaw.toLong
      val feed = source match {
        case _: graft.formats.delta.DeltaConversionSource =>
          val to = parameters.get("endingVersion").map(_.toLong).getOrElse(
            graft.formats.delta.DeltaLog.latestVersion(path,
              graft.util.HadoopConfs.session(spark)).getOrElse(0L))
          graft.formats.delta.DeltaChanges.changesBetween(spark, path,
            from, to)
        // Hudi versions are instant STRINGS; the incremental query serves
        // rows added in (startingVersion, endingVersion]
        case _: graft.formats.hudi.HudiConversionSource =>
          val to = parameters.get("endingVersion").getOrElse(
            graft.formats.hudi.HudiTimeline.listInstants(path)
              .lastOption.getOrElse("0"))
          graft.formats.hudi.HudiChanges.incrementalRead(spark, path,
            fromRaw, to)
        case _: graft.formats.iceberg.IcebergConversionSource =>
          val to = parameters.get("endingVersion").map(_.toLong).getOrElse {
            val v = graft.formats.iceberg.IcebergMetadata
              .currentVersion(path).get
            graft.formats.iceberg.IcebergMetadata.read(path, v)
              .headSequence
          }
          graft.formats.iceberg.IcebergChanges.changesBetween(spark, path,
            from, to)
        case _: graft.formats.paimon.PaimonConversionSource =>
          val to = parameters.get("endingVersion").map(_.toLong).getOrElse(
            graft.formats.paimon.PaimonFormat.latestSnapshotId(path)
              .getOrElse(0L))
          graft.formats.paimon.PaimonChanges.changesBetween(spark, path,
            from, to)
        case other => throw new IllegalArgumentException(
          s"readChangeFeed needs a versioned metadata plane (Delta, " +
            s"Iceberg, Hudi or Paimon); this is a ${other.sourceFormat} table")
      }
      val sql = sqlContext
      return new BaseRelation with org.apache.spark.sql.sources.TableScan {
        override def sqlContext: SQLContext = sql
        override def schema: org.apache.spark.sql.types.StructType =
          feed.schema
        override def buildScan(): org.apache.spark.rdd.RDD[
          org.apache.spark.sql.Row] = feed.rdd
      }
    }
    // timestampAsOf (epoch millis or any ISO date/datetime): resolve to
    // the newest commit at-or-before the instant — Delta by commit-file
    // modification time (delta-spark's rule), Iceberg by snapshot
    // timestamp-ms — then reuse the version path.
    val tsResolved: Option[String] = parameters.get("timestampAsOf").map {
      raw =>
        require(!parameters.contains("versionAsOf"),
          "timestampAsOf and versionAsOf are mutually exclusive")
        val ts = GraftDataSource.parseInstantMillis(raw)
        source match {
          case _: graft.formats.delta.DeltaConversionSource =>
            val conf = graft.util.HadoopConfs.session(spark)
            val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
            val at = graft.formats.delta.DeltaLog.listVersions(path, conf)
              .filter { v =>
                fs.getFileStatus(new org.apache.hadoop.fs.Path(
                  graft.formats.delta.DeltaLog.versionFile(path, v)))
                  .getModificationTime <= ts
              }
            require(at.nonEmpty,
              s"no Delta commit at or before timestamp $raw at $path")
            at.last.toString
          case _: graft.formats.iceberg.IcebergConversionSource =>
            val v = graft.formats.iceberg.IcebergMetadata
              .currentVersion(path).get
            val m = graft.formats.iceberg.IcebergMetadata.read(path, v)
            val at = m.snapshots.filter(_.timestampMs <= ts)
            require(at.nonEmpty,
              s"no Iceberg snapshot at or before timestamp $raw at $path")
            at.maxBy(_.timestampMs).sequenceNumber.toString
          // Hudi instants ARE UTC timestamps (yyyyMMddHHmmssSSS): format
          // the cut point and take the newest instant at or before it
          case _: graft.formats.hudi.HudiConversionSource =>
            val cut = graft.formats.hudi.HudiTimeline.InstantFormat
              .format(java.time.Instant.ofEpochMilli(ts))
            val at = graft.formats.hudi.HudiTimeline.listInstants(path)
              .filter(_ <= cut)
            require(at.nonEmpty,
              s"no Hudi instant at or before timestamp $raw at $path")
            at.last
          case _: graft.formats.paimon.PaimonConversionSource =>
            val head = graft.formats.paimon.PaimonFormat
              .latestSnapshotId(path).get
            val at = (1L to head)
              .filter(id => graft.formats.paimon.PaimonFormat
                .readSnapshot(path, id).timeMillis <= ts)
            require(at.nonEmpty,
              s"no Paimon snapshot at or before timestamp $raw at $path")
            at.max.toString
          case other => throw new IllegalArgumentException(
            s"timestampAsOf needs a versioned metadata plane; this is a " +
              s"${other.sourceFormat} table")
        }
    }
    val snap: TableSnapshot = (parameters.get("versionAsOf")
        .orElse(tsResolved), parameters.get("branch")) match {
      case (Some(_), Some(_)) => throw new IllegalArgumentException(
        "versionAsOf/timestampAsOf and branch are mutually exclusive")
      case (Some(v), None) => source match {
        case d: graft.formats.delta.DeltaConversionSource =>
          d.snapshotAt(v.toLong)
        case i: graft.formats.iceberg.IcebergConversionSource =>
          i.snapshotAt(v.toLong)
        // Hudi versions are instant strings (also what tsResolved yields)
        case h: graft.formats.hudi.HudiConversionSource =>
          h.snapshotAt(v)
        case p: graft.formats.paimon.PaimonConversionSource =>
          p.snapshotAt(v.toLong)
        case other => throw new IllegalArgumentException(
          s"versionAsOf needs a versioned metadata plane (Delta version, " +
            s"Iceberg sequence number, Hudi instant or Paimon snapshot " +
            s"id); this is a ${other.sourceFormat} table")
      }
      // named snapshot ref (Iceberg branches/tags via spec v2 `refs`;
      // Paimon tags via the <table>/tag snapshot copies)
      case (None, Some(name)) => source match {
        case i: graft.formats.iceberg.IcebergConversionSource =>
          val v = graft.formats.iceberg.IcebergMetadata
            .currentVersion(path).get
          val m = graft.formats.iceberg.IcebergMetadata.read(path, v)
          i.snapshotAt(graft.formats.iceberg.IcebergRefs.resolve(m, name))
        case p: graft.formats.paimon.PaimonConversionSource =>
          val id = graft.formats.paimon.PaimonFormat.readTag(path, name)
            .getOrElse(throw new IllegalArgumentException(
              s"no Paimon tag '$name' at $path"))
          p.snapshotAt(id)
        case other => throw new IllegalArgumentException(
          s"branch reads need Iceberg snapshot refs or Paimon tags; " +
            s"this is a ${other.sourceFormat} table")
      }
      case (None, None) => source.currentSnapshot()
    }
    if (graft.formats.delta.DeltaColumnMapping.isMapped(snap.table.schema))
      throw new IllegalArgumentException(
        "column-mapped tables need the logical rename pass — read them " +
          "via DeltaConversionSource.toDataFrame")
    // A live deletion vector means rows inside still-live files are
    // logically deleted; a 1:1 file scan would serve them back (phantom
    // rows). The DataFrame path masks DV positions; this relation path
    // cannot, so refuse loudly (same pattern as the Hudi MOR real-time
    // refusal). Reference: DeltaConversionSource.java:104-174.
    locally {
      val dv = snap.listing.summary
      if (dv.dvFiles > 0)
        throw new graft.model.DeletionVectorsUnsupported(
          s"table at $path has ${dv.dvFiles} live file(s) carrying deletion " +
            s"vectors (${dv.dvRows} deleted row(s)); format(\"graft\") maps " +
            "files 1:1 and would return deleted rows — read via " +
            "DeltaConversionSource.toDataFrame, which masks DV positions")
    }
    // RENAMED Iceberg columns (graft.renamedFrom): pre-rename files
    // spell the column under its old name, which only the DataFrame
    // path's per-file shadow-coalesce (DeltaRead) can serve — a 1:1
    // file relation would silently null them. Routed through that path
    // wrapped as a TableScan relation (the CDF relation's pattern);
    // renames are metadata-plane-rare, so the lost scan pushdown is
    // confined to renamed tables.
    if (snap.table.schema.fields.exists(_.metadata.contains(
        graft.formats.iceberg.IcebergRenames.RenamedFromKey))) {
      val df = graft.formats.delta.DeltaRead.toDataFrame(spark, snap)
      return new org.apache.spark.sql.sources.BaseRelation
          with org.apache.spark.sql.sources.TableScan {
        override def sqlContext: org.apache.spark.sql.SQLContext =
          spark.sqlContext
        override def schema: org.apache.spark.sql.types.StructType =
          df.schema
        override def buildScan(): org.apache.spark.rdd.RDD[
          org.apache.spark.sql.Row] = df.rdd
      }
    }
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val index = new SnapshotFileIndex(cs, snap)
    HadoopFsRelation(index, index.partitionSchema, index.dataSchema,
      None, graft.formats.delta.DeltaRead.scanFileFormat(snap),
      Map.empty)(cs)
  }
}

object GraftDataSource {
  /** `timestampAsOf` accepts epoch millis or an ISO date / datetime
    * (interpreted in UTC when zone-less) — the forms delta-spark and
    * Iceberg SQL accept.
    */
  private[sources] def parseInstantMillis(raw: String): Long = {
    val t = raw.trim
    if (t.forall(_.isDigit)) t.toLong
    else {
      import java.time._
      import scala.util.Try
      Try(Instant.parse(t).toEpochMilli)
        .orElse(Try(LocalDateTime.parse(t.replace(' ', 'T'))
          .toInstant(ZoneOffset.UTC).toEpochMilli))
        .orElse(Try(LocalDate.parse(t).atStartOfDay()
          .toInstant(ZoneOffset.UTC).toEpochMilli))
        .getOrElse(throw new IllegalArgumentException(
          s"cannot parse timestampAsOf value '$raw' — use epoch millis, " +
            "an ISO date (2024-01-01) or datetime (2024-01-01T12:00:00)"))
    }
  }
}

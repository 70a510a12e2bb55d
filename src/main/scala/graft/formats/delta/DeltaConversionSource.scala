package graft.formats.delta

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model._
import graft.spi.ConversionSource
import graft.util.Jsons

/** Delta source — reference DeltaConversionSource.java:63-239: snapshot from
  * log replay, per-version diffs, backlog by version number.
  */
class DeltaConversionSource(spark: SparkSession, tablePath: String,
    tableName: String)
  extends ConversionSource {

  private val conf = graft.util.HadoopConfs.session(spark)
  override def sourceFormat: String = TableFormats.Delta

  /** The raw log path, for change-feed internals ([[DeltaChanges]]). */
  private[delta] def tablePathForChanges: String = tablePath

  private def versions: Seq[Long] = DeltaLog.listVersions(tablePath, conf)

  /** metaData memo keyed by the exact version list it was read from —
    * commit files are immutable once published, so re-reading the same
    * version set always yields the same metaData; within one operation
    * (snapshot + change feed + commit) this collapses 2-4 identical
    * distributed log reads into one. The version list itself is ALWAYS
    * re-listed from the filesystem (long-lived polling sources see new
    * commits; only the parse of a fixed set is memoized).
    */
  private val metaMemo =
    scala.collection.mutable.Map.empty[Seq[Long], DeltaMeta]

  // reader-feature gate, once per version set (PROTOCOL.md §Reader
  // Requirements): every read path funnels through metadataAt, so an
  // unimplemented reader feature refuses BEFORE any row is served
  private val gateChecked =
    scala.collection.mutable.Set.empty[Seq[Long]]

  private[delta] def metadataAt(vs: Seq[Long]): DeltaMeta = {
    if (!gateChecked.synchronized(gateChecked.contains(vs))) {
      DeltaSnapshot.requireReadable(spark, tablePath, vs)
      gateChecked.synchronized {
        if (gateChecked.size > 64) gateChecked.clear()
        gateChecked.add(vs)
      }
    }
    metaMemo.synchronized { metaMemo.get(vs) }.getOrElse {
      val m = DeltaSnapshot.metadata(spark, tablePath, vs).getOrElse(
        throw new IllegalStateException(
          s"no Delta metaData action at $tablePath"))
      metaMemo.synchronized {
        if (metaMemo.size > 64) metaMemo.clear()
        metaMemo.put(vs, m)
      }
      m
    }
  }

  /** The table's current metaData (memoized per version set). */
  private[delta] def currentMeta(): DeltaMeta = metadataAt(versions)

  private def metaOrFail(vs: Seq[Long]): DeltaMeta = metadataAt(vs)

  private def partitionSpecOf(meta: DeltaMeta): Seq[PartitionFieldSpec] =
    meta.configuration.get("graft.partitionSpec").map { json =>
      import scala.jdk.CollectionConverters._
      Jsons.mapper.readTree(json).elements().asScala.map { n =>
        PartitionFieldSpec(
          n.get("sourceField").asText,
          n.get("transform").asText,
          Option(n.get("format")).filterNot(_.isNull).map(_.asText),
          Option(n.get("numBuckets")).filterNot(_.isNull).map(_.asInt))
      }.toSeq
    }.getOrElse(
      // recover transforms from generated-column expressions (reference
      // DeltaPartitionExtractor.convertFromDeltaPartitionFormat:105)
      DeltaPartitions.specsFromSchema(meta.schema, meta.partitionColumns))

  override def currentTable(): TableDescriptor = {
    val vs = versions
    val meta = metaOrFail(vs)
    // generated partition columns are physical-layout artifacts, excluded
    // from the logical schema (reference DeltaSchemaExtractor.java:128-134)
    val logicalSchema = org.apache.spark.sql.types.StructType(
      meta.schema.fields.filterNot(_.metadata.contains(
        DeltaPartitions.GenerationExpressionKey)))
    TableDescriptor(tableName, TableFormats.Delta,
      graft.util.PathUtils.canonical(tablePath), logicalSchema,
      partitionSpecOf(meta),
      if (meta.partitionColumns.nonEmpty) Layout.HivePartitioned else Layout.Flat,
      vs.lastOption.getOrElse(0L))
  }

  private def snapshotOf(vs: Seq[Long], table: graft.model.TableDescriptor,
      schema: org.apache.spark.sql.types.StructType,
      commitId: String): TableSnapshot =
    graft.plans.SnapshotFileIndex.snapshot(spark, table, commitId,
      DeltaSnapshot.listing(spark, tablePath, vs, schema))

  override def currentSnapshot(): TableSnapshot = {
    val vs = versions
    val table = currentTable()
    snapshotOf(vs, table, table.schema, vs.lastOption.getOrElse(0L).toString)
  }

  /** Time travel: table state as of a historical version (reference
    * ITConversionController time-travel equivalence :454-506).
    */
  def snapshotAt(version: Long): TableSnapshot = {
    val vs = versions.filter(_ <= version)
    require(vs.nonEmpty, s"no commits at or before version $version")
    val meta = metadataAt(vs)
    val table = currentTable().copy(
      schemaJson = meta.schema.json, latestCommitMillis = vs.last)
    snapshotOf(vs, table, meta.schema, vs.last.toString)
  }

  override def changeForCommit(commit: String): TableChange = {
    val v = commit.toLong
    val table = currentTable().copy(latestCommitMillis = v)
    val (adds, removes) = DeltaSnapshot.changes(spark, tablePath, v, table.schema)
    TableChange(commit, table, FilesDelta(adds, removes))
  }

  override def commitsBacklog(lastSynced: String): Seq[String] = {
    val since = lastSynced.toLong
    versions.filter(_ > since).map(_.toString)
  }

  /** Safe iff every version after the sync point is still in the log (no
    * log cleanup gap) — reference vacuum-safety DeltaConversionSource.java:191-204.
    */
  override def isIncrementalSyncSafeFrom(commit: String): Boolean = {
    val since = commit.toLong
    val vs = versions
    vs.contains(since) || vs.headOption.contains(since + 1)
  }

  /** Read the table's rows (zero-copy: the parquet files themselves),
    * preserving hive partition columns via basePath inference when the
    * physical layout is partitioned.
    */
  def toDataFrame: DataFrame = DeltaRead.toDataFrame(spark, currentSnapshot())
}

/** Turn any snapshot's live-file listing into a DataFrame scan, under the
  * snapshot's own schema (so schema evolution applies: files written before
  * a column was added read it as null — the reference's add-column
  * equivalence test, ITConversionController.java:454-506 region).
  *
  * The scan is driven by [[graft.plans.SnapshotFileIndex]]: the listing
  * stays a Dataset, partition pruning and stat-based file skipping run
  * distributed, and the driver only ever holds the query's matching files —
  * never a million-path list in the plan.
  */
object DeltaRead {

  /** Deletion-vector summary of a snapshot's live set: files with a DV,
    * total deleted rows, and the estimated in-memory size of the anti-join
    * build side (each deleted position carries its file's full path string
    * plus a long). Runs on the shared persisted listing.
    */
  final case class DvSummary(files: Long, rows: Long, joinKeyBytes: Long)

  def liveDvSummary(snap: TableSnapshot): DvSummary = {
    val s = graft.plans.SnapshotFileIndex.summaryFor(snap)
    DvSummary(s.dvFiles, s.dvRows, s.dvKeyBytes)
  }

  /** Broadcast the deleted-position set only while its estimated footprint
    * stays modest; above that the anti-join shuffles both sides (still
    * correct, never memory-bound). Gated on bytes, not row count: 4M
    * positions under 100-byte paths is already a ~0.5 GB broadcast.
    */
  private val BroadcastDvBytes = 64L * 1024 * 1024

  /** Mask deletion-vector'd positions out of a snapshot scan. The deleted
    * set is produced executor-side (one task per DV'd file reads its
    * bitmap) and anti-joined on (file, row_index) via the parquet reader's
    * `_metadata` column — no driver-side materialization of positions.
    */
  private def applyDeletionVectors(spark: SparkSession, snap: TableSnapshot,
      df: DataFrame, keepKeys: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def withKeys(d: DataFrame): DataFrame = d
      .withColumn("__scan_path",
        graft.util.PathCols.scanPath(col("_metadata.file_path")))
      .withColumn("__scan_pos", col("_metadata.row_index"))
    val summary = liveDvSummary(snap)
    if (summary.files == 0L) return if (keepKeys) withKeys(df) else df
    val tablePath = snap.table.basePath
    // executor tasks open DV files through the session's Hadoop settings
    // (object-store credentials, endpoints) — never a default Configuration
    val bconf = graft.util.HadoopConfs.broadcastSession(spark)
    val deleted = graft.plans.SnapshotFileIndex.listingFor(snap)
      .filter(col("deletionVector").isNotNull)
      .flatMap { f =>
        DeletionVectors.deletedPositions(bconf.value.value, tablePath,
          f.deletionVector.get).map(pos => (f.path, pos))
      }.toDF("__dv_path", "__dv_pos")
    // `_metadata.file_path` is URI-encoded (with or without a scheme):
    // scheme-strip AND %-decode so the key matches the listing side's
    // PathUtils.canonical form (space / percent in partition dirs)
    val keyed = withKeys(df)
    val right =
      if (summary.joinKeyBytes <= BroadcastDvBytes) broadcast(deleted)
      else deleted
    val masked = keyed.join(right,
      keyed("__scan_path") === right("__dv_path") &&
        keyed("__scan_pos") === right("__dv_pos"), "left_anti")
    if (keepKeys) masked else masked.drop("__scan_path", "__scan_pos")
  }

  def toDataFrame(spark: SparkSession, snap: TableSnapshot): DataFrame =
    toDataFrameImpl(spark, snap, keepKeys = false)

  /** [[toDataFrame]] plus each live row's (file, position) key —
    * `__scan_path` (canonical path) and `__scan_pos` (row index) — for
    * row-level write operations ([[DeltaDeletes.deleteWhere]]).
    */
  def toKeyedDataFrame(spark: SparkSession, snap: TableSnapshot): DataFrame =
    toDataFrameImpl(spark, snap, keepKeys = true)

  /** The scan's FileFormat, chosen by the LISTING's format labels: all
    * parquet → ParquetFileFormat, all orc → OrcFileFormat (reference
    * models both — FileFormat.java:27-29). A mixed table refuses loudly:
    * one HadoopFsRelation reads one format, and silently misreading is
    * the wrong-answer class.
    */
  private[graft] def scanFileFormat(snap: TableSnapshot)
      : org.apache.spark.sql.execution.datasources.FileFormat = {
    graft.plans.SnapshotFileIndex.summaryFor(snap).formats match {
      case Seq() | Seq("parquet") =>
        new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
      case Seq("orc") =>
        new org.apache.spark.sql.execution.datasources.orc.OrcFileFormat
      case Seq("avro") => throw new UnsupportedOperationException(
        "avro data files are a row format with no in-core Spark " +
          "FileFormat — read them via the conversion source's " +
          "toDataFrame (avro-core record scan), not a file relation")
      case mixed => throw new UnsupportedOperationException(
        s"snapshot mixes data-file formats ${mixed.mkString(",")} — one " +
          "scan serves one format; compact/rewrite the table first")
    }
  }

  private def listingFormats(snap: TableSnapshot): Seq[String] =
    graft.plans.SnapshotFileIndex.summaryFor(snap).formats

  /** Record-level scan for all-avro snapshots: one executor task per
    * slice of the listing decodes its files via avro-core, hive
    * partition values appended from the metadata plane (typed by the
    * table schema). No column pruning or stats pushdown — avro is a row
    * format, the same trade Spark's own avro reader makes.
    */
  private def avroScan(spark: SparkSession, snap: TableSnapshot,
      keepKeys: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    require(liveDvSummary(snap).files == 0L,
      "deletion vectors on an avro-file table are unsupported")
    val schema = snap.table.schema
    val partCols = snap.table.partitionFields.map(_.partitionColumnName)
    val dataSchema = StructType(
      schema.fields.filterNot(f => partCols.contains(f.name)))
    val dataJson = dataSchema.json
    val bconf = graft.util.HadoopConfs.broadcastSession(spark)
    val listing = graft.plans.SnapshotFileIndex.listingFor(snap)
    val pc = partCols
    val rdd = listing.rdd.flatMap { fe =>
      val sch = org.apache.spark.sql.types.DataType.fromJson(dataJson)
        .asInstanceOf[StructType]
      val pv = fe.partitionValues.map(p => p.field -> p.value).toMap
      val partVals: Seq[Any] = pc.map(c => pv.getOrElse(c, null))
      val canon = graft.util.PathUtils.canonical(fe.path)
      graft.sources.AvroFiles.readRows(fe.path, bconf.value.value, sch)
        .zipWithIndex.map { case (r, i) =>
          org.apache.spark.sql.Row.fromSeq(
            r.toSeq ++ partVals ++
              (if (keepKeys) Seq(canon, i.toLong) else Nil))
        }
    }
    val rawSchema = StructType(
      dataSchema.fields ++ pc.map(StructField(_, StringType)) ++
        (if (keepKeys)
          Seq(StructField("__scan_path", StringType),
            StructField("__scan_pos", LongType))
        else Nil))
    // one select types the partition strings and restores schema order
    spark.createDataFrame(rdd, rawSchema)
      .select(schema.fields.toSeq.map(f =>
        col(f.name).cast(f.dataType).as(f.name)) ++
        (if (keepKeys) Seq(col("__scan_path"), col("__scan_pos"))
         else Nil): _*)
  }

  private def toDataFrameImpl(spark: SparkSession, snap: TableSnapshot,
      keepKeys: Boolean): DataFrame = {
    import org.apache.spark.sql.execution.datasources.HadoopFsRelation
    import org.apache.spark.sql.functions.col
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val schema = snap.table.schema
    val partCols = snap.table.partitionFields.map(_.partitionColumnName).toSet
    if (listingFormats(snap) == Seq("avro"))
      return avroScan(spark, snap, keepKeys)
    // column-mapped tables: the parquet files spell data columns by their
    // PHYSICAL names — scan under those, then rename back to logical.
    // Partition columns come from the metadata plane (already logical).
    val mapped = DeltaColumnMapping.isMapped(schema)
    // Iceberg RENAMEs (graft.renamedFrom, planted by IcebergRenames):
    // pre-rename files spell the column under its old name, so the scan
    // schema gains one SHADOW column per historical name (current type —
    // the parquet reader up-casts promoted files) and the projection
    // coalesces current-then-shadows: each file stores exactly one of
    // the names, the rest read null, and stored nulls stay null because
    // the stored name's column serves them as stored.
    val renamed: Seq[(String, Seq[String])] =
      if (mapped) Nil
      else schema.fields.toSeq
        .filterNot(f => partCols.contains(f.name))
        .map(f => f.name ->
          graft.formats.iceberg.IcebergRenames.renamedFrom(f))
        .filter(_._2.nonEmpty)
    val renamedMap = renamed.toMap
    val scanSnap =
      if (mapped) {
        val readSchema = org.apache.spark.sql.types.StructType(
          schema.fields.map { f =>
            if (partCols.contains(f.name)) f
            else f.copy(name = DeltaColumnMapping.physicalName(f),
              dataType = DeltaColumnMapping.physicalType(f.dataType))
          })
        snap.copy(table = snap.table.copy(schemaJson = readSchema.json))
      } else if (renamed.nonEmpty) {
        val byName = schema.fields.map(f => f.name -> f).toMap
        val shadowFields = renamed.flatMap { case (cur, olds) =>
          olds.map(o => org.apache.spark.sql.types.StructField(
            o, byName(cur).dataType, nullable = true))
        }
        snap.copy(table = snap.table.copy(schemaJson =
          org.apache.spark.sql.types.StructType(
            schema.fields.toSeq ++ shadowFields).json))
      } else snap
    val index = new graft.plans.SnapshotFileIndex(cs, scanSnap)
    val relation = HadoopFsRelation(index, index.partitionSchema,
      index.dataSchema, None, scanFileFormat(scanSnap), Map.empty)(cs)
    val df = cs.baseRelationToDataFrame(relation)
    val masked = applyDeletionVectors(spark, scanSnap, df, keepKeys)
    if (mapped)
      masked.select(schema.fields.toSeq.map { f =>
        if (partCols.contains(f.name)) col(f.name)
        // positional struct cast renames nested physical fields back to
        // their logical names at every level in one expression
        else col(DeltaColumnMapping.physicalName(f)).cast(f.dataType).as(f.name)
      } ++ (if (keepKeys) Seq(col("__scan_path"), col("__scan_pos"))
            else Nil): _*)
    else if (renamed.isEmpty) masked
    else masked.select(schema.fields.toSeq.map { f =>
      renamedMap.get(f.name) match {
        case Some(olds) =>
          org.apache.spark.sql.functions
            .coalesce((f.name +: olds).map(col): _*)
            .as(f.name, f.metadata)
        case None => col(f.name)
      }
    } ++ (if (keepKeys) Seq(col("__scan_path"), col("__scan_pos"))
          else Nil): _*)
  }
}

package graft.formats.delta

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model._
import graft.spi.ConversionSource
import graft.util.Jsons

/** Delta source — reference DeltaConversionSource.java:63-239: snapshot from
  * log replay, per-version diffs, backlog by version number. Table state
  * (protocol, metaData, domains, txns) comes from [[DeltaSnapshot.state]]:
  * the first read decodes the newest checkpoint plus the JSON after it,
  * as the reference gets it from delta-spark's snapshot, and the source
  * holds each state it read by head version ([[stateAt]]). A source that
  * outlives one commit — a sync controller's, [[graft.sync.ContinuousSync]]'s
  * — reads a later head by folding only the new commits' JSON into the
  * greatest state it holds below it.
  */
class DeltaConversionSource(spark: SparkSession, tablePath: String,
    tableName: String)
  extends ConversionSource {

  private val conf = graft.util.HadoopConfs.session(spark)
  private val fs = new org.apache.hadoop.fs.Path(tablePath).getFileSystem(conf)
  override def sourceFormat: String = TableFormats.Delta

  /** The raw log path, for change-feed internals ([[DeltaChanges]]). */
  private[delta] def tablePathForChanges: String = tablePath

  private def versions: Seq[Long] = DeltaLog.listVersions(tablePath, conf)

  /** A log state read at a head version, with the [[stamp]] its version
    * file had when it was read.
    */
  private case class Held(state: DeltaSnapshot.DeltaLogState,
      stamp: (Long, Long))

  /** The states read so far, by head version (at most 64; the lowest
    * head goes first). Commit files are immutable once published, so the
    * state at head h holds while version file h keeps its stamp; a table
    * dropped and re-created at the same path changes it.
    */
  private val held = scala.collection.mutable.TreeMap.empty[Long, Held]

  /** Version file `v`'s (length, modification time), if it exists. */
  private def stamp(v: Long): Option[(Long, Long)] =
    try {
      val st = fs.getFileStatus(
        new org.apache.hadoop.fs.Path(DeltaLog.versionFile(tablePath, v)))
      Some((st.getLen, st.getModificationTime))
    } catch { case _: java.io.FileNotFoundException => None }

  /** The state at the head of `vs`: a held state at that head, else the
    * greatest held state below it with the commits after it folded in
    * ([[DeltaSnapshot.state]] decodes afresh when versions in between are
    * missing), else a full decode. The version list itself is ALWAYS
    * re-listed by the caller, so a long-lived polling source sees new
    * commits. The reader-feature gate (PROTOCOL.md §Reader Requirements)
    * runs on every result, and every read path funnels through here, so
    * an unimplemented reader feature refuses BEFORE any row is served.
    */
  private[graft] def stateAt(vs: Seq[Long]): DeltaSnapshot.DeltaLogState = {
    val head = vs.lastOption.getOrElse(-1L)
    val below = held.synchronized(held.rangeTo(head).lastOption)
    val start = below.filter { case (h, s) => stamp(h).contains(s.stamp) }
    val headStamp =
      if (vs.isEmpty || start.exists(_._1 == head)) None else stamp(head)
    val st = DeltaSnapshot.state(spark, tablePath, vs,
      start.map { case (h, s) => (h, s.state) })
    DeltaSnapshot.requireReadable(tablePath, st)
    held.synchronized {
      // a version file changed under a held state: the table was replaced
      if (below.isDefined && start.isEmpty) held.clear()
      headStamp.foreach(t => held(head) = Held(st, t))
      if (held.size > 64) held -= held.firstKey
    }
    st
  }

  /** The state a snapshot of this table was taken at. */
  private[delta] def stateOf(snap: TableSnapshot)
      : DeltaSnapshot.DeltaLogState =
    stateAt(versions.filter(_ <= snap.commitId.toLong))

  private[delta] def metadataAt(vs: Seq[Long]): DeltaMeta =
    stateAt(vs).metaData.getOrElse(throw new IllegalStateException(
      s"no Delta metaData action at $tablePath"))

  /** The table's current metaData. */
  private[delta] def currentMeta(): DeltaMeta = metadataAt(versions)

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

  override def currentTable(): TableDescriptor = tableAt(versions)

  private def tableAt(vs: Seq[Long]): TableDescriptor = {
    val meta = metadataAt(vs)
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
    val table = tableAt(vs)
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
    val (adds, removes) =
      DeltaSnapshot.placedChanges(spark, tablePath, v, table.schema)
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
  *
  * Deletion vectors are masked inside the scan (reference: DVs handled at
  * the source, DeltaConversionSource.java:104-174). Each file's descriptor
  * rides with it as the file-constant `_metadata.graft_dv`, and one filter
  * `NOT graft_dv_contains(_metadata.graft_dv, _metadata.row_index)`
  * ([[graft.plans.DvContains]]) drops its deleted positions: no join, no
  * broadcast, no extra job, and nothing listing-sized shipped, whatever
  * the DV count. Keyed scans key rows by the file-constant
  * `_metadata.graft_path` (the listing's canonical path) and the
  * file-global `_metadata.row_index`.
  */
object DeltaRead {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.col

  def toDataFrame(spark: SparkSession, snap: TableSnapshot): DataFrame =
    toDataFrameImpl(spark, snap, Nil)

  /** [[toDataFrame]] plus each live row's (file, position) key —
    * `__scan_path` (the listing's canonical path) and `__scan_pos` (its
    * file-global row index) — for row-level operations (DML, change
    * feeds, row tracking). `withDv` adds `__scan_dv`, the row's file's
    * current deletion vector ([[DeletionVectors.toScanField]] form, null
    * when none), which a DELETE folds into the file's new vector.
    */
  def toKeyedDataFrame(spark: SparkSession, snap: TableSnapshot,
      withDv: Boolean = false): DataFrame =
    toDataFrameImpl(spark, snap,
      Seq(ScanPath, ScanPos) ++ (if (withDv) Seq(ScanDv) else Nil))

  private val ScanPath = "__scan_path"
  private val ScanPos = "__scan_pos"
  private val ScanDv = "__scan_dv"

  /** A key column read from the scan's file constants and row index. */
  private def keyCol(name: String): Column = name match {
    case ScanPath => col("_metadata." + graft.plans.ListingFields.Path)
    case ScanPos => col("_metadata.row_index")
    case ScanDv => col("_metadata." + graft.plans.ListingFields.Dv)
  }

  /** The scan's FileFormat, chosen by the LISTING's format labels: all
    * parquet → ParquetFileFormat, all orc → OrcFileFormat (reference
    * models both — FileFormat.java:27-29). A mixed table refuses loudly:
    * one HadoopFsRelation reads one format, and silently misreading is
    * the wrong-answer class.
    */
  private[graft] def scanFileFormat(snap: TableSnapshot)
      : org.apache.spark.sql.execution.datasources.FileFormat = {
    snap.listing.summary.formats match {
      case Seq() | Seq("parquet") =>
        new org.apache.spark.sql.execution.datasources.parquet
          .ParquetFileFormat with graft.plans.ListingFields
      case Seq("orc") =>
        new org.apache.spark.sql.execution.datasources.orc.OrcFileFormat
          with graft.plans.ListingFields
      case Seq("avro") => throw new UnsupportedOperationException(
        "avro data files are a row format with no in-core Spark " +
          "FileFormat — read them via the conversion source's " +
          "toDataFrame (avro-core record scan), not a file relation")
      case mixed => throw new UnsupportedOperationException(
        s"snapshot mixes data-file formats ${mixed.mkString(",")} — one " +
          "scan serves one format; compact/rewrite the table first")
    }
  }

  /** Record-level scan for all-avro snapshots: one executor task per
    * slice of the listing decodes its files via avro-core, hive
    * partition values appended from the metadata plane (typed by the
    * table schema). No column pruning or stats pushdown — avro is a row
    * format, the same trade Spark's own avro reader makes.
    */
  private def avroScan(spark: SparkSession, snap: TableSnapshot,
      keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.lit
    import org.apache.spark.sql.types._
    val keepKeys = keys.nonEmpty
    require(snap.listing.summary.dvFiles == 0L,
      "deletion vectors on an avro-file table are unsupported")
    val schema = snap.table.schema
    val partCols = snap.table.partitionFields.map(_.partitionColumnName)
    val dataSchema = StructType(
      schema.fields.filterNot(f => partCols.contains(f.name)))
    val dataJson = dataSchema.json
    val bconf = graft.util.HadoopConfs.broadcastSession(spark)
    val listing = snap.listing.dataset
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
    // (no vector on an avro table: `__scan_dv` is null)
    spark.createDataFrame(rdd, rawSchema)
      .select(schema.fields.toSeq.map(f =>
        col(f.name).cast(f.dataType).as(f.name)) ++
        keys.map(k => if (k == ScanDv) lit(null).cast(StringType).as(k)
          else col(k)): _*)
  }

  private def toDataFrameImpl(spark: SparkSession, snap: TableSnapshot,
      keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.execution.datasources.HadoopFsRelation
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val schema = snap.table.schema
    val partCols = snap.table.partitionFields.map(_.partitionColumnName).toSet
    if (snap.listing.summary.formats == Seq("avro"))
      return avroScan(spark, snap, keys)
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
    val live =
      if (scanSnap.listing.summary.dvFiles == 0L) df
      else {
        import org.apache.spark.sql.GraftShims.{column, expression}
        df.filter(!column(graft.plans.DvContains(expression(keyCol(ScanDv)),
          expression(keyCol(ScanPos)))(
          graft.util.HadoopConfs.broadcastSession(spark))))
      }
    val masked = keys.foldLeft(live)((d, k) => d.withColumn(k, keyCol(k)))
    if (mapped)
      masked.select(schema.fields.toSeq.map { f =>
        if (partCols.contains(f.name)) col(f.name)
        // positional struct cast renames nested physical fields back to
        // their logical names at every level in one expression
        else col(DeltaColumnMapping.physicalName(f)).cast(f.dataType).as(f.name)
      } ++ keys.map(col): _*)
    else if (renamed.isEmpty) masked
    else masked.select(schema.fields.toSeq.map { f =>
      renamedMap.get(f.name) match {
        case Some(olds) =>
          org.apache.spark.sql.functions
            .coalesce((f.name +: olds).map(col): _*)
            .as(f.name, f.metadata)
        case None => col(f.name)
      }
    } ++ keys.map(col): _*)
  }
}

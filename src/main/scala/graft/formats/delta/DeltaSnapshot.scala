package graft.formats.delta

import scala.jdk.CollectionConverters._
import scala.util.Using

import com.fasterxml.jackson.databind.JsonNode
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

import graft.model._
import graft.plans.Placement
import graft.plans.Placement.Placed
import graft.util.{HadoopConfs, Jsons, PathUtils}

/** Table-level metadata carried in the log's `metaData` action. */
case class DeltaMeta(
    id: String,
    schemaString: String,
    partitionColumns: Seq[String],
    configuration: Map[String, String],
    createdTime: Long) {
  def schema: StructType =
    DataType.fromJson(schemaString).asInstanceOf[StructType]
}

/** Delta log replay. Commit JSON is read by [[versionLines]], on the
  * driver for a small log and with `spark.read.text` otherwise
  * ([[graft.plans.Placement]]), and reconciled per path by one winner
  * rule — the live set of a 10^6-file table never materializes on the
  * driver (the reference gets the same property by reusing delta-spark's
  * `snapshot.allFiles()` Dataset — DeltaDataFileExtractor.java).
  */
object DeltaSnapshot {

  /** One parsed action row (flat, Dataset-encodable). `hasDeletionVector`
    * marks adds carrying a deletionVector descriptor (row-level deletes);
    * the `dv*` fields carry the descriptor itself (empty storage type =
    * none) so the read path can mask deleted positions.
    */
  case class ActionRow(
      version: Long,
      kind: String,                  // add | remove
      path: String,                  // absolute canonical
      size: Long,
      modificationTime: Long,
      partitionValues: Map[String, String],
      stats: String,
      hasDeletionVector: Boolean = false,
      dvStorageType: String = "",
      dvPathOrInline: String = "",
      dvOffset: Int = 0,
      dvSizeInBytes: Int = 0,
      dvCardinality: Long = 0L,
      dataChange: Boolean = true,
      // row tracking (PROTOCOL.md §Row Tracking): fresh-row-id base and
      // the default commit version of this add — carried verbatim so
      // re-commits (DV rewrites, checkpoints) never lose assigned ids
      baseRowId: Option[Long] = None,
      defaultRowCommitVersion: Option[Long] = None) {
    def dvDescriptor: Option[DvDescriptor] =
      if (dvStorageType.isEmpty) None
      else Some(DvDescriptor(dvStorageType, dvPathOrInline, dvOffset,
        dvSizeInBytes, dvCardinality))
  }

  private[delta] def dvFields(node: JsonNode)
      : (Boolean, String, String, Int, Int, Long) =
    Option(node.get("deletionVector")).filterNot(_.isNull) match {
      case None => (false, "", "", 0, 0, 0L)
      case Some(dv) => (true,
        Option(dv.get("storageType")).map(_.asText).getOrElse(""),
        Option(dv.get("pathOrInlineDv")).map(_.asText).getOrElse(""),
        Option(dv.get("offset")).map(_.asInt).getOrElse(0),
        Option(dv.get("sizeInBytes")).map(_.asInt).getOrElse(0),
        Option(dv.get("cardinality")).map(_.asLong).getOrElse(-1L))
    }

  private[delta] def parseActions(tablePath: String)(
      lines: Iterator[(String, Long)]): Iterator[ActionRow] = {
    lines.flatMap { case (line, version) =>
      if (line.isEmpty) None
      else {
        // a corrupt line must fail NAMING the log file — a silent partial
        // replay (or a bare Jackson message) is the wrong-answer class
        val root =
          try Jsons.mapper.readTree(line)
          catch {
            case e: com.fasterxml.jackson.core.JsonProcessingException =>
              throw new IllegalStateException("corrupt Delta log entry in " +
                s"${DeltaLog.versionFile(tablePath, version)}: ${e.getMessage}",
                e)
          }
        val add = root.get("add"); val remove = root.get("remove")
        def pv(n: JsonNode): Map[String, String] =
          Option(n.get("partitionValues")).map { o =>
            o.properties().asScala
              .map(e => e.getKey -> (if (e.getValue.isNull) null
                else e.getValue.asText)).toMap
          }.getOrElse(Map.empty)
        if (add != null) {
          val (hasDv, st, pi, off, sz, card) = dvFields(add)
          Some(ActionRow(version, "add",
            PathUtils.resolve(tablePath,
              PathUtils.fromDeltaUri(add.get("path").asText)),
            Option(add.get("size")).map(_.asLong).getOrElse(0L),
            Option(add.get("modificationTime")).map(_.asLong).getOrElse(0L),
            pv(add),
            Option(add.get("stats")).map(_.asText).getOrElse(""),
            hasDv, st, pi, off, sz, card,
            Option(add.get("dataChange")).forall(_.asBoolean),
            Option(add.get("baseRowId")).filterNot(_.isNull).map(_.asLong),
            Option(add.get("defaultRowCommitVersion")).filterNot(_.isNull)
              .map(_.asLong)))
        }
        else if (remove != null) Some(ActionRow(version, "remove",
          PathUtils.resolve(tablePath,
            PathUtils.fromDeltaUri(remove.get("path").asText)),
          0L, 0L, Map.empty, "",
          remove.hasNonNull("deletionVector"),
          dataChange = Option(remove.get("dataChange")).forall(_.asBoolean)))
        else None
      }
    }
  }

  /** Every version file's lines tagged with their version, read where
    * [[Placement]] puts them: on the driver, or as one textFile scan that
    * takes each line's version from its file name. The one reader of
    * commit JSON: the live-set replay, the single-version diff, the
    * change-feed classifier and the metaData/protocol probes all decode
    * its output. `at` pins a placement for tests; `None` applies the rule.
    */
  private[graft] def versionLines(spark: SparkSession, tablePath: String,
      versions: Seq[Long], at: Option[Placement] = None)
      : Placed[(String, Long)] = {
    import spark.implicits._
    val fs = new Path(tablePath).getFileSystem(HadoopConfs.session(spark))
    def file(v: Long) = new Path(DeltaLog.versionFile(tablePath, v))
    at.getOrElse(Placement.of(versions.size,
        versions.view.map(v => Some(fs.getFileStatus(file(v)).getLen)))) match {
      case Placement.Driver => Left(versions.toIndexedSeq.flatMap { v =>
        Using.resource(fs.open(file(v))) { in =>
          scala.io.Source.fromInputStream(in, "UTF-8").getLines()
            .map((_, v)).toIndexedSeq
        }
      })
      case Placement.Tasks =>
        if (versions.isEmpty) Right(spark.emptyDataset[(String, Long)])
        else Right(spark.read.textFile(versions.map(v =>
            DeltaLog.versionFile(tablePath, v)): _*)
          .select(col("value"),
            regexp_extract(input_file_name(), "(\\d{20})\\.json", 1)
              .cast("long").as("version"))
          .as[(String, Long)])
    }
  }

  /** Add/remove actions of `versions`, parsed where they were read. */
  private[graft] def placedActions(spark: SparkSession, tablePath: String,
      versions: Seq[Long], at: Option[Placement] = None)
      : Placed[ActionRow] = {
    import spark.implicits._
    Placement.mapRows(versionLines(spark, tablePath, versions, at))(
      parseActions(tablePath))
  }

  /** All add/remove actions of `versions`. */
  def actions(spark: SparkSession, tablePath: String, versions: Seq[Long])
      : Dataset[ActionRow] = {
    import spark.implicits._
    Placement.dataset(spark, placedActions(spark, tablePath, versions))
  }

  // ---- spec-shaped checkpoint rows (PROTOCOL.md §Checkpoints): one
  // action per row under nullable struct columns — the layout real Delta
  // readers load from `_last_checkpoint`, and the layout real delta-spark
  // checkpoints arrive in.
  private[delta] case class CkptDv(storageType: String, pathOrInlineDv: String,
      offset: Int, sizeInBytes: Int, cardinality: Long)
  private[delta] case class CkptAdd(path: String,
      partitionValues: Map[String, String], size: Long,
      modificationTime: Long, dataChange: Boolean, stats: String,
      deletionVector: Option[CkptDv],
      baseRowId: Option[Long] = None,
      defaultRowCommitVersion: Option[Long] = None)
  private[delta] case class CkptFormat(provider: String,
      options: Map[String, String])
  private[delta] case class CkptMetaData(id: String, format: CkptFormat,
      schemaString: String, partitionColumns: Seq[String],
      configuration: Map[String, String], createdTime: Long)
  private[delta] case class CkptProtocol(minReaderVersion: Int,
      minWriterVersion: Int)
  private[delta] case class CkptDomainMetadata(domain: String,
      configuration: String, removed: Boolean)
  private[delta] case class CkptRow(add: Option[CkptAdd],
      metaData: Option[CkptMetaData], protocol: Option[CkptProtocol],
      domainMetadata: Option[CkptDomainMetadata] = None)

  private[delta] case class CkptAddRead(path: String,
      partitionValues: Option[Map[String, String]], size: Long,
      modificationTime: Long, stats: Option[String],
      deletionVector: Option[CkptDv],
      baseRowId: Option[Long], defaultRowCommitVersion: Option[Long])

  /** Checkpointed actions: the live set at the checkpoint version. Reads
    * the spec shape (graft ≥ r7 AND real delta-spark checkpoints — the
    * add struct's extra columns are simply not selected) plus the legacy
    * flat ActionRow shape graft wrote before r7.
    */
  def readCheckpoint(spark: SparkSession, tablePath: String, cpVersion: Long)
      : Dataset[ActionRow] = {
    import spark.implicits._
    val files = DeltaLog.checkpointFilesAt(tablePath, cpVersion,
      graft.util.HadoopConfs.session(spark))
    val df = spark.read.parquet(files: _*)
    if (!df.columns.contains("add") && !df.columns.contains("sidecar")) {
      // legacy flat shape: checkpoints written before a field existed
      // read under its default
      val defaults: Seq[(String, org.apache.spark.sql.Column)] = Seq(
        "hasDeletionVector" -> lit(false), "dvStorageType" -> lit(""),
        "dvPathOrInline" -> lit(""), "dvOffset" -> lit(0),
        "dvSizeInBytes" -> lit(0), "dvCardinality" -> lit(0L))
      return defaults.foldLeft(df) { case (d, (name, default)) =>
        if (d.columns.contains(name)) d else d.withColumn(name, default)
      }.as[ActionRow]
    }
    // V2 checkpoint (PROTOCOL.md §V2 Checkpoint Table Feature): the main
    // file carries protocol/metaData plus `sidecar` actions; the add
    // actions live in the referenced sidecar parquet files. Sidecar
    // counts are small (each holds many adds) so the path list is a
    // bounded driver collect; the adds themselves stay distributed.
    val sidecars: Seq[String] =
      if (!df.columns.contains("sidecar")) Nil
      else df.filter(col("sidecar").isNotNull)
        .select(col("sidecar.path")).as[String].collect().toSeq
        .map(DeltaLog.sidecarPath(tablePath, _))
    val main = checkpointAdds(spark, df, tablePath, cpVersion)
    if (sidecars.isEmpty) main
    else main.union(checkpointAdds(spark,
      spark.read.parquet(sidecars: _*), tablePath, cpVersion))
  }

  /** Add rows of one checkpoint (or sidecar) DataFrame in the spec shape
    * → ActionRow; empty when the file carries no `add` column at all (a
    * v2 main file whose adds are all in sidecars).
    */
  private def checkpointAdds(spark: SparkSession,
      df: org.apache.spark.sql.DataFrame, tablePath: String,
      cpVersion: Long): Dataset[ActionRow] = {
    import spark.implicits._
    if (!df.columns.contains("add")) return spark.emptyDataset[ActionRow]
    val tp = tablePath
    val adds = df.filter(col("add").isNotNull).select("add.*")
    val dvCol =
      if (!adds.columns.contains("deletionVector"))
        lit(null).cast("struct<storageType:string,pathOrInlineDv:string," +
          "offset:int,sizeInBytes:int,cardinality:bigint>")
      else when(col("deletionVector").isNotNull, struct(
        col("deletionVector.storageType").as("storageType"),
        col("deletionVector.pathOrInlineDv").as("pathOrInlineDv"),
        coalesce(col("deletionVector.offset"), lit(0)).as("offset"),
        col("deletionVector.sizeInBytes").as("sizeInBytes"),
        col("deletionVector.cardinality").as("cardinality")))
    def optLong(name: String) =
      (if (adds.columns.contains(name)) col(name)
       else lit(null).cast("bigint")).as(name)
    adds.select(col("path"), col("partitionValues"), col("size"),
        col("modificationTime"),
        (if (adds.columns.contains("stats")) col("stats")
         else lit(null).cast("string")).as("stats"),
        dvCol.as("deletionVector"),
        optLong("baseRowId"), optLong("defaultRowCommitVersion"))
      .as[CkptAddRead]
      .map { a =>
        ActionRow(cpVersion, "add",
          PathUtils.resolve(tp, PathUtils.fromDeltaUri(a.path)),
          a.size, a.modificationTime,
          a.partitionValues.getOrElse(Map.empty),
          a.stats.getOrElse(""),
          a.deletionVector.isDefined,
          a.deletionVector.map(_.storageType).getOrElse(""),
          a.deletionVector.map(_.pathOrInlineDv).getOrElse(""),
          a.deletionVector.map(_.offset).getOrElse(0),
          a.deletionVector.map(_.sizeInBytes).getOrElse(0),
          a.deletionVector.map(_.cardinality).getOrElse(0L),
          baseRowId = a.baseRowId,
          defaultRowCommitVersion = a.defaultRowCommitVersion)
      }
  }

  /** Protocol row of the newest checkpoint at-or-before the head —
    * INCLUDING the feature lists when the checkpoint carries them (real
    * delta-spark checkpoints do; graft's persist only the min versions).
    */
  private def checkpointProtocol(spark: SparkSession, tablePath: String,
      versions: Seq[Long]): Option[ProtocolInfo] = {
    if (versions.isEmpty) return None
    val conf = graft.util.HadoopConfs.session(spark)
    DeltaLog.latestCheckpoint(tablePath, versions.last, conf).flatMap { c =>
      val df = spark.read.parquet(
        DeltaLog.checkpointFilesAt(tablePath, c, conf): _*)
      if (!df.columns.contains("protocol")) None
      else {
        val pSchema = df.schema("protocol").dataType
          .asInstanceOf[org.apache.spark.sql.types.StructType]
        def feats(name: String): org.apache.spark.sql.Column =
          if (pSchema.fieldNames.contains(name)) col(s"protocol.$name")
          else lit(null).cast("array<string>")
        df.filter(col("protocol").isNotNull)
          .select(col("protocol.minReaderVersion"),
            col("protocol.minWriterVersion"),
            feats("readerFeatures"), feats("writerFeatures"))
          .head(1).headOption.map { r =>
            def seqAt(i: Int): Seq[String] =
              if (r.isNullAt(i)) Nil
              else r.getAs[scala.collection.Seq[String]](i).toSeq
            ProtocolInfo(r.getInt(0), r.getInt(1), seqAt(2), seqAt(3))
          }
      }
    }
  }

  /** Full protocol action including table features (PROTOCOL.md §Table
    * Features): the min versions plus `readerFeatures`/`writerFeatures`
    * when the table is on the features protocol. Commit writers that
    * UPGRADE the protocol must merge into this instead of overwriting it —
    * a replacement protocol that drops a live feature corrupts the table.
    */
  case class ProtocolInfo(minReaderVersion: Int, minWriterVersion: Int,
      readerFeatures: Seq[String], writerFeatures: Seq[String])

  def protocolInfo(spark: SparkSession, tablePath: String,
      versions: Seq[Long]): Option[ProtocolInfo] = {
    if (versions.isEmpty) return None
    val latest = actionLines(spark, tablePath, versions, "\"protocol\"")
      .lastOption
    def strSeq(n: com.fasterxml.jackson.databind.JsonNode): Seq[String] =
      Option(n).map { arr =>
        import scala.jdk.CollectionConverters._
        arr.elements().asScala.map(_.asText).toSeq
      }.getOrElse(Nil)
    latest.flatMap { case (line, _) =>
      Option(Jsons.mapper.readTree(line).get("protocol")).map(p =>
        ProtocolInfo(p.get("minReaderVersion").asInt,
          p.get("minWriterVersion").asInt,
          strSeq(p.get("readerFeatures")), strSeq(p.get("writerFeatures"))))
    }.orElse(
      // post-cleanup fallback: the checkpoint's protocol row — with its
      // feature lists when the checkpoint carries them (real delta-spark
      // checkpoints do), so the reader-feature gate still sees them
      checkpointProtocol(spark, tablePath, versions))
  }

  /** Reader features this engine implements (PROTOCOL.md §Table
    * Features). The spec requires a reader to REFUSE a table whose
    * protocol demands a feature it does not implement — serving anyway
    * can return wrong data (a `variantType` column misread as opaque
    * binary, rows a future delete representation logically removed, …).
    */
  val SupportedReaderFeatures: Set[String] = Set(
    "columnMapping", "deletionVectors", "timestampNtz", "v2Checkpoint",
    "typeWidening", "typeWidening-preview", "vacuumProtocolCheck")

  /** Writer features this engine maintains correctly on commit.
    * rowTracking + domainMetadata joined in r15 (DeltaRowTracking:
    * baseRowId/defaultRowCommitVersion on every add, the
    * delta.rowTracking high-water-mark domain action, materialized-id
    * preservation through rewrites, domain actions carried through
    * checkpoints). NOT here: identityColumns / icebergCompat /
    * v2Checkpoint / clustering — each obliges every writer to maintain
    * state this engine does not (identity highwater marks, mirrored
    * Iceberg metadata, v2-checkpoint authoring on commit), so a commit
    * from here would corrupt the table for its real readers.
    */
  val SupportedWriterFeatures: Set[String] = Set(
    "appendOnly", "invariants", "checkConstraints", "changeDataFeed",
    "columnMapping", "deletionVectors", "timestampNtz", "typeWidening",
    "typeWidening-preview", "generatedColumns", "vacuumProtocolCheck",
    "rowTracking", "domainMetadata")

  /** Refuse WRITES to tables whose protocol obliges writers to maintain
    * state this engine does not (PROTOCOL.md §Writer Requirements).
    */
  def requireWritable(spark: SparkSession, tablePath: String,
      versions: Seq[Long]): Unit =
    protocolInfo(spark, tablePath, versions).foreach { p =>
      if (p.minWriterVersion > 7)
        throw new UnsupportedOperationException(
          s"Delta table at $tablePath requires minWriterVersion " +
            s"${p.minWriterVersion}; this engine implements protocol 7 " +
            "(table features)")
      if (p.minWriterVersion == 7) {
        val unknown = p.writerFeatures.filterNot(SupportedWriterFeatures)
        if (unknown.nonEmpty) throw new UnsupportedOperationException(
          s"Delta table at $tablePath requires writer feature(s) " +
            s"${unknown.mkString(", ")} this engine does not maintain — " +
            "a commit from here would corrupt the table for its real " +
            "readers")
      }
    }

  /** Refuse tables this engine cannot read faithfully (PROTOCOL.md
    * §Reader Requirements): minReaderVersion beyond 3, or a version-3
    * readerFeatures list naming an unimplemented feature.
    */
  def requireReadable(spark: SparkSession, tablePath: String,
      versions: Seq[Long]): Unit =
    protocolInfo(spark, tablePath, versions).foreach { p =>
      if (p.minReaderVersion > 3)
        throw new UnsupportedOperationException(
          s"Delta table at $tablePath requires minReaderVersion " +
            s"${p.minReaderVersion}; this engine implements protocol 3 " +
            "(table features)")
      if (p.minReaderVersion == 3) {
        val unknown = p.readerFeatures.filterNot(SupportedReaderFeatures)
        if (unknown.nonEmpty) throw new UnsupportedOperationException(
          s"Delta table at $tablePath requires reader feature(s) " +
            s"${unknown.mkString(", ")} this engine does not implement — " +
            "refusing rather than serving potentially wrong data " +
            s"(implemented: ${SupportedReaderFeatures.toSeq.sorted.mkString(", ")})")
      }
    }

  /** Checkpoint actions per multi-part file — bounds per-task memory and
    * parallelizes both write and replay at 10^6+ files.
    */
  private val ActionsPerCheckpointPart = 100000L

  /** Write a SPEC-SHAPED checkpoint for `version` (PROTOCOL.md
    * §Checkpoints): every live add plus the latest metaData and protocol
    * as one-action-per-row nullable structs — readable by real Delta
    * engines following `_last_checkpoint`, and self-sufficient after log
    * cleanup deletes the JSON that carried metaData/protocol. Expired
    * remove tombstones are intentionally omitted (state reconstruction
    * needs none; the spec allows it). All file operations go through the
    * Hadoop FileSystem of the log path (object-store-safe), and the live
    * set is written as N parallel parts (multi-part naming).
    */
  def writeCheckpoint(spark: SparkSession, tablePath: String, version: Long,
      schema: StructType): Unit = {
    import spark.implicits._
    val conf = graft.util.HadoopConfs.session(spark)
    val versions = DeltaLog.listVersions(tablePath, conf).filter(_ <= version)
    // table-feature routing: `delta.checkpointPolicy=v2` (delta-spark's
    // own property) opts a table into UUID-named v2 checkpoints with
    // sidecars; classic multi-part stays the default
    if (metadata(spark, tablePath, versions)
        .exists(_.configuration.get("delta.checkpointPolicy")
          .exists(_.equalsIgnoreCase("v2")))) {
      writeCheckpointV2(spark, tablePath, version, schema)
      return
    }
    val tp = tablePath
    // action-level live set: raw stats text and row-tracking base ids
    // survive the checkpoint verbatim (dropping baseRowId from a
    // rowTracking table's checkpoint would reassign every row's id)
    val addRows = liveAdds(spark, tablePath, versions).map { a =>
      CkptRow(Some(CkptAdd(
        PathUtils.toDeltaUri(PathUtils.relativize(tp, a.path)),
        a.partitionValues, a.size, a.modificationTime, dataChange = false,
        a.stats,
        a.dvDescriptor.map(d => CkptDv(d.storageType, d.pathOrInlineDv,
          d.offset, d.sizeInBytes, d.cardinality)),
        a.baseRowId, a.defaultRowCommitVersion)), None, None)
    }
    val metaRow = metadata(spark, tablePath, versions).map(m =>
      CkptRow(None, Some(CkptMetaData(m.id, CkptFormat("parquet", Map.empty),
        m.schemaString, m.partitionColumns, m.configuration,
        m.createdTime)), None))
    val protoRow = protocolInfo(spark, tablePath, versions)
      .map(p => CkptProtocol(p.minReaderVersion, p.minWriterVersion))
      .orElse(Some(CkptProtocol(1, 2)))
      .map(p => CkptRow(None, None, Some(p)))
    // spec: domain metadata actions MUST be included in checkpoints —
    // without them the rowTracking high-water mark (or any other
    // domain's state) dies with log cleanup
    val domainRows = DeltaRowTracking
      .liveDomains(spark, tablePath, versions)
      .map(d => CkptRow(None, None, None, Some(d)))
    val rows = addRows
      .union(spark.createDataset((metaRow ++ protoRow).toSeq ++ domainRows))
      .persist()
    try {
      val n = rows.count()
      val parts = math.min(128L,
        math.max(1L, (n + ActionsPerCheckpointPart - 1) / ActionsPerCheckpointPart)).toInt
      val logDir = new Path(DeltaLog.logPath(tablePath))
      val fs = logDir.getFileSystem(conf)
      val tmpDir = new Path(logDir, s".ckpt-$version-tmp")
      rows.repartition(parts).write.mode("overwrite").parquet(tmpDir.toString)
      val written = fs.listStatus(tmpDir).toSeq
        .filter(_.getPath.getName.endsWith(".parquet"))
        .sortBy(_.getPath.getName)
      written.zipWithIndex.foreach { case (st, i) =>
        val dst = new Path(
          if (written.size == 1) DeltaLog.checkpointFile(tablePath, version)
          else DeltaLog.checkpointPartFile(tablePath, version,
            i + 1, written.size))
        fs.delete(dst, false)
        fs.rename(st.getPath, dst)
      }
      fs.delete(tmpDir, true)
      DeltaLog.writeLastCheckpointHint(tablePath, version, written.size, n)
    } finally rows.unpersist()
  }

  private[delta] case class CkptSidecarRef(path: String, sizeInBytes: Long,
      modificationTime: Long)
  private[delta] case class CkptMetaInfo(version: Long)
  private[delta] case class CkptProtocolFull(minReaderVersion: Int,
      minWriterVersion: Int, readerFeatures: Option[Seq[String]],
      writerFeatures: Option[Seq[String]])
  private[delta] case class CkptV2MainRow(
      checkpointMetadata: Option[CkptMetaInfo],
      sidecar: Option[CkptSidecarRef],
      metaData: Option[CkptMetaData],
      protocol: Option[CkptProtocolFull],
      domainMetadata: Option[CkptDomainMetadata] = None)
  private[delta] case class CkptAddOnlyRow(add: Option[CkptAdd])

  /** V2 checkpoint WRITE (PROTOCOL.md §V2 Checkpoint Table Feature) —
    * the read path landed in r12; this closes the round trip. One
    * UUID-named main file `<v>.checkpoint.<uuid>.parquet` carries the
    * `checkpointMetadata` action (REQUIRED by the spec — it pins the
    * checkpoint's version independent of the file name), the latest
    * protocol (WITH its feature lists — a v2 checkpoint is only legal
    * under the `v2Checkpoint` reader feature, and dropping the lists
    * would forge a narrower protocol) and metaData, plus one `sidecar`
    * action per add-file sidecar; the adds themselves stream into
    * `_delta_log/_sidecars/<uuid>.parquet` in N parallel parts, so the
    * driver never materializes the live set. External readers keep
    * bounded log replay on large graft tables; graft's own
    * [[readCheckpoint]] and a fixture-diff read both verify the shape
    * (CheckpointAndScaleSpec, ReverseGoldenSpec).
    */
  def writeCheckpointV2(spark: SparkSession, tablePath: String,
      version: Long, schema: StructType): Unit = {
    import spark.implicits._
    val conf = graft.util.HadoopConfs.session(spark)
    val versions = DeltaLog.listVersions(tablePath, conf).filter(_ <= version)
    val tp = tablePath
    val addRows = liveAdds(spark, tablePath, versions).map { a =>
      CkptAddOnlyRow(Some(CkptAdd(
        PathUtils.toDeltaUri(PathUtils.relativize(tp, a.path)),
        a.partitionValues, a.size, a.modificationTime, dataChange = false,
        a.stats,
        a.dvDescriptor.map(d => CkptDv(d.storageType, d.pathOrInlineDv,
          d.offset, d.sizeInBytes, d.cardinality)),
        a.baseRowId, a.defaultRowCommitVersion)))
    }.persist()
    try {
      val n = addRows.count()
      val parts = math.min(128L, math.max(1L,
        (n + ActionsPerCheckpointPart - 1) / ActionsPerCheckpointPart)).toInt
      val logDir = new Path(DeltaLog.logPath(tablePath))
      val fs = logDir.getFileSystem(conf)
      val sidecarDir = new Path(logDir, "_sidecars")
      fs.mkdirs(sidecarDir)
      val tmpDir = new Path(logDir, s".ckpt-v2-$version-tmp")
      addRows.repartition(parts).write.mode("overwrite")
        .parquet(tmpDir.toString)
      val written = fs.listStatus(tmpDir).toSeq
        .filter(_.getPath.getName.endsWith(".parquet"))
        .sortBy(_.getPath.getName)
      val refs = written.map { st =>
        val name = s"${java.util.UUID.randomUUID()}.parquet"
        val dst = new Path(sidecarDir, name)
        fs.rename(st.getPath, dst)
        val fin = fs.getFileStatus(dst)
        CkptSidecarRef(name, fin.getLen, fin.getModificationTime)
      }
      fs.delete(tmpDir, true)

      val metaRow = metadata(spark, tablePath, versions).map(m =>
        CkptV2MainRow(None, None, Some(CkptMetaData(m.id,
          CkptFormat("parquet", Map.empty), m.schemaString,
          m.partitionColumns, m.configuration, m.createdTime)), None))
      val protoRow = Some(protocolInfo(spark, tablePath, versions)
        .map(p => CkptProtocolFull(p.minReaderVersion, p.minWriterVersion,
          if (p.readerFeatures.nonEmpty) Some(p.readerFeatures) else None,
          if (p.writerFeatures.nonEmpty) Some(p.writerFeatures) else None))
        .getOrElse(CkptProtocolFull(3, 7,
          Some(Seq("v2Checkpoint")), Some(Seq("v2Checkpoint")))))
        .map(p => CkptV2MainRow(None, None, None, Some(p)))
      val domainRows = DeltaRowTracking
        .liveDomains(spark, tablePath, versions)
        .map(d => CkptV2MainRow(None, None, None, None, Some(d)))
      val mainRows =
        Seq(CkptV2MainRow(Some(CkptMetaInfo(version)), None, None, None)) ++
          refs.map(r => CkptV2MainRow(None, Some(r), None, None)) ++
          metaRow ++ protoRow ++ domainRows
      val mainTmp = new Path(logDir, s".ckpt-v2-main-$version-tmp")
      spark.createDataset(mainRows).coalesce(1).write.mode("overwrite")
        .parquet(mainTmp.toString)
      val mainPart = fs.listStatus(mainTmp).toSeq
        .find(_.getPath.getName.endsWith(".parquet")).get
      val mainName = f"$version%020d.checkpoint." +
        s"${java.util.UUID.randomUUID()}.parquet"
      val dst = new Path(logDir, mainName)
      fs.rename(mainPart.getPath, dst)
      fs.delete(mainTmp, true)
      DeltaLog.writeLastCheckpointHint(tablePath, version, 1,
        n + mainRows.size)
    } finally addRows.unpersist()
  }

  /** Commit-log lines containing `token`, ordered by version. */
  private[graft] def actionLines(spark: SparkSession, tablePath: String,
      versions: Seq[Long], token: String): Seq[(String, Long)] = {
    import spark.implicits._
    (versionLines(spark, tablePath, versions) match {
      case Left(lines) => lines.filter(_._1.contains(token))
      case Right(lines) =>
        lines.filter(col("value").contains(token)).collect().toSeq
    }).sortBy(_._2)
  }

  /** Live files at a version. Replay starts from the newest checkpoint
    * at-or-before the version when one exists (a parquet scan, so the
    * result is distributed); the commit JSON after it is read where
    * [[versionLines]] places it. Per path the [[winner]] rule picks the
    * surviving action — on the driver as a hash-map fold, in tasks as a
    * map-side-combining `max_by` GROUP BY (the shuffle carries one row
    * per (path, map task) instead of every action ever logged — at 10^7
    * logged actions that is the difference between shuffling the full
    * history and shuffling ~the live file count).
    */
  def liveFiles(spark: SparkSession, tablePath: String, versions: Seq[Long],
      schema: StructType): Dataset[FileEntry] = {
    import spark.implicits._
    Placement.dataset(spark, listing(spark, tablePath, versions, schema))
  }

  /** [[liveFiles]] where it was decoded, for the snapshot factory. */
  private[graft] def listing(spark: SparkSession, tablePath: String,
      versions: Seq[Long], schema: StructType,
      at: Option[Placement] = None): Placed[FileEntry] = {
    import spark.implicits._
    Placement.mapRows(placedLiveAdds(spark, tablePath, versions, at))(
      toEntries(schema))
  }

  /** ActionRow → FileEntry, the one conversion every listing and diff
    * uses. Column mapping: stats JSON and partition values in the log are
    * keyed by PHYSICAL name — parse against the physical schema, then
    * surface logical names in the FileEntry (the metadata plane speaks
    * logical).
    */
  private def toEntries(schema: StructType)
      : Iterator[ActionRow] => Iterator[FileEntry] = {
    val physSchemaJson = DeltaColumnMapping.physicalSchema(schema).json
    val renames = DeltaColumnMapping.physicalToLogical(schema)
    it => {
      val sch = DataType.fromJson(physSchemaJson).asInstanceOf[StructType]
      it.map { a =>
        val (numRecords, stats0) = DeltaStats.parse(sch, a.stats)
        val stats = stats0.map(s =>
          s.copy(field = renames.getOrElse(s.field, s.field)))
        FileEntry(a.path, a.size, numRecords, "parquet",
          a.partitionValues.toSeq.sortBy(_._1)
            .map { case (k, v) =>
              PartitionMember(renames.getOrElse(k, k), v) },
          stats, a.modificationTime, a.dvDescriptor)
      }
    }
  }

  /** The live-set winner rule, one key for both placements: the latest
    * version wins and, within one commit, an add beats a remove
    * (rewrite-in-place).
    */
  private def winner(a: ActionRow): (Long, Int) =
    (a.version, if (a.kind == "add") 1 else 0)
  private def winnerCol =
    struct(col("version"), when(col("kind") === "add", 1).otherwise(0))

  /** The live-set winner at the ACTION level — every field the log
    * carried (raw stats text, row-tracking base ids) survives, which
    * checkpoint writing and row-id reads need verbatim.
    */
  def liveAdds(spark: SparkSession, tablePath: String,
      versions: Seq[Long]): Dataset[ActionRow] = {
    import spark.implicits._
    Placement.dataset(spark, placedLiveAdds(spark, tablePath, versions, None))
  }

  private def placedLiveAdds(spark: SparkSession, tablePath: String,
      versions: Seq[Long], at: Option[Placement]): Placed[ActionRow] = {
    import spark.implicits._
    val conf = HadoopConfs.session(spark)
    val head = versions.lastOption.getOrElse(-1L)
    val cp = DeltaLog.latestCheckpoint(tablePath, head, conf)
    // an unsupported (json-v2-only) or absent checkpoint must fail HERE,
    // with the missing prefix named — not serve a partial live set
    DeltaLog.requireReplayable(tablePath, versions, cp, conf)
    val json = placedActions(spark, tablePath,
      cp.fold(versions)(c => versions.filter(_ > c)), at)
    val acts = cp match {
      case None => json
      case Some(c) => Right(readCheckpoint(spark, tablePath, c)
        .union(Placement.dataset(spark, json)))
    }
    acts match {
      case Left(rows) =>
        val best = scala.collection.mutable.HashMap.empty[String, ActionRow]
        val ord = Ordering[(Long, Int)]
        rows.foreach { a =>
          if (best.get(a.path).forall(b => ord.gteq(winner(a), winner(b))))
            best(a.path) = a
        }
        Left(best.valuesIterator.filter(_.kind == "add").toIndexedSeq)
      case Right(rows) =>
        val actCols = rows.columns
        Right(rows
          .groupBy(col("path").as("__p"))
          .agg(max_by(struct(actCols.map(col).toIndexedSeq: _*), winnerCol)
            .as("__m"))
          .select(col("__m.*"))
          .filter(col("kind") === "add").as[ActionRow])
    }
  }

  /** Latest metaData action at-or-before the head of `versions` (driver-side:
    * metaData appears only at creation and on schema/property changes).
    */
  def metadata(spark: SparkSession, tablePath: String, versions: Seq[Long])
      : Option[DeltaMeta] = {
    if (versions.isEmpty) return None
    val fromJson = actionLines(spark, tablePath, versions, "\"metaData\"")
      .lastOption.map { case (line, _) =>
      val n = Jsons.mapper.readTree(line).get("metaData")
      DeltaMeta(
        Option(n.get("id")).map(_.asText).getOrElse(""),
        n.get("schemaString").asText,
        Option(n.get("partitionColumns")).toSeq
          .flatMap(_.elements().asScala.map(_.asText)),
        Option(n.get("configuration")).map { c =>
          c.properties().asScala.map(e => e.getKey -> e.getValue.asText).toMap
        }.getOrElse(Map.empty),
        Option(n.get("createdTime")).map(_.asLong).getOrElse(0L))
    }
    // log cleanup can delete the JSON that carried metaData — the
    // spec-shaped checkpoint holds it instead (same rule real readers use)
    fromJson.orElse {
      val conf = graft.util.HadoopConfs.session(spark)
      DeltaLog.latestCheckpoint(tablePath, versions.last, conf).flatMap { c =>
        val df = spark.read.parquet(
          DeltaLog.checkpointFilesAt(tablePath, c, conf): _*)
        if (!df.columns.contains("metaData")) None
        else df.filter(col("metaData").isNotNull).select("metaData.*")
          .head(1).headOption.map { r =>
            DeltaMeta(
              Option(r.getAs[String]("id")).getOrElse(""),
              r.getAs[String]("schemaString"),
              Option(r.getAs[scala.collection.Seq[String]](
                "partitionColumns")).map(_.toSeq).getOrElse(Nil),
              Option(r.getAs[scala.collection.Map[String, String]](
                "configuration")).map(_.toMap).getOrElse(Map.empty),
              Option(r.getAs[Any]("createdTime")) match {
                case Some(l: java.lang.Long) => l.longValue
                case _ => 0L
              })
          }
      }
    }
  }

  /** Adds/removes introduced by exactly one commit version.
    *
    * A path both added WITH a deletion vector and removed in the same
    * commit is a row-level-delete rewrite of the same physical file. The
    * reference reconciles that to "no file-level change"
    * (DeltaConversionSource.java:147-162) — which is exactly how deletes
    * silently vanish from its targets (RFC-2's motivating defect: "delete
    * vectors were ignored and would cause incorrect results in the target
    * table"). graft keeps BOTH sides: the add carries the DV descriptor,
    * the remove retires the DV-less entry, so every diff consumer either
    * refuses loudly (targets that cannot represent row-level deletes) or
    * converts the DV — never advances past it serving phantom rows.
    */
  def changes(spark: SparkSession, tablePath: String, version: Long,
      schema: StructType): (Dataset[FileEntry], Dataset[FileEntry]) = {
    import spark.implicits._
    val (adds, removes) = placedChanges(spark, tablePath, version, schema)
    (Placement.dataset(spark, adds), Placement.dataset(spark, removes))
  }

  private[graft] def placedChanges(spark: SparkSession, tablePath: String,
      version: Long, schema: StructType, at: Option[Placement] = None)
      : (Placed[FileEntry], Placed[FileEntry]) = {
    import spark.implicits._
    val acts = placedActions(spark, tablePath, Seq(version), at)
    val decode = toEntries(schema)
    def side(kind: String) =
      Placement.mapRows(acts)(it => decode(it.filter(_.kind == kind)))
    (side("add"), side("remove"))
  }
}

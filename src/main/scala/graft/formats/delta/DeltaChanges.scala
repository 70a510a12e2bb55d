package graft.formats.delta

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

import graft.util.{HadoopConfs, Jsons, PathUtils}

/** One commit line's classification from the change-range scan: a `cdc`
  * action (with its file path + partition values) or a `data` marker for
  * a dataChange add/remove. Top-level so Catalyst codegen can reach the
  * accessors.
  */
private[delta] case class VersionMark(version: Long, kind: String,
    path: String, partitionValues: Map[String, String])

/** Row-level change feed over a Delta table — `changesBetween(v0, v1)`
  * returns every row changed by the commits in `(v0, v1]`, tagged
  * `_change_type` and `_commit_version`.
  *
  * Two read paths, chosen PER COMMIT exactly as the Delta protocol
  * prescribes (PROTOCOL.md §Add CDC File):
  *
  *  1. **CDC files.** When a commit carries `cdc` actions, its changes
  *     are the rows of those `_change_data/` parquet files, verbatim —
  *     full spec change-type vocabulary (`insert`, `delete`,
  *     `update_preimage`, `update_postimage`). graft's own
  *     DELETE/UPDATE/MERGE writers produce these whenever the table has
  *     `delta.enableChangeDataFeed=true` ([[enableChangeDataFeed]]).
  *     All CDC versions of the requested range are read in ONE scan
  *     (the per-file commit version and partition values ride in via a
  *     broadcast join on `_metadata.file_path`), so the feed costs
  *     O(changed rows) — never O(table), never per-version jobs.
  *  2. **Reconstruction.** A commit without `cdc` actions is diffed from
  *     its TOUCHED files only: the (file, position) keyed reads of the
  *     files the commit added/removed, anti-joined both ways — rows at
  *     v−1 but not v are `delete` (pre-image values), rows at v but not
  *     v−1 are `insert`. An UPDATE therefore surfaces as its
  *     delete+insert pair — the reconstruction limit without sidecars,
  *     the same answer delta-spark gives for DV-mutated files when no
  *     CDC file was written. Commits whose actions all carry
  *     `dataChange=false` (OPTIMIZE/ZORDER) contribute NOTHING and are
  *     skipped without building a snapshot.
  *
  * Scale shape: one pass over the range's commit JSON, placed on the
  * driver or in tasks by [[graft.plans.Placement]], classifies every
  * version; the driver materializes only the cdc-file
  * descriptors of the range (bounded by the range's own change volume,
  * ~32 files per write op) and per-version flags. Reconstruction reads
  * only touched files, and adjacent versions share their snapshot
  * (v's before-image IS v−1's after-image) instead of replaying the log
  * twice.
  */
object DeltaChanges {

  /** The table property real Delta writers key CDC authoring on. */
  val PropertyKey = "delta.enableChangeDataFeed"

  /** Table-relative directory CDC files land under (spec §Add CDC File;
    * leading underscore keeps every data-plane listing away from it).
    */
  val ChangeDir = "_change_data"

  def isEnabled(meta: DeltaMeta): Boolean =
    meta.configuration.get(PropertyKey).contains("true")

  /** Flip `delta.enableChangeDataFeed=true` via a metaData-only commit
    * (the `ALTER TABLE ... SET TBLPROPERTIES` shape): the existing
    * metaData is re-emitted with the property added and the protocol is
    * raised to carry the `changeDataFeed` writer capability — merged
    * into the features form when the table is already on it, else the
    * legacy `minWriterVersion>=4` that implies it. Returns the commit
    * version; a no-op (already enabled) returns the current head.
    */
  def enableChangeDataFeed(spark: SparkSession, tablePath: String): Long = {
    val conf = HadoopConfs.session(spark)
    val versions = DeltaLog.listVersions(tablePath, conf)
    require(versions.nonEmpty, s"no Delta log at $tablePath")
    val st = DeltaSnapshot.state(spark, tablePath, versions)
    val meta = st.metaData.getOrElse(throw new IllegalStateException(
      s"no metaData action at $tablePath"))
    if (isEnabled(meta)) return versions.last

    val existing =
      st.protocol.getOrElse(DeltaSnapshot.ProtocolInfo(1, 2, Nil, Nil))
    val protocol: Map[String, Any] =
      if (existing.minWriterVersion >= 7)
        Map(
          "minReaderVersion" -> existing.minReaderVersion,
          "minWriterVersion" -> 7,
          "readerFeatures" -> existing.readerFeatures.distinct.sorted,
          "writerFeatures" ->
            (existing.writerFeatures :+ "changeDataFeed").distinct.sorted)
      else Map(
        "minReaderVersion" -> existing.minReaderVersion,
        "minWriterVersion" -> math.max(existing.minWriterVersion, 4))
    val metaNode = Map(
      "id" -> meta.id,
      "format" -> Map("provider" -> "parquet", "options" -> Map.empty),
      "schemaString" -> meta.schemaString,
      "partitionColumns" -> meta.partitionColumns,
      "configuration" -> (meta.configuration + (PropertyKey -> "true")),
      "createdTime" -> meta.createdTime)
    val version = versions.last + 1
    val ok = DeltaLog.writeCommit(tablePath, version, Iterator(
      Jsons.toJson(Map("protocol" -> protocol)),
      Jsons.toJson(Map("metaData" -> metaNode)),
      Jsons.toJson(Map("commitInfo" -> Map(
        "timestamp" -> System.currentTimeMillis(),
        "operation" -> "SET TBLPROPERTIES",
        "operationParameters" -> Map(PropertyKey -> "true"))))))
    if (!ok) throw new IllegalStateException(
      s"concurrent writer committed version $version first at $tablePath")
    version
  }

  def changesBetween(spark: SparkSession, tablePath: String,
      fromVersion: Long, toVersion: Long): DataFrame = {
    import spark.implicits._
    // fromVersion is EXCLUSIVE; -1 therefore includes version 0 (the
    // table-creating commit) in the feed
    require(fromVersion >= -1 && fromVersion < toVersion,
      s"need -1 <= fromVersion < toVersion, got $fromVersion..$toVersion")
    val src = new DeltaConversionSource(spark, tablePath,
      PathUtils.canonical(tablePath).stripSuffix("/").split('/').last)
    val range = (fromVersion + 1) to toVersion

    // ONE pass over the range's commit files classifies every version:
    // cdc actions verbatim, plus one `data` marker per version that
    // carries any dataChange add/remove. Driver holds cdc descriptors +
    // flags only. The lines are read where Placement puts them: a small
    // range classifies driver-side with no Spark job; a big one keeps
    // the distributed pass.
    val tp = tablePath
    val marks: Seq[VersionMark] =
      DeltaSnapshot.versionLines(spark, tablePath, range) match {
        case Left(lines) =>
          lines.flatMap { case (line, v) => classifyLine(tp, line, v) }
            .distinctBy(m => (m.version, m.kind, m.path))
        case Right(lines) => lines
          .flatMap { case (line, v) => classifyLine(tp, line, v) }
          // distributed dedup BEFORE the collect: `data` marks collapse
          // to one per version (a 1M-file commit must not land 1M rows on
          // the driver); cdc paths are unique already, so the driver
          // holds only the range's cdc descriptors plus one flag per
          // version
          .dropDuplicates("version", "kind", "path")
          .collect().toSeq
      }

    val cdcVersions = marks.filter(_.kind == "cdc").map(_.version).toSet
    val reconVersions = marks.filter(_.kind == "data").map(_.version)
      .distinct.filterNot(cdcVersions).sorted

    val parts = Seq(
      Option.when(cdcVersions.nonEmpty)(
        cdcFeed(spark, src, marks.filter(_.kind == "cdc"))),
      Option.when(reconVersions.nonEmpty)(
        reconstructedFeed(spark, src, reconVersions))).flatten
    if (parts.isEmpty) emptyFeed(spark, src)
    else parts.reduce(_ unionByName _)
  }

  /** One commit line's change-feed classification, in either placement. */
  private def classifyLine(tp: String, line: String,
      version: Long): Option[VersionMark] =
    if (line.isEmpty) None
    else {
      val root = Jsons.mapper.readTree(line)
      val cdc = root.get("cdc")
      if (cdc != null) {
        import scala.jdk.CollectionConverters._
        val pv = Option(cdc.get("partitionValues")).map { o =>
          o.properties().asScala.map(e => e.getKey ->
            (if (e.getValue.isNull) null else e.getValue.asText)).toMap
        }.getOrElse(Map.empty[String, String])
        Some(VersionMark(version, "cdc",
          PathUtils.resolve(tp,
            PathUtils.fromDeltaUri(cdc.get("path").asText)), pv))
      } else {
        val a = Option(root.get("add")).orElse(Option(root.get("remove")))
        a.filter(n => Option(n.get("dataChange")).forall(_.asBoolean))
          .map(_ => VersionMark(version, "data", "", Map.empty))
      }
    }

  private def emptyFeed(spark: SparkSession,
      src: DeltaConversionSource): DataFrame = {
    val schema = src.currentTable().schema
    val full = StructType(schema.fields ++ Seq(
      org.apache.spark.sql.types.StructField("_change_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("_commit_version",
        org.apache.spark.sql.types.LongType)))
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      full)
  }

  /** All CDC versions in one scan: read every `_change_data` file of the
    * range together, then join `_metadata.file_path` against the
    * (path → version, partitionValues) descriptors — broadcast-sized by
    * construction — and restore identity partition columns the physical
    * layout routed out of the files.
    */
  private def cdcFeed(spark: SparkSession, src: DeltaConversionSource,
      actions: Seq[VersionMark]): DataFrame = {
    import spark.implicits._
    val table = src.currentTable()
    val schema = table.schema
    val partCols = table.partitionFields.map(_.partitionColumnName)
      .filter(schema.fieldNames.contains)
    val dataSchema = StructType(
      schema.fields.filterNot(f => partCols.contains(f.name)) :+
        org.apache.spark.sql.types.StructField("_change_type",
          org.apache.spark.sql.types.StringType))
    val byPath = actions
      .map(m => (PathUtils.canonical(m.path), m.version, m.partitionValues))
      .toDF("__cdc_path", "__cdc_version", "__cdc_pv")
    val rows = spark.read.schema(dataSchema)
      .parquet(actions.map(_.path): _*)
      .withColumn("__scan_path",
        graft.util.PathCols.scanPath(col("_metadata.file_path")))
      .join(broadcast(byPath), col("__scan_path") === col("__cdc_path"))
    val restored = partCols.foldLeft(rows) { (d, c) =>
      d.withColumn(c, element_at(col("__cdc_pv"), c)
        .cast(schema(c).dataType))
    }
    restored.select(schema.fieldNames.toSeq.map(col) ++
      Seq(col("_change_type"), col("__cdc_version").as("_commit_version")): _*)
  }

  /** Snapshot-diff reconstruction for the versions without CDC files.
    * Adjacent versions share snapshots: v's before-image is v−1's
    * after-image, so an n-version backlog builds n+1 snapshots, not 2n.
    */
  private def reconstructedFeed(spark: SparkSession,
      src: DeltaConversionSource, versions: Seq[Long]): DataFrame = {
    import spark.implicits._
    val cache = scala.collection.mutable.Map.empty[Long, graft.model.TableSnapshot]
    def snapAt(v: Long): graft.model.TableSnapshot =
      if (v < 0)   // before the table existed: version 0 diffs vs nothing
        graft.plans.SnapshotFileIndex.snapshot(spark, src.currentTable(),
          "-1", Left(Vector.empty))
      else cache.getOrElseUpdate(v, src.snapshotAt(v))
    versions.map { v =>
      changesOf(spark, snapAt(v), snapAt(v - 1), src.tablePathForChanges, v)
    }.reduce(_ unionByName _)
  }

  private def changesOf(spark: SparkSession,
      afterSnap: graft.model.TableSnapshot,
      beforeSnap: graft.model.TableSnapshot,
      tablePath: String, v: Long): DataFrame = {
    import spark.implicits._
    // commits read on the driver (Placement) hand back their touched-path
    // sets: those become literal isin filters on the snapshot listings,
    // removing the commit-scan job and two semi-join subtrees per
    // reconstructed version. Large commits keep the distributed scan with
    // an EAGER pin — concurrently submitted downstream jobs (broadcast
    // builds) may otherwise each materialize the unpinned lineage.
    val placed = DeltaSnapshot.placedActions(spark, tablePath, Seq(v))
    val (addPathSet, removePathSet):
        (Option[Seq[String]], Option[Seq[String]]) = placed match {
      case Left(all) =>
        val rows = all.filter(_.dataChange)
        (Some(rows.filter(_.kind == "add").map(_.path)),
          Some(rows.filter(_.kind == "remove").map(_.path)))
      case Right(_) => (None, None)
    }
    lazy val acts = graft.plans.Placement.dataset(spark, placed)
      .filter(_.dataChange)
      .localCheckpoint()
    val addPaths = addPathSet.map(_.toDF("__p"))
      .getOrElse(acts.filter(_.kind == "add").map(_.path).toDF("__p"))
    val removePaths = removePathSet.map(_.toDF("__p"))
      .getOrElse(acts.filter(_.kind == "remove").map(_.path).toDF("__p"))
    val schema = afterSnap.table.schema

    // keyed reads restricted to the commit's touched files: an add names
    // a file whose LIVE ROWS may be new (or re-masked), a remove names a
    // file whose v-1 live rows may be gone
    def restricted(snap: graft.model.TableSnapshot,
        paths: Either[Seq[String], DataFrame]): DataFrame = {
      val sub = (snap.listing.placed, paths) match {
        case (Left(entries), Left(ps)) =>
          val touched = ps.toSet
          Left(entries.filter(e => touched(e.path)))
        case (listing, _) =>
          val files = graft.plans.Placement.dataset(spark, listing)
          Right(paths.fold(ps => files.filter(col("path").isInCollection(ps)),
            df => files.join(df, files("path") === col("__p"), "left_semi"))
            .as[graft.model.FileEntry])
      }
      DeltaRead.toKeyedDataFrame(spark,
        snap.copy(listing = new graft.plans.Listing(spark, sub)))
    }

    // PURE-APPEND fast path (guide §1.2): a small commit with adds, NO
    // removes, and no added path present in the (driver-held) before
    // listing diffs to exactly the added files' rows tagged `insert` —
    // the before-restricted side is empty by construction, so both
    // anti-joins and the whole before keyed-read subtree are provably
    // no-ops. Equality with the reconstruction path: `inserts` anti-
    // joined against an empty frame returns every after row; `deletes`
    // over an empty frame is empty. DV semantics are untouched (the
    // after side still reads through the same keyed/DV-masked path).
    val pureAppend = (addPathSet, removePathSet) match {
      case (Some(adds), Some(Seq())) if adds.nonEmpty =>
        beforeSnap.listing.placed.fold({ entries =>
          val before = entries.iterator.map(_.path).toSet
          !adds.exists(before.contains)
        }, _ => false)
      case _ => false
    }
    if (pureAppend) {
      val cols = schema.fieldNames.toSeq.map(col)
      return restricted(afterSnap, Left(addPathSet.get))
        .select(cols :+ lit("insert").as("_change_type"): _*)
        .withColumn("_commit_version", lit(v))
    }

    val after = restricted(afterSnap, addPathSet.toLeft(addPaths))
    val before = restricted(beforeSnap,
      (addPathSet, removePathSet) match {
        case (Some(a), Some(r)) => Left(a ++ r)
        case _ => Right(addPaths.union(removePaths))
      })

    val key = Seq("__scan_path", "__scan_pos")
    val cols = schema.fieldNames.toSeq.map(col)
    val inserts = after.join(before.select(key.map(col): _*), key,
        "left_anti")
      .select(cols :+ lit("insert").as("_change_type"): _*)
    val deletes = before.join(after.select(key.map(col): _*), key,
        "left_anti")
      .select(cols :+ lit("delete").as("_change_type"): _*)
    inserts.unionByName(deletes)
      .withColumn("_commit_version", lit(v))
  }
}

package graft.formats.paimon

import java.util.UUID

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.model._
import graft.plans.Placement
import graft.spi._
import graft.util.PathUtils

/** Paimon source — reference PaimonConversionSource.java:52-231: snapshots
  * by id; live set = base ∪ delta manifests with ADD/DELETE reconciliation;
  * per-snapshot diff from the delta manifest list.
  */
class PaimonConversionSource(spark: SparkSession, tablePath: String,
    tableName: String)
  extends ConversionSource {

  override def sourceFormat: String = "PAIMON"

  private def latest: Long = PaimonFormat.latestSnapshotId(tablePath)
    .getOrElse(throw new IllegalStateException(s"no Paimon table at $tablePath"))

  /** A snapshot's manifests, base ∪ delta, with the sizes their lists
    * record.
    */
  private def manifestsOf(snap: PaimonFormat.PaimonSnapshot)
      : Seq[(String, Long)] =
    Seq(snap.baseManifestList, snap.deltaManifestList).flatMap(l =>
      PaimonFormat.readManifestList(PaimonFormat.manifestListPath(tablePath, l)))

  /** (kind, entry) pairs of `manifests`, decoded where [[Placement]] puts
    * them: on the driver, or one task PER MANIFEST.
    */
  private def entries(manifests: Seq[(String, Long)],
      at: Option[Placement]): Placement.Placed[(Int, FileEntry)] = {
    import spark.implicits._
    val tp = tablePath
    val paths = manifests.map { case (n, _) =>
      s"${PaimonFormat.manifestDir(tablePath)}/$n" }
    at.getOrElse(Placement.of(manifests.map(m => Some(m._2)))) match {
      case Placement.Driver =>
        val conf = graft.util.HadoopConfs.session(spark)
        Left(paths.toIndexedSeq.flatMap(p =>
          PaimonFormat.readManifest(p, conf).map(PaimonFormat.fromEntry(_, tp))))
      case Placement.Tasks =>
        val bconf = graft.util.HadoopConfs.broadcastSession(spark)
        Right(graft.util.Par.ds(spark, paths, 128)
          .flatMap(p => PaimonFormat.readManifest(p, bconf.value.value)
            .map(PaimonFormat.fromEntry(_, tp))))
    }
  }

  /** A snapshot's live listing, its manifests read and parsed once: ADD
    * entries whose path no DELETE entry names — a set difference on the
    * driver, a distributed anti-join in tasks (a 10^6-file listing never
    * materializes driver-side). `at` pins a placement for tests.
    */
  private[graft] def listing(snap: PaimonFormat.PaimonSnapshot,
      at: Option[Placement] = None): Placement.Placed[FileEntry] = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    entries(manifestsOf(snap), at) match {
      case Left(es) =>
        val deleted = es.collect {
          case (k, f) if k == PaimonFormat.Kind.Delete => f.path
        }.toSet
        Left(es.collect {
          case (k, f) if k == PaimonFormat.Kind.Add && !deleted(f.path) => f
        })
      case Right(es) =>
        val adds = es.filter(_._1 == PaimonFormat.Kind.Add).map(_._2)
        val dels = es.filter(_._1 == PaimonFormat.Kind.Delete)
          .map(_._2.path).toDF("__del")
        Right(adds.join(dels, adds("path") === col("__del"), "left_anti")
          .drop("__del").as[FileEntry])
    }
  }

  override def currentTable(): TableDescriptor = {
    val snap = PaimonFormat.readSnapshot(tablePath, latest)
    val schema = PaimonFormat.readSchema(tablePath, snap.schemaId)
    TableDescriptor(tableName, "PAIMON", PathUtils.canonical(tablePath),
      schema.schema,
      schema.partitionKeys.map(k => PartitionFieldSpec(k, Transform.Value)),
      if (schema.partitionKeys.nonEmpty) Layout.HivePartitioned else Layout.Flat,
      latest)
  }

  /** Time travel: table state as of a historical snapshot id — schema
    * resolved through the snapshot's own schemaId (a later evolution
    * must not leak backwards), files from the same base ∪ delta
    * reconciliation every snapshot read uses.
    */
  def snapshotAt(id: Long): TableSnapshot = {
    val head = latest
    require(id >= 1 && id <= head,
      s"no Paimon snapshot $id at $tablePath (head is $head)")
    val snap = PaimonFormat.readSnapshot(tablePath, id)
    val schema = PaimonFormat.readSchema(tablePath, snap.schemaId)
    val table = TableDescriptor(tableName, "PAIMON",
      PathUtils.canonical(tablePath), schema.schema,
      schema.partitionKeys.map(k => PartitionFieldSpec(k, Transform.Value)),
      if (schema.partitionKeys.nonEmpty) Layout.HivePartitioned
      else Layout.Flat,
      id)
    snapshotOf(table, snap)
  }

  private def snapshotOf(table: TableDescriptor,
      snap: PaimonFormat.PaimonSnapshot): TableSnapshot =
    graft.plans.SnapshotFileIndex.snapshot(spark, table, snap.id.toString,
      listing(snap))

  override def currentSnapshot(): TableSnapshot =
    snapshotOf(currentTable(), PaimonFormat.readSnapshot(tablePath, latest))

  override def changeForCommit(commit: String): TableChange = {
    import spark.implicits._
    val snap = PaimonFormat.readSnapshot(tablePath, commit.toLong)
    val delta = Placement.dataset(spark, entries(PaimonFormat.readManifestList(
      PaimonFormat.manifestListPath(tablePath, snap.deltaManifestList)), None))
    TableChange(commit, currentTable().copy(latestCommitMillis = commit.toLong),
      FilesDelta(
        delta.filter(_._1 == PaimonFormat.Kind.Add).map(_._2),
        delta.filter(_._1 == PaimonFormat.Kind.Delete).map(_._2)))
  }

  override def commitsBacklog(lastSynced: String): Seq[String] =
    PaimonFormat.listSnapshotIds(tablePath)
      .filter(_ > lastSynced.toLong).map(_.toString)

  override def isIncrementalSyncSafeFrom(commit: String): Boolean =
    PaimonFormat.listSnapshotIds(tablePath).contains(commit.toLong) ||
      PaimonFormat.listSnapshotIds(tablePath).headOption
        .contains(commit.toLong + 1)

  def toDataFrame: DataFrame =
    graft.formats.delta.DeltaRead.toDataFrame(spark, currentSnapshot())
}

/** Paimon target — **beyond the reference**, which lists PAIMON as a source
  * only (`TableFormat.values()` has no PaimonConversionTarget, SURVEY §2.2):
  * each sync writes a delta manifest (ADD + DELETE entries) and a snapshot
  * pointing at the previous base ∪ delta as its new base.
  */
class PaimonConversionTarget(spark: SparkSession, tablePath: String)
  extends ConversionTarget {

  override def targetFormat: String = "PAIMON"

  private var table: TableDescriptor = _
  private var schema: StructType = _
  private var partitionSpec: Seq[PartitionFieldSpec] = Nil
  private var syncMeta: Option[SyncMetadata] = None
  private var pendingAdds: Option[Dataset[FileEntry]] = None
  private var pendingRemoves: Option[Dataset[FileEntry]] = None
  private var expectedBase: Option[Long] = None

  private var commitStamp: Option[(String, Long)] = None

  /** CAS guard for read-modify-write commits (deleteWhere/updateWhere):
    * the caller planned its victim set against snapshot `id`, and the
    * commit must FAIL — not silently rebase — if another writer advanced
    * the table past it, else a concurrent rewrite of a victim file
    * resurrects deleted rows or duplicates updated ones.
    */
  def expectBaseSnapshot(id: Long): Unit = expectedBase = Some(id)

  /** The sync-protocol spelling of [[expectBaseSnapshot]] (commit ids on
    * Paimon ARE snapshot ids) — lets maintenance full-set syncs pin their
    * planning snapshot through [[graft.sync.TableFormatSync.syncSnapshot]].
    */
  override def expectBaseCommit(commitId: String): Unit =
    expectBaseSnapshot(commitId.toLong)

  /** Stamp the NEXT snapshot with Paimon's exactly-once commit identity
    * (`commitUser` + `commitIdentifier`) — the streaming sink's replay
    * marker, riding the same commit path as every sync.
    */
  def stampCommit(user: String, identifier: Long): Unit =
    commitStamp = Some((user, identifier))

  override def beginSync(t: TableDescriptor): Unit = {
    table = t; schema = t.schema
    pendingAdds = None; pendingRemoves = None
    expectedBase = None
    commitStamp = None
  }
  override def syncMetadata(m: SyncMetadata): Unit = syncMeta = Some(m)
  override def syncSchema(s: StructType): Unit = schema = s
  override def syncPartitionSpec(spec: Seq[PartitionFieldSpec]): Unit =
    partitionSpec = spec

  override def syncFilesForSnapshot(files: Dataset[FileEntry]): Unit =
    PaimonFormat.latestSnapshotId(tablePath) match {
      case None => pendingAdds = Some(files); pendingRemoves = None
      case Some(_) =>
        val current = new PaimonConversionSource(spark, tablePath, "target")
          .currentSnapshot().files
        val delta = FilesDelta.between(files, current)
        pendingAdds = Some(delta.added)
        pendingRemoves = Some(delta.removed)
    }

  override def syncFilesForDiff(diff: FilesDelta): Unit = {
    pendingAdds = Some(diff.added); pendingRemoves = Some(diff.removed)
  }

  override def completeSync(): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val prevId = PaimonFormat.latestSnapshotId(tablePath)
    expectedBase.foreach { planned =>
      if (prevId.getOrElse(0L) != planned)
        throw new IllegalStateException(
          s"concurrent writer advanced $tablePath from snapshot $planned " +
            s"to ${prevId.getOrElse(0L)} since this row-level operation " +
            "planned its file set — re-run against the new snapshot")
    }
    val id = prevId.map(_ + 1).getOrElse(1L)
    val mdir = PaimonFormat.manifestDir(tablePath)

    // schema evolution rides the schema-N chain: a sync whose schema
    // differs from the table's latest writes schema-(latest+1) and the
    // new snapshot references it (previously snapshots hardcoded schema
    // id 0, silently serving a stale schema after source evolution)
    val schemaId: Long = PaimonFormat.latestSchemaId(tablePath) match {
      case None =>
        PaimonFormat.writeSchema(tablePath, PaimonFormat.PaimonSchema(0,
          schema, partitionSpec.map(_.partitionColumnName), Map.empty))
        0L
      case Some(latest) =>
        val cur = PaimonFormat.readSchema(tablePath, latest)
        val sameFields = cur.schema.map(f =>
            (f.name, f.dataType.catalogString, f.nullable)) ==
          schema.map(f => (f.name, f.dataType.catalogString, f.nullable))
        if (sameFields) latest
        else {
          PaimonFormat.writeSchema(tablePath, PaimonFormat.PaimonSchema(
            latest + 1, schema, partitionSpec.map(_.partitionColumnName),
            cur.options))
          latest + 1
        }
    }

    pendingAdds = pendingAdds.map(_.persist())
    pendingRemoves = pendingRemoves.map(_.persist())
    // ONE fused probe job per side answers the entry count, the record
    // sum (the snapshot's row accounting) AND — for small commits —
    // ships the entries for the driver-written delta manifest; the
    // former count + toLocalIterator + sum(recordCount) trio was 3+
    // scheduler round-trips per side on every commit (guide §1.2)
    val emptyProbe = graft.util.ProbedRows.Probe[FileEntry](0L, 0L, Some(Nil))
    val addProbe = pendingAdds.map(graft.util.ProbedRows.probe(_,
      (f: FileEntry) => f.recordCount,
      PaimonConversionTarget.DriverDeltaThreshold)).getOrElse(emptyProbe)
    val removeProbe = pendingRemoves.map(graft.util.ProbedRows.probe(_,
      (f: FileEntry) => f.recordCount,
      PaimonConversionTarget.DriverDeltaThreshold)).getOrElse(emptyProbe)
    val addCount = addProbe.count
    val removeCount = removeProbe.count
    val bconf = graft.util.HadoopConfs.broadcastSession(spark)

    // base = previous base ∪ previous delta (manifest reuse, no rewrite);
    // once the list grows past the threshold it compacts DISTRIBUTED:
    // one task per manifest reads entries, a shuffle anti-join drops
    // deleted files, and each surviving partition writes its own merged
    // manifest executor-side — the driver sees only (name, size) pairs,
    // never a 10^6-entry live set (the r5 Iceberg carry-forward shape).
    val base: Seq[(String, Long)] = {
      val raw = prevId.map { p =>
        val s = PaimonFormat.readSnapshot(tablePath, p)
        Seq(s.baseManifestList, s.deltaManifestList).flatMap(l =>
          PaimonFormat.readManifestList(
            PaimonFormat.manifestListPath(tablePath, l)).map(_._1))
      }.getOrElse(Nil)
      if (raw.size <= 16)
        raw.map(n => (n, new java.io.File(s"$mdir/$n").length()))
      else {
        val tp = tablePath
        val md = mdir
        val entries = graft.util.Par.ds(spark, raw.map(n => s"$md/$n"), 128)
          .flatMap(mp => PaimonFormat.readManifest(mp, bconf.value.value)
            .map(PaimonFormat.fromEntry(_, tp)))
        val adds = entries.filter(_._1 == PaimonFormat.Kind.Add).map(_._2)
        val dels = entries.filter(_._1 == PaimonFormat.Kind.Delete)
          .map(_._2.path).toDF("__del")
        adds.join(dels, adds("path") === col("__del"), "left_anti")
          .drop("__del").as[FileEntry]
          .mapPartitions { it =>
            if (!it.hasNext) Iterator.empty
            else {
              val np = s"manifest-${UUID.randomUUID()}-compacted"
              val len = PaimonFormat.writeManifest(s"$md/$np",
                it.map(PaimonFormat.toEntry(_, PaimonFormat.Kind.Add)),
                bconf.value.value)
              Iterator((np, len))
            }
          }.collect().toSeq
      }
    }

    // delta manifest(s): small commits stay a single driver-written
    // manifest (no job); big ones author one manifest PER TASK with
    // bounded entries each — the commit's write path is O(1) on the
    // driver at any commit size
    val deltaManifests: Seq[(String, Long)] = {
      val total = addCount + removeCount
      if (total <= PaimonConversionTarget.DriverDeltaThreshold &&
          addProbe.rows.isDefined && removeProbe.rows.isDefined) {
        // the probe already shipped every entry — zero further jobs
        val deltaName = s"manifest-${UUID.randomUUID()}"
        val entries =
          addProbe.rows.get.iterator
            .map(PaimonFormat.toEntry(_, PaimonFormat.Kind.Add)) ++
          removeProbe.rows.get.iterator
            .map(PaimonFormat.toEntry(_, PaimonFormat.Kind.Delete))
        val len = PaimonFormat.writeManifest(s"$mdir/$deltaName", entries)
        Seq((deltaName, len))
      } else {
        val md = mdir
        val empty = spark.emptyDataset[(Int, FileEntry)]
        val tagged =
          pendingAdds.map(_.map(f => (PaimonFormat.Kind.Add, f)))
            .getOrElse(empty)
          .union(pendingRemoves
            .map(_.map(f => (PaimonFormat.Kind.Delete, f))).getOrElse(empty))
        val nParts = math.max(1, math.min(256, math.ceil(total.toDouble /
          PaimonConversionTarget.EntriesPerManifest).toInt))
        tagged.repartition(nParts).mapPartitions { it =>
          if (!it.hasNext) Iterator.empty
          else {
            val np = s"manifest-${UUID.randomUUID()}"
            val len = PaimonFormat.writeManifest(s"$md/$np",
              it.map { case (k, f) => PaimonFormat.toEntry(f, k) },
              bconf.value.value)
            Iterator((np, len))
          }
        }.collect().toSeq
      }
    }

    val baseListName = s"manifest-list-${UUID.randomUUID()}-base"
    val deltaListName = s"manifest-list-${UUID.randomUUID()}-delta"
    PaimonFormat.writeManifestList(s"$mdir/$baseListName", base)
    PaimonFormat.writeManifestList(s"$mdir/$deltaListName", deltaManifests)

    // real Paimon's running row accounting: delta = this commit's
    // adds − removes; total chains from the previous snapshot's total
    // (None there — a pre-r12 snapshot — keeps the chain honest by
    // staying None rather than recounting the world)
    val deltaRows = addProbe.weight - removeProbe.weight
    val totalRows: Option[Long] = prevId match {
      case None => Some(deltaRows)
      case Some(p) => PaimonFormat.readSnapshot(tablePath, p)
        .totalRecordCount.map(_ + deltaRows)
    }

    val ok = PaimonFormat.writeSnapshot(tablePath, PaimonFormat.PaimonSnapshot(
      id, schemaId, if (removeCount > 0) "COMPACT" else "APPEND",
      System.currentTimeMillis(),
      deltaListName, baseListName,   // real Paimon: bare names
      syncMeta.map(_.toJson),
      commitUser = commitStamp.map(_._1),
      commitIdentifier = commitStamp.map(_._2),
      totalRecordCount = totalRows,
      deltaRecordCount = Some(deltaRows)))
    pendingAdds.foreach(_.unpersist())
    pendingRemoves.foreach(_.unpersist())
    if (!ok) throw new IllegalStateException(
      s"concurrent writer committed snapshot $id first at $tablePath")
  }

  override def tableMetadata(): Option[SyncMetadata] =
    PaimonFormat.latestSnapshotId(tablePath)
      .flatMap(id => PaimonFormat.readSnapshot(tablePath, id).graftMetadata)
      .flatMap(SyncMetadata.fromJson)
}

object PaimonConversionTarget {
  /** Commits at or under this many entries write ONE driver-side delta
    * manifest (no Spark job — the common incremental-sync shape).
    */
  val DriverDeltaThreshold = 10000L
  /** Target entries per executor-written manifest on big commits. */
  val EntriesPerManifest = 50000L
}

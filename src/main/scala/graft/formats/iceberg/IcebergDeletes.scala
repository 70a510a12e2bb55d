package graft.formats.iceberg

import java.util.UUID

import org.apache.avro.generic.GenericRecord
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.formats.iceberg.IcebergManifests.DeleteFileRef
import graft.io.TableStore
import graft.model.{DeletionVectorsUnsupported, FileEntry}

/** Iceberg v2 row-level deletes (spec §Row-level Deletes) in graft's
  * table layout — the Iceberg analog of the Delta deletion-vector path
  * (reference delta guard: DeltaConversionSource.java:104-174; Iceberg
  * delete-file semantics: spec §Delete Formats).
  *
  * - [[appendPositionDeletes]] commits a position-delete snapshot: delete
  *   parquet files (`file_path` string, `pos` long — the spec's required
  *   position-delete columns, in the spec's required (path, pos) sort
  *   order), a `content`=1 delete manifest whose entries carry
  *   data_file.content=1, a manifest list carrying every previous
  *   manifest verbatim plus the delete manifest, and a new metadata
  *   version. The delete set is written distributed (one delete file per
  *   partition of the input) — never driver-materialized.
  * - [[appendEqualityDeletes]] commits an equality-delete snapshot: the
  *   delete parquet carries the equality columns themselves, and the
  *   manifest entry records their field ids (`equality_ids`,
  *   data_file.content=2).
  * - [[appendDataFiles]] commits an APPEND snapshot (new data manifest at
  *   the new sequence number, previous manifests carried verbatim) —
  *   needed because file-level metadata sync is refused while deletes
  *   are live, and because delete application is sequence-ordered.
  * - [[scan]] is the delete-aware read. v3 deletion vectors are masked
  *   inside the parquet scan; v2 position-delete files anti-join on
  *   (file, pos) via the scan's `_metadata` columns. Equality deletes
  *   follow the spec's ordering rule: a delete at sequence S masks only
  *   rows of data files with sequence < S — a row re-inserted AFTER the
  *   delete survives. All are plans that hold at any table size.
  */
object IcebergDeletes {

  /** Broadcast a deleted-key set only while its estimated footprint
    * stays modest: above it, the anti-join shuffles both sides — still
    * correct, never memory-bound.
    */
  private val BroadcastDeleteBytes = 64L * 1024 * 1024

  def liveDeleteRefs(m: IcebergTableMetadata, seq: Long): Seq[DeleteFileRef] =
    m.snapshotBySeq(seq) match {
      case None => Nil
      case Some(s) => IcebergManifests.liveDeleteFiles(s.manifestList)
    }

  /** Commit a position-delete snapshot. `deletes` must have columns
    * `file_path` (canonical data-file path, as the manifests spell it)
    * and `pos` (0-based row position within that file). An empty delete
    * set is a no-op (no snapshot) — a zero-entry delete manifest would
    * needlessly trip the file-level refusals.
    */
  def appendPositionDeletes(spark: SparkSession, tablePath: String,
      deletes: DataFrame): Unit = {
    // spec: position delete files sort by (file_path, pos) so readers can
    // merge-scan them against the data file
    val rows = deletes
      .select(col("file_path").cast("string").as("file_path"),
        col("pos").cast("long").as("pos"))
      .sortWithinPartitions("file_path", "pos")
    appendCommit(spark, tablePath, rows, content = 1, equalityIds = Nil)
  }

  /** Commit an equality-delete snapshot: `deletes` carries the equality
    * columns (table-schema names); every data row committed at a LOWER
    * sequence that matches all of them (null-safe) is deleted. An empty
    * delete set is a no-op (no snapshot).
    */
  def appendEqualityDeletes(spark: SparkSession, tablePath: String,
      deletes: DataFrame, equalityCols: Seq[String]): Unit = {
    // delete keys cast to the table schema's column types: a long-typed
    // key frame against an int column must not land a parquet file whose
    // physical type clashes with sibling delete files at read
    val schema = currentMeta(spark, tablePath)._2.schema
    val typed = deletes.select(equalityCols.map { c =>
      schema.fields.find(_.name == c)
        .map(f => col(c).cast(f.dataType).as(c)).getOrElse(col(c))
    }: _*)
    appendCommit(spark, tablePath, typed, content = 2,
      equalityIds = equalityIdsOf(spark, tablePath, equalityCols))
  }

  private def equalityIdsOf(spark: SparkSession, tablePath: String,
      equalityCols: Seq[String]): Seq[Int] = {
    require(equalityCols.nonEmpty, "equality delete needs >= 1 column")
    val m = currentMeta(spark, tablePath)._2
    val idByName = IcebergSchemas.leafFields(m.schema)
      .map { case (id, name, _) => name -> id }.toMap
    equalityCols.map(c => idByName.getOrElse(c,
      throw new IllegalArgumentException(
        s"equality column $c not in table schema at $tablePath")))
  }

  /** Row-level DELETE: the matching LIVE rows' (file, pos) pairs — from
    * the delete-aware keyed scan, so rows already masked by existing
    * deletes are never double-deleted — commit as one position-delete
    * snapshot. Returns the deleted count. CAS on the planned metadata
    * version; data-append races retry (see appendCommit).
    */
  def deleteWhere(spark: SparkSession, tablePath: String,
      predicate: Column): Long = {
    val (version, m) = currentMeta(spark, tablePath)
    val src = new IcebergConversionSource(spark, tablePath,
      m.properties.getOrElse("graft.table-name", "table"))
    val snap = src.snapshotAtSeq(m, m.headSequence, src.currentTable(),
      m.headSequence.toString)
    val live = scan(spark, snap, m, m.headSequence, tablePath, keyed = true)
    val victims = live.filter(predicate)
      .select(col("__scan_path").as("file_path"),
        col("__scan_pos").as("pos"))
      .persist()
    try {
      val n = victims.count()
      if (n == 0L) return 0L
      if (m.formatVersion >= 3) {
        // v3 forbids parquet position-delete files — the same victims
        // route into deletion vectors (distributed: executor-written
        // puffins, one blob per file, merged with any existing DV)
        appendDeletionVectorsOf(spark, tablePath, victims)
      } else {
        val rows = victims
          .select(col("file_path").cast("string"), col("pos").cast("long"))
          .sortWithinPartitions("file_path", "pos")
        appendCommit(spark, tablePath, rows, content = 1, equalityIds = Nil,
          expectVersion = Some(version))
      }
      n
    } finally victims.unpersist()
  }

  /** UPDATE via a row delta: rows matching `predicate` are masked by an
    * equality delete on the full row tuple and the re-written rows land
    * as data files AT THE SAME SEQUENCE NUMBER in the SAME snapshot — the
    * spec's `delete seq > data seq` rule makes the replacements survive
    * the delete that kills their originals, so readers never observe the
    * rows missing. Returns the number of updated rows.
    */
  def updateWhere(spark: SparkSession, tablePath: String,
      predicate: Column, assignments: Map[String, Column]): Long = {
    require(assignments.nonEmpty, "updateWhere needs >= 1 assignment")
    val (version, m) = currentMeta(spark, tablePath)
    val name = m.properties.getOrElse("graft.table-name", "table")
    val src = new IcebergConversionSource(spark, tablePath, name)
    val schema = m.schema
    val unknown = assignments.keySet -- schema.fieldNames.toSet
    require(unknown.isEmpty, s"unknown update columns: $unknown")
    val isV3 = m.formatVersion >= 3
    // v3: updated rows must KEEP their row ids (spec §Row Lineage —
    // an update is the same row at a new sequence), so the scan resolves
    // each matched row's id and the rewrite materializes it; the
    // _last_updated_sequence_number stays null and inherits the NEW
    // file's sequence — exactly "updated at this commit"
    val matched =
      (if (isV3)
        IcebergRowLineage.keyedScanWithLineage(spark, tablePath, m,
          m.headSequence, name)
      else src.toDataFrame).filter(predicate).persist()
    try {
      val nMatched = matched.count()
      if (nMatched == 0L) return 0L
      // assignments cast to the schema's column type: a `lit(99L)` into
      // an int column must not flip the parquet physical type under the
      // fixed-schema scan
      val rewritten = matched.select(schema.fields.toSeq.map { f =>
        assignments.get(f.name).map(_.cast(f.dataType).as(f.name))
          .getOrElse(col(f.name))
      } ++ (if (isV3)
        Seq(col("__row_id").as(IcebergRowLineage.RowIdCol)) else Nil): _*)
      val seq = m.lastSequenceNumber + 1
      val dataDir = s"$tablePath/data/update-$seq-${UUID.randomUUID()}"
      stageData(rewritten, m, dataDir)
      // equality on every top-level column: deletes ALL copies of each
      // matched tuple; each copy was rewritten, so multiplicity holds
      appendCommit(spark, tablePath, matched.select(
          schema.fieldNames.toSeq.map(col): _*),
        content = 2,
        equalityIds = equalityIdsOf(spark, tablePath,
          schema.fieldNames.toSeq),
        dataDir = Some(dataDir), expectVersion = Some(version),
        v3LineagePreserved = isV3)
      nMatched
    } finally matched.unpersist()
  }

  /** MERGE INTO with upsert semantics: target rows whose `keyCols` match
    * a source row are masked by an equality delete on the keys, and EVERY
    * source row lands as new data files at the same sequence in the same
    * snapshot (inserts and updates alike survive the delete by the
    * sequence rule). Refuses duplicate source keys, like the Delta twin.
    * Returns (matched, inserted) row counts.
    */
  def mergeInto(spark: SparkSession, tablePath: String, source: DataFrame,
      keyCols: Seq[String]): (Long, Long) = {
    require(keyCols.nonEmpty, "mergeInto needs >= 1 key column")
    val (version, m) = currentMeta(spark, tablePath)
    val src = new IcebergConversionSource(spark, tablePath,
      m.properties.getOrElse("graft.table-name", "table"))
    val schema = m.schema
    val missing = schema.fieldNames.toSet -- source.columns.toSet
    require(missing.isEmpty, s"source lacks table columns: $missing")
    require(keyCols.forall(schema.fieldNames.contains),
      s"key columns must exist in the table schema: $keyCols")
    val srcProj = source.select(schema.fieldNames.toSeq.map(col): _*)
      .persist()
    try {
      // one grouped aggregate answers count + duplicate-key refusal
      val srcCount = graft.util.MergeChecks.countNoDupKeys(srcProj, keyCols)
      if (srcCount == 0L) return (0L, 0L)
      val matched = src.toDataFrame
        .join(srcProj.select(keyCols.map(col): _*), keyCols, "left_semi")
        .count()
      val seq = m.lastSequenceNumber + 1
      val dataDir = s"$tablePath/data/merge-$seq-${UUID.randomUUID()}"
      val isV3 = m.formatVersion >= 3
      // v3: a MATCHED source row is the target row updated — it keeps the
      // target's row id (materialized); an unmatched one is an insert and
      // leaves _row_id null (inherits a fresh id from first_row_id + pos).
      // Duplicate-key target copies collapse into one surviving row; the
      // smallest id is kept (deterministic).
      val staged =
        if (!isV3) srcProj
        else {
          val name = m.properties.getOrElse("graft.table-name", "table")
          val tgtIds = IcebergRowLineage
            .keyedScanWithLineage(spark, tablePath, m, m.headSequence, name)
            .groupBy(keyCols.map(col): _*)
            .agg(min(col("__row_id")).as(IcebergRowLineage.RowIdCol))
          srcProj.join(tgtIds, keyCols, "left")
            .select(schema.fieldNames.toSeq.map(col) :+
              col(IcebergRowLineage.RowIdCol): _*)
        }
      stageData(staged, m, dataDir)
      appendCommit(spark, tablePath,
        srcProj.select(keyCols.map(col): _*), content = 2,
        equalityIds = equalityIdsOf(spark, tablePath, keyCols),
        dataDir = Some(dataDir), expectVersion = Some(version),
        v3LineagePreserved = isV3)
      (matched, srcCount - matched)
    } finally srcProj.unpersist()
  }

  /** Commit an APPEND snapshot: the parquet files under `parquetDir`
    * become a new data manifest at the new sequence number; previous
    * manifests (data AND delete) are carried verbatim, so their
    * sequence numbers — the delete-application ordering — are preserved.
    * Entries carry no column bounds (stat skipping simply cannot prune
    * them — safe, never wrong).
    */
  /** `toBranch`: write-audit-publish — the append lands on the named
    * branch (parent = branch head, ref moved), the main head is
    * untouched; audit through `option("branch", name)` reads, then
    * [[IcebergRefs.fastForward]] publishes.
    */
  def appendDataFiles(spark: SparkSession, tablePath: String,
      parquetDir: String, toBranch: Option[String] = None): Unit =
    appendCommit(spark, tablePath, rows = null, content = 0,
      equalityIds = Nil, dataDir = Some(parquetDir), toBranch = toBranch)

  /** Upgrade a v2 table to format-version 3 in one metadata commit (the
    * `ALTER TABLE SET 'format-version'='3'` surface): every live data
    * entry gets an explicit `first_row_id` (spec §Row Lineage upgrade
    * assignment, see [[IcebergRowLineage.assignOnUpgrade]]) and
    * `next-row-id` starts past the last. No data file moves; the new
    * snapshot references the same files through rewritten manifests, so
    * a change-feed diff across it is empty. Live parquet position-delete
    * FILES refuse (v3 forbids them — rewriteWithDeletes first); equality
    * deletes carry forward (still legal in v3). Returns false when the
    * table is already v3.
    */
  def upgradeToV3(spark: SparkSession, tablePath: String): Boolean = {
    val (version, m) = currentMeta(spark, tablePath)
    if (m.formatVersion >= 3) return false
    val posFiles = liveDeleteRefs(m, m.headSequence)
      .filter(r => r.content == 1 && !r.isDeletionVector)
    require(posFiles.isEmpty,
      s"table at $tablePath has ${posFiles.size} live parquet " +
        "position-delete file(s); v3 forbids them — rewriteWithDeletes " +
        "first, then upgrade")
    val mdir = IcebergMetadata.metadataDir(tablePath)
    if (m.currentSnapshot.isEmpty) {
      // empty table: nothing to assign — flip the version in place
      val ok0 = IcebergMetadata.write(tablePath, version + 1, m.copy(
        formatVersion = 3, nextRowId = 0L,
        lastUpdatedMs = System.currentTimeMillis()))
      if (!ok0) throw new IllegalStateException(
        s"concurrent writer committed metadata v${version + 1} first at " +
          s"$tablePath — re-run the upgrade against the new snapshot")
      return true
    }
    val carried = m.currentSnapshot
      .map(s => IcebergManifests.readManifestListRecords(s.manifestList))
      .getOrElse(Nil)
    val (dataRecs, deleteRecs) =
      carried.partition(r => IcebergManifests.contentOf(r) == 0)
    val (lineageSummaries, total) =
      IcebergRowLineage.assignOnUpgrade(spark, dataRecs, m.schema, mdir,
        IcebergMetadata.specFieldsById(m))
    val snapshotId = m.lastSequenceNumber + 1
    val listPath =
      s"$mdir/snap-$snapshotId-${UUID.randomUUID()}-manifest-list.avro"
    IcebergManifests.writeManifestListRecords(listPath, deleteRecs,
      lineageSummaries, TableStore(spark))
    val now = System.currentTimeMillis()
    val ok = IcebergMetadata.write(tablePath, version + 1, m.copy(
      formatVersion = 3,
      lastSequenceNumber = snapshotId,
      lastUpdatedMs = now,
      currentSnapshotId = snapshotId,
      nextRowId = total,
      snapshots = m.snapshots :+
        IcebergSnapshot(snapshotId, snapshotId, now, listPath, None,
          "replace", parentSnapshotId = m.currentSnapshot.map(_.snapshotId),
          firstRowId = Some(0L))))
    if (!ok) throw new IllegalStateException(
      s"concurrent writer committed metadata v${version + 1} first at " +
        s"$tablePath — re-run the upgrade against the new snapshot")
    true
  }

  /** Commit DELETION VECTORS (Iceberg spec v3): one puffin file holding
    * one `deletion-vector-v1` blob per masked data file, referenced from
    * a delete manifest whose entries carry the v3 fields 143-145. A v2
    * table upgrades to format-version 3 in the same commit (writes
    * other than this refuse on v3 — see the gate in [[appendCommit]]).
    *
    * Spec rule enforced here: AT MOST ONE live DV per data file — a new
    * DV for an already-masked file MERGES the old positions and the old
    * manifest entry is dropped (its manifest rewritten without it).
    *
    * `dvs` maps data-file path → deleted row positions within that file
    * (driver-side convenience; [[appendDeletionVectorsOf]] is the
    * distributed form row-level DML routes through).
    */
  def appendDeletionVectors(spark: SparkSession, tablePath: String,
      dvs: Map[String, Seq[Long]], attempt: Int = 0): Unit = {
    require(dvs.nonEmpty, "no deletion vectors to commit")
    import spark.implicits._
    val victims = dvs.toSeq
      .flatMap { case (f, ps) => ps.map(p => (f, p)) }
      .toDF("file_path", "pos")
    appendDeletionVectorsOf(spark, tablePath, victims, attempt)
  }

  /** Distributed DV commit: `victims` is a (file_path, pos) DataFrame —
    * the shape a predicate delete produces. Positions stay distributed
    * end to end: liveness validation is an anti-join, superseded DVs
    * decode and merge executor-side, and puffin files are written ONE
    * PER SHUFFLE PARTITION by the tasks holding the positions (per-task
    * memory is bounded by one file's position set at a time). The
    * driver sees only O(touched data files) blob coordinates — the rows
    * it authors manifest entries from anyway.
    */
  def appendDeletionVectorsOf(spark: SparkSession, tablePath: String,
      victims: DataFrame, attempt: Int = 0): Unit = {
    import spark.implicits._
    val (version, m) = currentMeta(spark, tablePath)
    val keyed = victims.select(
      graft.util.PathCols.canonical(col("file_path")).as("file"),
      col("pos").cast("long").as("pos"))
    val manifestList = m.currentSnapshot.map(_.manifestList).getOrElse(
      throw new IllegalStateException(s"empty table at $tablePath"))
    // every referenced file must be a live data file — a DV for an
    // unknown path would silently mask nothing
    val liveFiles = IcebergManifests.liveDataFileSeqs(spark, manifestList)
      .toDF("lf", "ls").select("lf")
    val touched = keyed.select("file").distinct()
    val unknown = touched
      .join(liveFiles, col("file") === col("lf"), "left_anti")
      .as[String].collect()
    require(unknown.isEmpty,
      s"deletion vectors reference non-live data files: ${unknown.mkString(", ")}")
    val touchedSet = touched.as[String].collect().toSet
    require(touchedSet.nonEmpty, "no deletion vectors to commit")

    // partitioned tables: each DV entry must carry the REFERENCED data
    // file's partition tuple (spec: a delete file's partition matches the
    // rows it deletes, and external readers prune delete manifests by
    // it). Looked up from the live data manifests with a distributed
    // scan semi-joined to the touched set — O(touched files) rows reach
    // the driver, the same rows the manifest writer needs anyway.
    val partSpecFields: Seq[(String, Int)] =
      IcebergMetadata.specFieldIds(m.schema, m.partitionSpec, m.otherSpecs)
    val partFieldNames: Seq[String] = partSpecFields.map(_._1)
    val partByFile: Map[String, Seq[graft.model.PartitionMember]] =
      if (partFieldNames.isEmpty) Map.empty
      else {
        graft.plans.Placement.dataset(spark, IcebergManifests.liveFiles(
            spark, IcebergManifests.dataManifests(manifestList), m.schema))
          .map(fe => (fe.path, fe.partitionValues))
          .toDF("pf", "pvals")
          .join(touched, col("pf") === col("file"), "left_semi")
          .as[(String, Seq[graft.model.PartitionMember])]
          .collect().toMap
      }

    // merge rule: existing live DVs for the same files fold in
    // (decoded executor-side like every other vector read)
    val oldRefs = liveDeleteRefs(m, m.headSequence)
    require(oldRefs.forall(r => r.isDeletionVector || r.content == 2),
      s"table at $tablePath has live parquet position-delete files; v3 " +
        "forbids them — rewriteWithDeletes first")
    val superseded = oldRefs.filter(r =>
      r.isDeletionVector && r.referencedDataFile
        .map(graft.util.PathUtils.canonical).exists(touchedSet.contains))
    val oldPositions =
      if (superseded.isEmpty) None
      else Some {
        val bconf = graft.util.HadoopConfs.broadcastSession(spark)
        graft.util.Par.ds(spark,
            superseded.map(r => (r.path, r.referencedDataFile.get,
              r.contentOffset.get, r.contentSizeBytes.get)), 64)
          .flatMap { case (p, f, off, len) =>
            Puffin.readDeletionVector(p, off, len, bconf.value.value).iterator
              .map(ps => (graft.util.PathUtils.canonical(f), ps))
          }.toDF("file", "pos")
      }
    val all = (Seq(keyed) ++ oldPositions).reduce(_ union _).distinct()

    val mdir = IcebergMetadata.metadataDir(tablePath)
    val snapshotId = m.lastSequenceNumber + 1
    val seq = snapshotId
    // one puffin per non-empty shuffle partition; a file's positions are
    // co-located by the repartition, so each file gets exactly one blob
    val wconf = graft.util.HadoopConfs.broadcastSession(spark)
    val blobMetas: Seq[(String, String, Long, Long, Long, Long)] =
      all.repartition(col("file")).sortWithinPartitions("file", "pos")
        .as[(String, Long)]
        .mapPartitions { it =>
          if (!it.hasNext) Iterator.empty
          else {
            val dvs = scala.collection.mutable.Buffer.empty[Puffin.Dv]
            var curFile: String = null
            var buf = scala.collection.mutable.ArrayBuffer.empty[Long]
            def flush(): Unit = if (curFile != null) {
              dvs += Puffin.Dv(curFile, buf.toSeq)
              buf = scala.collection.mutable.ArrayBuffer.empty[Long]
            }
            it.foreach { case (f, p) =>
              if (f != curFile) { flush(); curFile = f }
              buf += p
            }
            flush()
            val puffinPath =
              s"$tablePath/data/dv-${UUID.randomUUID()}.puffin"
            val store = new TableStore(wconf.value.value)
            val blobs = Puffin.writeDeletionVectors(puffinPath,
              snapshotId, seq, dvs.toSeq, store)
            val size = store.length(graft.util.PathUtils.canonical(puffinPath))
            dvs.toSeq.zip(blobs).iterator.map { case (dv, b) =>
              (dv.referencedDataFile, puffinPath, b.offset, b.length,
                dv.positions.size.toLong, size)
            }
          }
        }.collect().toSeq.sortBy(_._1)

    val store = new TableStore(wconf.value.value)
    val manifestPath = s"$mdir/m-${UUID.randomUUID()}-dv-deletes.avro"
    val len = IcebergManifests.writeManifest(manifestPath,
      blobMetas.iterator.map { case (file, pf, off, blen, card, psize) =>
        IcebergManifests.dvEntry(IcebergManifests.Status.Added, snapshotId,
          pf, psize, card, file, off, blen,
          schema = m.schema, specFields = partSpecFields,
          partitionValues = partByFile.getOrElse(file, Nil))
      }, store)
    val dvManifest = IcebergManifests.ManifestSummary(manifestPath, len,
      snapshotId, blobMetas.size, 0, 0, blobMetas.map(_._5).sum, 0L,
      content = 1, specId = m.defaultSpecId)

    // carry forward every previous manifest; delete manifests holding a
    // superseded DV entry are rewritten without it (spec: one DV per
    // data file)
    val supersededManifests = superseded.map(_.path).toSet
    val allCarried = m.currentSnapshot
      .map(s => IcebergManifests.readManifestListRecords(s.manifestList))
      .getOrElse(Nil)
    // the FIRST DV commit upgrades the table v2→v3: the spec's upgrade
    // step assigns row lineage to every existing row, done here as an
    // explicit per-entry first_row_id rewrite of the data manifests (in
    // list order) with next-row-id starting past the last — so every
    // later rewrite (update/merge/compaction) can resolve row ids
    val upgrading = m.formatVersion < 3
    val (dataRecs, carried) =
      if (upgrading) allCarried.partition(r => IcebergManifests.contentOf(r) == 0)
      else (Nil, allCarried)
    val (lineageSummaries, upgradeRowTotal) =
      if (upgrading)
        IcebergRowLineage.assignOnUpgrade(spark, dataRecs, m.schema, mdir,
        IcebergMetadata.specFieldsById(m))
      else (Nil, 0L)
    val conf = graft.util.HadoopConfs.session(spark)
    val (needRewrite, untouched) = carried.partition { r =>
      IcebergManifests.contentOf(r) == 1 && supersededManifests.nonEmpty && {
        IcebergManifests.readManifest(r.get("manifest_path").toString, conf)
          .exists { e =>
            val df = e.get("data_file").asInstanceOf[GenericRecord]
            val ref = Option(IcebergManifests
              .fieldOr(df, "referenced_data_file")).map(_.toString)
            ref.map(graft.util.PathUtils.canonical).exists(touchedSet.contains)
          }
      }
    }
    val rewritten = needRewrite.flatMap { r =>
      val kept = IcebergManifests
        .readManifest(r.get("manifest_path").toString, conf)
        .filter { e =>
          val df = e.get("data_file").asInstanceOf[GenericRecord]
          val ref = Option(IcebergManifests
            .fieldOr(df, "referenced_data_file")).map(_.toString)
          !ref.map(graft.util.PathUtils.canonical).exists(touchedSet.contains)
        }.toSeq
      if (kept.isEmpty) None
      else {
        // carried entries were not added by THIS snapshot: re-stamp them
        // status=EXISTING (keeping their original snapshot_id) so external
        // readers' entry status agrees with the list-record counts below
        kept.foreach(_.put("status", IcebergManifests.Status.Existing))
        val p = s"$mdir/m-${UUID.randomUUID()}-dv-carry.avro"
        val l = IcebergManifests.writeManifest(p, kept.iterator, store)
        Some(IcebergManifests.ManifestSummary(p, l,
          IcebergManifests.longOf(r.get("sequence_number"), seq),
          0, kept.size, 0, 0L, kept.map { e =>
            e.get("data_file").asInstanceOf[GenericRecord]
              .get("record_count").asInstanceOf[Long]
          }.sum, content = 1,
          specId = r.get("partition_spec_id").asInstanceOf[Int]))
      }
    }
    val listPath =
      s"$mdir/snap-$snapshotId-${UUID.randomUUID()}-manifest-list.avro"
    IcebergManifests.writeManifestListRecords(listPath, untouched,
      lineageSummaries ++ rewritten :+ dvManifest, store)

    val now = System.currentTimeMillis()
    val ok = IcebergMetadata.write(tablePath, version + 1, m.copy(
      formatVersion = 3,
      lastSequenceNumber = seq,
      lastUpdatedMs = now,
      currentSnapshotId = snapshotId,
      nextRowId = if (upgrading) upgradeRowTotal else m.nextRowId,
      snapshots = m.snapshots :+
        IcebergSnapshot(snapshotId, seq, now, listPath, None, "delete",
          parentSnapshotId = m.currentSnapshot.map(_.snapshotId))))
    if (!ok) {
      // a DV commit is re-plannable under ANY interleaving: everything —
      // liveness of the referenced files, the merge against whatever DV
      // now masks them, the carry-forward — derives from the head, so a
      // lost CAS just re-runs the whole plan against the new head
      if (attempt >= MaxCommitRetries) throw new IllegalStateException(
        s"concurrent writer committed metadata v${version + 1} first at " +
          s"$tablePath and retries are exhausted — re-run")
      appendDeletionVectorsOf(spark, tablePath, victims, attempt + 1)
    }
  }

  /** Stage rewritten/new data rows for a commit: hive-partitioned by the
    * table's partition columns so each staged file carries its partition
    * tuple (parsed back from the path into the manifest entry — the
    * metadata plane the scan re-injects partition values from). A
    * partition column absent from the frame (hidden transform-only
    * partitioning from an external writer) refuses — writing files with
    * no partition tuple would serve NULL partition columns.
    */
  private def stageData(df: DataFrame, m: IcebergTableMetadata,
      dir: String): Unit = {
    val partCols = m.partitionSpec.map(_.partitionColumnName)
    if (partCols.isEmpty) df.write.parquet(dir)
    else {
      val missing = partCols.filterNot(df.columns.contains)
      require(missing.isEmpty,
        s"rewrite on a partitioned table needs partition column(s) " +
          s"${missing.mkString(", ")} in the scan — hidden " +
          "(transform-only) partitioning has no column to lay files " +
          "out by; rewrite through an engine that plans the transform")
      df.write.partitionBy(partCols: _*).parquet(dir)
    }
  }

  private def currentMeta(spark: SparkSession, tablePath: String)
      : (Long, IcebergTableMetadata) = {
    val version = IcebergMetadata.currentVersion(tablePath).getOrElse(
      throw new IllegalStateException(s"no Iceberg table at $tablePath"))
    (version, IcebergMetadata.read(tablePath, version))
  }

  /** Rewrite the table as its delete-applied rows and commit a REPLACE
    * snapshot whose manifest list holds ONLY the fresh data manifest —
    * every delete file is purged, so the file-level surfaces (sync,
    * `format("graft")`, snapshot listing) work again. This is the
    * "compact/rewrite the table" remedy the refusal messages point to.
    * Returns true if a rewrite happened (false = no live deletes, no-op).
    */
  /** Rewrite the table as its delete-applied rows in a REPLACE snapshot.
    * `zorderBy` (optional, 1–4 columns) clusters the rewrite by the
    * interleaved-bit order of those columns — Iceberg's
    * rewrite_data_files-with-sort, sharing [[graft.operators.ZOrder]]
    * with Delta's OPTIMIZE ZORDER — so the one pass that retires delete
    * debt also fixes the layout. With no deletes and no clustering
    * request this is a no-op (returns false).
    */
  def rewriteWithDeletes(spark: SparkSession, tablePath: String,
      zorderBy: Seq[String] = Nil,
      targetFileBytes: Long = 128L << 20): Boolean = {
    val (version, m) = currentMeta(spark, tablePath)
    if (liveDeleteRefs(m, m.headSequence).isEmpty && zorderBy.isEmpty)
      return false
    val name = m.properties.getOrElse("graft.table-name", "table")
    val src = new IcebergConversionSource(spark, tablePath, name)
    val seq = m.lastSequenceNumber + 1
    val dataDir = s"$tablePath/data/compact-$seq-${UUID.randomUUID()}"
    val isV3 = m.formatVersion >= 3
    // scan PINNED at the planned sequence, not the live head: an append
    // landing between this read and the REPLACE commit is carried
    // forward by the retry — if the scan had floated to the new head,
    // those rows would be BOTH rewritten and carried (duplicates)
    // v3: compaction copies rows UNMODIFIED, so the spec requires both
    // lineage fields written explicitly — the resolved row id AND the
    // original last-updated sequence (inheriting the replace commit's
    // sequence would falsely mark every row as updated now)
    val rows =
      if (!isV3) src.toDataFrameAt(m.headSequence)
      else IcebergRowLineage
        .keyedScanWithLineage(spark, tablePath, m, m.headSequence, name)
        .withColumnRenamed("__row_id", IcebergRowLineage.RowIdCol)
        .withColumnRenamed("__last_seq", IcebergRowLineage.LastUpdatedCol)
        .drop("__scan_path", "__scan_pos")
    val out =
      if (zorderBy.isEmpty) rows
      else {
        zorderBy.foreach(c => require(m.schema.fieldNames.contains(c),
          s"zorder column $c is not in the table schema"))
        val totalBytes = src.filesAtSeq(m, m.headSequence)
          .agg(org.apache.spark.sql.functions.sum("fileSizeBytes"))
          .head().getLong(0)
        val nOut = math.max(1L,
          (totalBytes + targetFileBytes - 1) / targetFileBytes).toInt
        graft.operators.ZOrder.clusterize(rows, zorderBy, nOut,
          inputBytes = totalBytes)
      }
    stageData(out, m, dataDir)
    // CAS against the version the rewrite SCANNED: a commit landing
    // between scan and REPLACE would otherwise be silently discarded
    appendCommit(spark, tablePath, rows = null, content = 0,
      equalityIds = Nil, dataDir = Some(dataDir), replace = true,
      expectVersion = Some(version), v3LineagePreserved = isV3)
    true
  }

  /** Shared commit writer for the append kinds: stage the file(s), write
    * the manifests, write a manifest list carrying every previous
    * manifest record verbatim (or NONE for a replace), CAS the next
    * metadata version.
    *
    * Shapes: delete-only (`rows` + content 1|2), data-only (`dataDir` +
    * content 0), or a ROW DELTA (`rows` with content 2 AND `dataDir`) —
    * one snapshot holding both a delete manifest and a data manifest at
    * the same sequence number, the atomic UPDATE/MERGE commit shape
    * (spec §Sequence Numbers: the same-sequence data files survive the
    * delete, all lower sequences are masked).
    *
    * `expectVersion` is the CAS guard: when set, a current metadata
    * version different from it fails loudly BEFORE staging the commit
    * (the caller planned against that version's state).
    */
  /** Can this operation re-land on top of `m` after losing the CAS it
    * planned at `baseSeq`? Mirrors Iceberg's own retry validation
    * (`commit.retry-num-retries` + `validateNoConflicting*`): every
    * intervening snapshot must be a pure data APPEND — operation
    * `append`, parent's manifest records all carried forward, only
    * content-0 (data) manifests added. Position deletes and data appends
    * commute with such appends; EQUALITY deletes do not (a new
    * sequence number would extend their reach onto the concurrently
    * appended rows), nor does a replace (it would drop them) — callers
    * gate on that before retrying.
    */
  private def appendOnlySince(m: IcebergTableMetadata,
      baseSeq: Long): Boolean = {
    val newer = m.snapshots.filter(_.sequenceNumber > baseSeq)
      .sortBy(_.sequenceNumber)
    if (newer.isEmpty) return false
    def listRecords(s: IcebergSnapshot): Map[String, Int] =
      IcebergManifests.readManifestListRecords(s.manifestList)
        .map(r => r.get("manifest_path").toString ->
          r.get("content").asInstanceOf[Int]).toMap
    var parent: Map[String, Int] = m.snapshots
      .filter(_.sequenceNumber <= baseSeq).sortBy(_.sequenceNumber)
      .lastOption.map(listRecords).getOrElse(Map.empty)
    newer.forall { s =>
      val cur = listRecords(s)
      val ok = s.operation == "append" &&
        parent.keySet.subsetOf(cur.keySet) &&
        (cur.keySet -- parent.keySet).forall(cur(_) == 0)
      parent = cur
      ok
    }
  }

  /** Returns false ONLY when `txnGuard = Some(key -> id)` finds the
    * table already stamped with `properties(key) >= id` — the
    * exactly-once replay skip, re-checked against EVERY metadata read
    * (initial and each conflict retry), so a concurrent/zombie replay of
    * the same batch that lands between our reads cannot commit twice.
    */
  private[iceberg] def appendCommit(spark: SparkSession, tablePath: String,
      rows: DataFrame, content: Int, equalityIds: Seq[Int],
      dataDir: Option[String] = None, replace: Boolean = false,
      expectVersion: Option[Long] = None,
      extraProps: Map[String, String] = Map.empty,
      txnGuard: Option[(String, Long)] = None,
      toBranch: Option[String] = None,
      // v3 row lineage: the caller asserts every row COPIED into the
      // staged data files carries its original id in a materialized
      // `_row_id` column (see IcebergRowLineage) — the spec's condition
      // for rewrites on a v3 table. Fresh rows may leave it null (they
      // inherit first_row_id + pos, a fresh id).
      v3LineagePreserved: Boolean = false): Boolean = {
    require(toBranch.isEmpty || (!replace && content == 0),
      "branch-targeted commits support data appends only (WAP)")
    // retryable past pure data appends: data-only appends and POSITION
    // deletes (they name their files explicitly); REPLACE commits retry
    // too — sequence-aware: the intervening appends' manifests are
    // CARRIED into the re-landed replace, so the appended rows survive
    // while the planned base is still the one being replaced. Equality
    // deletes stay strict: re-landing one past an append would extend
    // the delete's scope to rows it never scanned (delete seq > their
    // data seq) — rows silently vanish.
    val retryable = !replace && content != 2 && equalityIds.isEmpty
    val replaceRetryable = replace && content == 0 && equalityIds.isEmpty &&
      expectVersion.isDefined
    // a BLIND data append stages only fresh files and reads nothing, so
    // it commutes with ANY intervening commit (Iceberg's fast-append /
    // Delta's most-retryable class): manifests are re-authored against
    // the new head's schema and the carry-forward picks up whatever the
    // intervening replace/delete left live
    val blindAppend = !replace && rows == null && content == 0 &&
      equalityIds.isEmpty
    // an EQUALITY delete may retry past pure data appends ONLY when
    // every appended file's stats prove it holds no row the delete
    // keys could match (disjoint min/max on >=1 equality column) —
    // re-landing bumps the delete's sequence above the appended files,
    // so a possible match would silently vanish (the Delta twin's
    // ReadFootprint rule, stats-proven here from the delete keys)
    val eqRetryable = !replace && content == 2 && equalityIds.nonEmpty &&
      rows != null
    // the sequence the operation planned against (REPLACE victims' high
    // bound / the eq-delete's scanned snapshot)
    val plannedBaseSeq: Option[Long] = expectVersion
      .filter(_ => replace || eqRetryable)
      .map(v => IcebergMetadata.read(tablePath, v).lastSequenceNumber)
    def txnAlreadyCommitted(meta: IcebergTableMetadata): Boolean =
      txnGuard.exists { case (key, id) =>
        meta.properties.get(key).exists(_.toLong >= id)
      }
    var (version, m) = currentMeta(spark, tablePath)
    // v3 write gates. BLIND data appends are always fine (fresh rows get
    // fresh ids). Parquet position-delete FILES are forbidden in v3
    // unconditionally — deletion vectors ([[appendDeletionVectorsOf]])
    // replace them. Everything that COPIES existing rows (row-delta
    // updates/merges, replaces) is admitted only when the caller
    // materialized their lineage (`v3LineagePreserved`) — updateWhere /
    // mergeInto / rewriteWithDeletes do; a raw append of recycled rows
    // without it would silently fork row ids.
    if (m.formatVersion >= 3 && !blindAppend) {
      if (content == 1)
        throw new UnsupportedOperationException(
          s"Iceberg table at $tablePath is format-version 3: position " +
            "delete FILES are forbidden by the spec — use deletion " +
            "vectors (deleteWhere / appendDeletionVectors)")
      // a STANDALONE equality delete copies no rows — it only deletes —
      // so it needs no lineage handling and stays legal in v3 (spec:
      // only position-delete FILES were replaced by DVs). A row delta
      // (delete + data files) and a replace DO copy rows and need the
      // caller's materialized-lineage assertion.
      val pureEqDelete = content == 2 && dataDir.isEmpty
      if (!pureEqDelete && !v3LineagePreserved)
        throw new UnsupportedOperationException(
          s"Iceberg table at $tablePath is format-version 3: rewrites " +
            "must preserve existing rows' lineage — route through " +
            "updateWhere/mergeInto/rewriteWithDeletes (which materialize " +
            "_row_id), or copy the table to a v2 target")
    }
    if (txnAlreadyCommitted(m)) return false

    // global min/max of the delete KEYS per equality column, canonical-
    // encoded — ONE agg job, computed lazily only when an eq-delete
    // actually loses its CAS
    lazy val deleteKeyBounds: Map[String, (String, String,
        org.apache.spark.sql.types.DataType)] = {
      val byId = IcebergSchemas.leafFields(m.schema)
        .map { case (id, nm, dt) => id -> ((nm, dt)) }.toMap
      val eqCols = equalityIds.flatMap(byId.get)
        .filter { case (nm, _) => rows.columns.contains(nm) }
      if (eqCols.isEmpty) Map.empty
      else {
        import org.apache.spark.sql.functions.{min => fmin, max => fmax, col => fcol}
        val aggs = eqCols.flatMap { case (nm, _) =>
          Seq(fmin(fcol(nm)).as(s"__mn_$nm"), fmax(fcol(nm)).as(s"__mx_$nm"))
        }
        val r = rows.agg(aggs.head, aggs.tail: _*).head()
        eqCols.flatMap { case (nm, dt) =>
          for {
            mn <- graft.model.StatCodec.encode(r.getAs[Any](s"__mn_$nm"), dt)
            mx <- graft.model.StatCodec.encode(r.getAs[Any](s"__mx_$nm"), dt)
          } yield nm -> ((mn, mx, dt))
        }.toMap
      }
    }

    // every data file appended since `sinceSeq` is stats-provably
    // DISJOINT from the delete keys on >=1 equality column — streamed
    // manifest read, short-circuits on the first unprovable file
    def newAddsDisjoint(meta: IcebergTableMetadata, sinceSeq: Long)
        : Boolean = {
      if (deleteKeyBounds.isEmpty) return false
      val baseSet = meta.snapshots.filter(_.sequenceNumber <= sinceSeq)
        .sortBy(_.sequenceNumber).lastOption
        .map(s => IcebergManifests.readManifestListRecords(s.manifestList)
          .map(_.get("manifest_path").toString).toSet)
        .getOrElse(Set.empty[String])
      val newManifests = meta.currentSnapshot
        .map(s => IcebergManifests.readManifestListRecords(s.manifestList)
          .filter(r => !baseSet.contains(r.get("manifest_path").toString) &&
            IcebergManifests.contentOf(r) == 0)
          .map(_.get("manifest_path").toString))
        .getOrElse(Nil)
      newManifests.forall { mp =>
        IcebergManifests.readManifest(mp,
          graft.util.HadoopConfs.session(spark)).forall { rec =>
          val (_, fe) = IcebergManifests.fromEntry(rec, meta.schema)
          deleteKeyBounds.exists { case (nm, (dmn, dmx, dt)) =>
            fe.columnStats.find(_.field == nm).exists(st =>
              (st.min, st.max) match {
                case (Some(fmn), Some(fmx)) =>
                  graft.model.StatCodec.lt(fmx, dmn, dt) ||
                    graft.model.StatCodec.lt(dmx, fmn, dt)
                case _ => false
              })
          }
        }
      }
    }

    expectVersion.filter(_ != version).foreach { v =>
      val plannedSeq = IcebergMetadata.read(tablePath, v).lastSequenceNumber
      val admits = blindAppend ||
        ((retryable || replaceRetryable) && appendOnlySince(m, plannedSeq)) ||
        (eqRetryable && appendOnlySince(m, plannedSeq) &&
          newAddsDisjoint(m, plannedSeq))
      if (!admits)
        throw new IllegalStateException(
          s"concurrent writer moved $tablePath from metadata v$v to " +
            s"v$version since this operation planned and the commits " +
            "conflict — re-run against the new snapshot")
    }
    val now = System.currentTimeMillis()
    val conf = spark.sessionState.newHadoopConf()
    val store = new TableStore(conf)
    val mdir = IcebergMetadata.metadataDir(tablePath)

    // per-file record counts AND column bounds from a DISTRIBUTED footer
    // scan — O(files per commit) rows collected (the manifest is authored
    // on the driver regardless), never a driver-side footer loop; the
    // bounds become Iceberg lower/upper_bounds so stat skipping works on
    // rewritten/new files
    def staged(dir: String): Seq[FileEntry] = {
      val listed = graft.sources.ParquetFooters.listFiles(dir, conf)
      if (listed.isEmpty) Nil
      else graft.sources.ParquetFooters.fileEntries(spark, dir, listed)
        .filter(_.recordCount > 0)
        .collect().toSeq
    }

    def writeOneManifest(files: Seq[FileEntry],
        manifestContent: Int, ids: Seq[Int], snapshotId: Long,
        rowIdBase: Option[Long] = None)
        : Option[IcebergManifests.ManifestSummary] = {
      if (files.isEmpty) return None
      val suffix = if (manifestContent == 0) "append" else "deletes"
      val manifestPath = s"$mdir/m-${UUID.randomUUID()}-$suffix.avro"
      var nFiles = 0
      var nRows = 0L
      val len = IcebergManifests.writeManifest(manifestPath,
        files.iterator.map { fe =>
          // v3: explicit per-file first_row_id, assigned cumulatively
          // from the table's next-row-id (readers never need the
          // inheritance accounting)
          val firstRowId = rowIdBase.map(_ + nRows)
          nFiles += 1; nRows += fe.recordCount
          // partition values parsed from the staged hive layout stay on
          // the entry — stripping them made the scan serve NULL partition
          // columns for files landed by row-level DML on a partitioned
          // table (partition values are metadata-injected at read)
          IcebergManifests.toEntry(fe,
            IcebergManifests.Status.Added, snapshotId, m.schema,
            content = manifestContent, equalityIds = ids,
            firstRowId = firstRowId,
            specFields = IcebergMetadata.specFieldIds(
              m.schema, m.partitionSpec, m.otherSpecs))
        }, store)
      Some(IcebergManifests.ManifestSummary(manifestPath, len, snapshotId,
        nFiles, 0, 0, nRows, 0L,
        content = if (manifestContent == 0) 0 else 1,
        specId = m.defaultSpecId))
    }

    // staged ONCE — a conflict retry re-authors the cheap manifests
    // (they embed the snapshot id) but never re-writes the data files
    val deleteFiles = Option(rows).map { r =>
      val d = s"$tablePath/data/deletes-${UUID.randomUUID()}"
      r.write.parquet(d)
      staged(d)
    }.getOrElse(Nil)
    val dataFiles = dataDir.map(staged).getOrElse(Nil)

    // nothing staged (empty delete set, empty data write): no snapshot —
    // a zero-entry delete manifest would trip requireNoDeleteManifests
    // on a table with no actual live deletes
    if (deleteFiles.isEmpty && dataFiles.isEmpty) return true

    var attempt = 0
    while (true) {
      val snapshotId = m.lastSequenceNumber + 1
      val seq = snapshotId
      val isV3 = m.formatVersion >= 3
      val deleteManifest =
        writeOneManifest(deleteFiles, math.max(content, 1), equalityIds,
          snapshotId)
      val dataManifest =
        writeOneManifest(dataFiles, 0, Nil, snapshotId,
          rowIdBase = if (isV3) Some(m.nextRowId) else None)
      // the commit's BASE snapshot: the named branch's head for WAP
      // appends (main untouched), else the table head
      val baseSnap: Option[IcebergSnapshot] = toBranch match {
        case Some(b) =>
          val ref = m.refs.getOrElse(b, throw new IllegalArgumentException(
            s"no branch '$b' at $tablePath — create it first " +
              "(IcebergRefs.createBranch / GRAFT CREATE BRANCH)"))
          require(ref.refType == "branch",
            s"ref '$b' is a ${ref.refType}, not a writable branch")
          Some(m.snapshots.find(_.snapshotId == ref.snapshotId).getOrElse(
            throw new IllegalStateException(
              s"branch '$b' points at expired snapshot ${ref.snapshotId}")))
        case None => m.currentSnapshot
      }
      val carried =
        if (replace) {
          // a replace planned at base seq B replaces exactly the
          // manifests live AT B; manifests added by pure data appends
          // AFTER B (admitted by appendOnlySince) carry forward, so the
          // re-landed replace never drops concurrently appended rows
          plannedBaseSeq match {
            case Some(b) if m.lastSequenceNumber > b =>
              val baseSet = m.snapshots.filter(_.sequenceNumber <= b)
                .sortBy(_.sequenceNumber).lastOption
                .map(s => IcebergManifests
                  .readManifestListRecords(s.manifestList)
                  .map(_.get("manifest_path").toString).toSet)
                .getOrElse(Set.empty)
              m.currentSnapshot
                .map(s => IcebergManifests
                  .readManifestListRecords(s.manifestList)
                  .filterNot(r =>
                    baseSet.contains(r.get("manifest_path").toString)))
                .getOrElse(Nil)
            case _ => Nil
          }
        }
        else baseSnap
          .map(s => IcebergManifests.readManifestListRecords(s.manifestList))
          .getOrElse(Nil)
      // UUID in the list name: two racing writers compute the same next
      // snapshotId, and a shared conventional path would let the CAS
      // LOSER truncate the winner's already-referenced list file
      val listPath =
        s"$mdir/snap-$snapshotId-${UUID.randomUUID()}-manifest-list.avro"
      IcebergManifests.writeManifestListRecords(listPath, carried,
        deleteManifest.toSeq ++ dataManifest.toSeq, store)

      val ok = IcebergMetadata.write(tablePath, version + 1, m.copy(
        lastSequenceNumber = seq,
        lastUpdatedMs = now,
        // WAP: a branch-targeted append moves ONLY the branch ref; the
        // main head stays until IcebergRefs.fastForward publishes it
        currentSnapshotId =
          if (toBranch.isDefined) m.currentSnapshotId else snapshotId,
        refs = m.refs ++
          toBranch.map(b => b -> IcebergRef(snapshotId, "branch")),
        properties = m.properties ++ extraProps,
        // v3 appends advance the row-id watermark by the rows landed
        nextRowId =
          if (isV3) m.nextRowId + dataFiles.map(_.recordCount).sum
          else m.nextRowId,
        // no sourceIdentifier: this is a row-level write, not a sync — the
        // target's corrupt-commit rollback must never touch it
        snapshots = m.snapshots :+
          IcebergSnapshot(snapshotId, seq, now, listPath, None,
            if (replace) "replace" else "append",
            parentSnapshotId = baseSnap.map(_.snapshotId),
            firstRowId = if (isV3) Some(m.nextRowId) else None)))
      if (ok) return true
      attempt += 1
      val baseSeq = m.lastSequenceNumber
      val (v2, m2) = currentMeta(spark, tablePath)
      // exactly-once recheck BEFORE deciding to re-land: if the commit
      // that beat us (or any since) already carries our txn stamp, this
      // is a replay racing itself — skip, never duplicate
      if (txnAlreadyCommitted(m2)) return false
      // a replace measures conflicts against its PLANNED base (its
      // victim set), not the base of the last attempt
      val sinceSeq = if (replace || eqRetryable)
        plannedBaseSeq.getOrElse(baseSeq)
      else baseSeq
      val admits = blindAppend ||
        ((retryable || replaceRetryable) && appendOnlySince(m2, sinceSeq)) ||
        (eqRetryable && appendOnlySince(m2, sinceSeq) &&
          newAddsDisjoint(m2, sinceSeq))
      if (attempt > IcebergDeletes.MaxCommitRetries || !admits)
        throw new IllegalStateException(
          s"concurrent writer committed metadata v${version + 1} first at " +
            s"$tablePath and the commits conflict or retries are " +
            "exhausted — re-run against the new snapshot")
      version = v2; m = m2
    }
    true
  }

  val MaxCommitRetries = 3

  /** Delete-aware scan of `snap`, a listing of the table at `seq`.
    * v3 deletion vectors ride the scan as each data file's `graft_dv`
    * descriptor and are masked inside it ([[DeltaRead]]): a puffin
    * `deletion-vector-v1` blob IS the Delta DV frame (length, portable
    * Roaring64, CRC), so it reads as a `p` descriptor at the blob's
    * offset. v2 position-delete files anti-join on (file, pos); equality
    * deletes anti-join on the equality columns with the sequence rule
    * `delete seq > data-file seq`. `keyed` adds `__scan_path` /
    * `__scan_pos` ([[DeltaRead.toKeyedDataFrame]]).
    */
  def scan(spark: SparkSession, snap: graft.model.TableSnapshot,
      m: IcebergTableMetadata, seq: Long, tablePath: String,
      keyed: Boolean): DataFrame = {
    val refs = liveDeleteRefs(m, seq)
    val bad = refs.filter(r => r.content == 2 && r.equalityIds.isEmpty)
    if (bad.nonEmpty) throw new DeletionVectorsUnsupported(
      s"table at $tablePath has ${bad.size} equality delete file(s) with " +
        "no equality_ids recorded — cannot apply them correctly")
    val (dvs, files) =
      refs.partition(r => r.content == 1 && r.isDeletionVector)
    val masked = withDeletionVectors(spark, snap, dvs, tablePath)
    val base =
      if (keyed) graft.formats.delta.DeltaRead.toKeyedDataFrame(spark, masked)
      else graft.formats.delta.DeltaRead.toDataFrame(spark, masked)
    val pos = files.filter(_.content == 1)
    val eq = files.filter(_.content == 2)
    val out = applyPositionDeletes(spark, base, pos)
    if (eq.isEmpty) out
    else applyEqualityDeletes(spark, out, eq,
      m.snapshotBySeq(seq).get.manifestList, m, tablePath)
  }

  /** `snap` with each v3 deletion vector attached to its data file's
    * listing entry, where the listing is.
    */
  private def withDeletionVectors(spark: SparkSession,
      snap: graft.model.TableSnapshot, dvs: Seq[DeleteFileRef],
      tablePath: String): graft.model.TableSnapshot = {
    if (dvs.isEmpty) return snap
    import spark.implicits._
    val badDv = dvs.filter(r => r.referencedDataFile.isEmpty ||
      r.contentOffset.isEmpty || r.contentSizeBytes.isEmpty ||
      r.contentOffset.exists(_ > Int.MaxValue))
    if (badDv.nonEmpty) throw new DeletionVectorsUnsupported(
      s"table at $tablePath has deletion-vector entries missing " +
        s"referenced_data_file/content_offset/content_size_in_bytes: " +
        badDv.map(_.path).mkString(", "))
    val byFile = dvs.map { r =>
      graft.util.PathUtils.canonical(r.referencedDataFile.get) ->
        graft.model.DvDescriptor("p", graft.util.PathUtils.canonical(r.path),
          r.contentOffset.get.toInt, (r.contentSizeBytes.get - 8).toInt,
          r.recordCount)
    }
    val shared =
      byFile.groupBy(_._1).collect { case (f, ds) if ds.size > 1 => f }
    if (shared.nonEmpty) throw new DeletionVectorsUnsupported(
      s"table at $tablePath has more than one live deletion vector for " +
        s"data file(s) ${shared.mkString(", ")}")
    val b = spark.sparkContext.broadcast(byFile.toMap)
    snap.copy(listing = new graft.plans.Listing(spark,
      graft.plans.Placement.mapRows(snap.listing.placed)(_.map(f =>
        f.copy(deletionVector = b.value.get(f.path))))))
  }

  /** Mask v2 position-deleted rows out of a data scan. Position deletes
    * name their data file by path, and paths are write-once, so no
    * sequence comparison is needed (a delete can only follow its file).
    */
  private def applyPositionDeletes(spark: SparkSession, df: DataFrame,
      pos: Seq[DeleteFileRef]): DataFrame = {
    if (pos.isEmpty) return df
    val deleted = spark.read.parquet(pos.map(_.path): _*)
      .select(graft.util.PathCols.canonical(col("file_path"))
        .as("__del_path"), col("pos").as("__del_pos"))
    // a caller that already keyed the scan keeps its keys; otherwise key
    // it from the scan's file constants and strip after
    val hasKeys = df.columns.contains("__scan_path")
    val keyed =
      if (hasKeys) df
      else df
        .withColumn("__scan_path", col("_metadata.graft_path"))
        .withColumn("__scan_pos", col("_metadata.row_index"))
    val estBytes = pos.map(r => r.recordCount * 116L).sum
    val right =
      if (estBytes <= BroadcastDeleteBytes) broadcast(deleted) else deleted
    val joined = keyed.join(right,
        keyed("__scan_path") === right("__del_path") &&
          keyed("__scan_pos") === right("__del_pos"), "left_anti")
    if (hasKeys) joined else joined.drop("__scan_path", "__scan_pos")
  }

  /** Mask equality-deleted rows: one anti-join per distinct equality-id
    * signature, null-safe on the equality columns, guarded by the spec's
    * ordering rule (`delete seq > data-file seq`) so rows appended after
    * the delete survive it.
    */
  private def applyEqualityDeletes(spark: SparkSession, df: DataFrame,
      eqRefs: Seq[DeleteFileRef], manifestList: String,
      m: IcebergTableMetadata, tablePath: String): DataFrame = {
    import spark.implicits._
    val nameById = IcebergSchemas.leafFields(m.schema)
      .map { case (id, name, _) => id -> name }.toMap
    // file → sequence map, built executor-side; broadcast only while the
    // estimated footprint (added+existing rows of data manifests ≈ file
    // count upper bound is unavailable, so use file counts) stays small
    val nDataFiles = IcebergManifests.readManifestListRecords(manifestList)
      .filter(r => IcebergManifests.contentOf(r) == 0)
      .map(r => r.get("added_data_files_count").asInstanceOf[Int].toLong +
        r.get("existing_data_files_count").asInstanceOf[Int].toLong)
      .sum
    // manifests may spell file_path scheme-prefixed (file:/, s3://) while
    // the scan key is decoded — canonicalize like applyPositionDeletes
    // does for delete-file paths, or the join misses and deleted rows
    // are silently served back
    val seqDf = IcebergManifests.liveDataFileSeqs(spark, manifestList)
      .toDF("__raw_path", "__ds_seq")
      .select(graft.util.PathCols.canonical(col("__raw_path"))
        .as("__ds_path"), col("__ds_seq"))
    val seqRight =
      if (nDataFiles * 150L <= BroadcastDeleteBytes) broadcast(seqDf)
      else seqDf
    val hasKeys = df.columns.contains("__scan_path")
    val keyedIn =
      if (hasKeys) df
      else df.withColumn("__scan_path", col("_metadata.graft_path"))
    var out = keyedIn
      .join(seqRight, col("__scan_path") === col("__ds_path"), "left")
      .drop("__ds_path")
      // a scanned file missing from the sequence map means the join key
      // broke — failing the sequence guard OPEN would serve deleted rows,
      // so fail the query loudly instead
      .withColumn("__ds_seq", when(col("__ds_seq").isNotNull,
          col("__ds_seq"))
        .otherwise(raise_error(concat(
          lit("equality-delete sequence lookup missed data file "),
          col("__scan_path"),
          lit(" — path canonicalization mismatch between scan and manifests")))))
    eqRefs.groupBy(_.equalityIds)
      .foreach { case (ids, files) =>
      val cols = ids.map(id => nameById.getOrElse(id,
        throw new DeletionVectorsUnsupported(
          s"equality delete references unknown field id $id at $tablePath")))
      val fileSeq = files.map(f => (f.path, f.seq))
        .toDF("__dq_path", "__dq_seq")
      val delRows = spark.read.parquet(files.map(_.path): _*)
        .withColumn("__dpath",
          graft.util.PathCols.scanPath(col("_metadata.file_path")))
        .join(broadcast(fileSeq), col("__dpath") === col("__dq_path"))
        .select(cols.map(c => col(c).as(s"__d_$c")) :+ col("__dq_seq"): _*)
      val cond: Column = cols
        .map(c => out(c) <=> delRows(s"__d_$c"))
        .reduce(_ && _) && delRows("__dq_seq") > out("__ds_seq")
      val estBytes = files.map(_.fileSizeBytes).sum * 4
      val right =
        if (estBytes <= BroadcastDeleteBytes) broadcast(delRows)
        else delRows
      out = out.join(right, cond, "left_anti")
    }
    if (hasKeys) out.drop("__ds_seq")
    else out.drop("__scan_path", "__ds_seq")
  }
}

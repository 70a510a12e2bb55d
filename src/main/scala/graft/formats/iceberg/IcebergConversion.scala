package graft.formats.iceberg

import java.util.UUID

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.io.TableStore
import graft.model._
import graft.plans.Placement
import graft.spi._

/** Iceberg source — reference IcebergConversionSource.java:72-299. Commits
  * are sequence numbers (monotone, 1-based).
  */
class IcebergConversionSource(spark: SparkSession, tablePath: String,
    tableName: String)
  extends ConversionSource {

  override def sourceFormat: String = TableFormats.Iceberg

  private val store = TableStore(spark)

  private def meta: IcebergTableMetadata = {
    val v = IcebergMetadata.currentVersion(tablePath, store).getOrElse(
      throw new IllegalStateException(s"no Iceberg table at $tablePath"))
    IcebergMetadata.read(tablePath, v, store)
  }

  override def currentTable(): TableDescriptor = {
    val m = meta
    TableDescriptor(tableName, TableFormats.Iceberg,
      graft.util.PathUtils.canonical(tablePath), m.schema, m.partitionSpec,
      if (m.partitionSpec.nonEmpty && uniformCurrentSpec(m))
        Layout.HivePartitioned
      else Layout.Flat,
      m.headSequence)
  }

  /** True when every live data manifest was written under the CURRENT
    * default spec. After partition-spec evolution the table is mixed:
    * files from older specs carry no metadata value for the new partition
    * fields, so identity columns must be served from the DATA files (what
    * real Iceberg readers do — metadata partition values are only
    * per-file constants where the file's own spec defines them) and the
    * layout degrades to Flat; min/max stat skipping still prunes scans on
    * those columns.
    */
  // memoized per manifest-list path (unique per snapshot): without the
  // memo every currentTable() on a spec-evolved table re-scanned the
  // whole manifest list on the driver — per-query file IO proportional
  // to manifest count on exactly the tables that tend to be large
  private val uniformSpecMemo =
    scala.collection.concurrent.TrieMap.empty[String, Boolean]

  private def uniformCurrentSpec(m: IcebergTableMetadata): Boolean =
    m.otherSpecs.isEmpty || m.currentSnapshot.forall { s =>
      uniformSpecMemo.getOrElseUpdate(s"${s.manifestList}#${m.defaultSpecId}",
        IcebergManifests.readManifestListRecords(s.manifestList, store)
          .filter(IcebergManifests.contentOf(_) == 0)
          .forall(r => (r.get("partition_spec_id") match {
            case i: java.lang.Integer => i.intValue
            case _ => 0
          }) == m.defaultSpecId))
    }

  private[iceberg] def filesAtSeq(m: IcebergTableMetadata, seq: Long)
      : Dataset[FileEntry] = {
    import spark.implicits._
    graft.plans.Placement.dataset(spark, listingAtSeq(m, seq))
  }

  private def listingAtSeq(m: IcebergTableMetadata, seq: Long)
      : graft.plans.Placement.Placed[FileEntry] = {
    import spark.implicits._
    m.snapshotBySeq(seq) match {
      case None => Right(spark.emptyDataset[FileEntry])
      case Some(s) => IcebergManifests.liveFiles(spark,
        IcebergManifests.dataManifests(s.manifestList), m.schema)
    }
  }

  private[iceberg] def snapshotAtSeq(m: IcebergTableMetadata, seq: Long,
      table: graft.model.TableDescriptor, commitId: String): TableSnapshot =
    graft.plans.SnapshotFileIndex.snapshot(spark, table, commitId,
      listingAtSeq(m, seq))

  /** A snapshot is representable as a bare file listing only when no
    * row-level delete files are live: file-level consumers (sync, the 1:1
    * relation scan) would otherwise serve/propagate logically-deleted
    * rows — the same wrong-answer class as an unmasked Delta deletion
    * vector. [[toDataFrame]] is the delete-aware read.
    */
  private def requireNoRowLevelDeletes(m: IcebergTableMetadata,
      seq: Long): Unit = {
    val refs = IcebergDeletes.liveDeleteRefs(m, seq)
    if (refs.nonEmpty) throw new DeletionVectorsUnsupported(
      s"Iceberg table at $tablePath has ${refs.size} live row-level " +
        s"delete file(s) (${refs.map(_.recordCount).sum} deleted row(s)) " +
        s"at sequence $seq; a file-level listing would serve deleted rows " +
        "back — read via IcebergConversionSource.toDataFrame, which masks " +
        "position deletes")
  }

  override def currentSnapshot(): TableSnapshot = {
    val m = meta
    requireNoRowLevelDeletes(m, m.headSequence)
    snapshotAtSeq(m, m.headSequence, currentTable(), m.headSequence.toString)
  }

  /** Snapshot listing at a historical sequence number — Iceberg time
    * travel (the Delta analog is DeltaConversionSource.snapshotAt).
    */
  def snapshotAt(seq: Long): TableSnapshot = {
    val m = meta
    requireNoRowLevelDeletes(m, seq)
    snapshotAtSeq(m, seq, currentTable(), seq.toString)
  }

  override def changeForCommit(commit: String): TableChange = {
    val m = meta
    val seq = commit.toLong
    requireNoRowLevelDeletes(m, seq)
    requireNoRowLevelDeletes(m, seq - 1)
    val cur = filesAtSeq(m, seq)
    val prev = filesAtSeq(m, seq - 1)
    TableChange(commit, currentTable().copy(latestCommitMillis = seq),
      FilesDelta.between(cur, prev))
  }

  override def commitsBacklog(lastSynced: String): Seq[String] = {
    val since = lastSynced.toLong
    meta.snapshots.map(_.sequenceNumber).filter(_ > since)
      .sorted.map(_.toString)
  }

  /** Safe iff the snapshot at that sequence hasn't been expired. */
  override def isIncrementalSyncSafeFrom(commit: String): Boolean =
    meta.snapshotBySeq(commit.toLong).isDefined ||
      commit.toLong == 0 && meta.snapshots.nonEmpty

  /** Delete-aware read: scans the data files with deletion vectors
    * masked in the scan, v2 position-delete files anti-joined on (file,
    * pos) and equality deletes (null-safe anti-join on the equality
    * columns, sequence-ordered) — [[IcebergDeletes.scan]].
    */
  def toDataFrame: DataFrame = toDataFrameAt(meta.headSequence)

  /** Delete-aware read at a historical sequence (time travel / branch
    * reads of snapshots carrying row-level deletes — the file-level
    * `snapshotAt` refuses those).
    */
  def toDataFrameAt(seq: Long): DataFrame = {
    val m = meta
    require(m.snapshotBySeq(seq).isDefined,
      s"no snapshot at sequence $seq in $tablePath (expired?)")
    val snap = snapshotAtSeq(m, seq, currentTable(), seq.toString)
    IcebergDeletes.scan(spark, snap, m, seq, tablePath, keyed = false)
  }
}

/** Iceberg target — reference IcebergConversionTarget.java:62-380 +
  * IcebergDataFileUpdatesSync.java:56-150. Per commit: new manifest with
  * added files, previous manifests carried forward (rewritten only when
  * they contain removed paths), new manifest list, new metadata version.
  */
class IcebergConversionTarget(spark: SparkSession, tablePath: String)
  extends ConversionTarget {

  override def targetFormat: String = TableFormats.Iceberg

  private var table: TableDescriptor = _
  private var schema: StructType = _
  private var partitionSpec: Seq[PartitionFieldSpec] = Nil
  private var syncMeta: Option[SyncMetadata] = None
  private var pending = FilesDelta.empty
  private var expectedBaseSeq: Option[Long] = None
  /** Pins where this target's commit writes run (tests only). */
  private[graft] var at: Option[Placement] = None

  private val store = TableStore(spark)

  private def currentMeta: Option[IcebergTableMetadata] =
    IcebergMetadata.currentVersion(tablePath, store)
      .map(IcebergMetadata.read(tablePath, _, store))

  /** Ids merge against the current table schema so evolution keeps
    * existing ids stable (IcebergSchemaSync semantics).
    */
  private def withStableIds(s: StructType): StructType =
    currentMeta.map(_.schema) match {
      case Some(cur) => IcebergSchemas.evolveFieldIds(cur, s)
      case None => IcebergSchemas.assignFieldIds(s)
    }

  override def beginSync(t: TableDescriptor): Unit = {
    // v3 targets are fully supported since r14: carried-forward entries
    // keep their explicit first_row_id (raw-record carry / threaded
    // through the re-encode paths), added files get fresh ids from the
    // next-row-id watermark, and removals just delete rows — the same
    // lineage rules row-level DML follows (see IcebergRowLineage).
    rollbackCorruptCommits()
    table = t
    schema = withStableIds(t.schema)
    pending = FilesDelta.empty
    expectedBaseSeq = None
  }

  /** CAS pin for read-modify-write full-set syncs: commit ids on Iceberg
    * are head sequence numbers. Checked in [[completeSync]] — a writer
    * that advanced the head past the caller's planning snapshot fails the
    * commit loudly instead of having its files diffed away as removes.
    */
  override def expectBaseCommit(commitId: String): Unit =
    expectedBaseSeq = Some(commitId.toLong)

  /** Roll back snapshots whose producing sync never completed — reference
    * IcebergConversionTarget.java:350+: a snapshot carrying a
    * sourceIdentifier NEWER than the last completed sync point was written
    * by a sync that crashed between the table commit and its bookkeeping;
    * leaving it would double-apply that source commit on retry. The sound
    * prefix of the snapshot list is restored under a fresh metadata
    * version; snapshots without a sourceIdentifier (external writers) are
    * never touched.
    */
  private def rollbackCorruptCommits(): Unit =
    for (m <- currentMeta) {
      val completed = tableMetadata().map(_.lastInstantSynced)
      val (corrupt, sound) = m.snapshots.partition(s =>
        s.sourceIdentifier.exists(sid => completed.forall(c =>
          graft.sync.TableFormatSync.isBefore(c, sid))))
      if (corrupt.nonEmpty) {
        val version = IcebergMetadata.currentVersion(tablePath, store)
          .getOrElse(0L) + 1
        val restored = m.copy(
          snapshots = sound,
          currentSnapshotId = sound.lastOption.map(_.snapshotId).getOrElse(-1L),
          lastSequenceNumber = sound.lastOption.map(_.sequenceNumber)
            .getOrElse(0L),
          lastUpdatedMs = System.currentTimeMillis())
        if (!IcebergMetadata.write(tablePath, version, restored, store))
          throw new IllegalStateException(
            s"concurrent writer while rolling back corrupt commits at $tablePath")
      }
    }

  override def syncMetadata(m: SyncMetadata): Unit = syncMeta = Some(m)
  override def syncSchema(s: StructType): Unit = schema = withStableIds(s)
  override def syncPartitionSpec(spec: Seq[PartitionFieldSpec]): Unit =
    partitionSpec = spec

  /** A sync target whose CURRENT snapshot carries delete manifests cannot
    * be advanced by file-level metadata sync: the carry-forward rewrites
    * the manifest list from data manifests only, which would silently
    * drop the delete files and resurrect their deleted rows.
    */
  private def requireNoDeleteManifests(
      listRecords: Seq[org.apache.avro.generic.GenericRecord]): Unit =
    if (listRecords.exists(IcebergManifests.contentOf(_) != 0))
      throw new DeletionVectorsUnsupported(
        s"Iceberg table at $tablePath has live row-level delete " +
          "manifests; a file-level metadata sync would drop them and " +
          "resurrect deleted rows — compact/rewrite the table (purge " +
          "delete files) first")

  override def syncFilesForSnapshot(files: Dataset[FileEntry]): Unit =
    pending = currentMeta.flatMap(_.currentSnapshot) match {
      case None => FilesDelta(Right(files), Left(Vector.empty))
      case Some(s) =>
        val records =
          IcebergManifests.readManifestListRecords(s.manifestList, store)
        requireNoDeleteManifests(records)
        import spark.implicits._
        val m = currentMeta.get
        FilesDelta.between(files, Placement.dataset(spark,
          IcebergManifests.liveFiles(spark,
            records.filter(IcebergManifests.contentOf(_) == 0), m.schema)))
    }

  override def syncFilesForDiff(diff: FilesDelta): Unit = pending = diff

  override def completeSync(): Unit = {
    val prev = currentMeta
    expectedBaseSeq.foreach { planned =>
      val cur = prev.map(_.headSequence).getOrElse(0L)
      if (cur != planned)
        throw new IllegalStateException(
          s"concurrent writer advanced $tablePath from sequence $planned " +
            s"to $cur since this operation planned its file set — re-run " +
            "against the new snapshot")
    }
    val version = IcebergMetadata.currentVersion(tablePath, store)
      .getOrElse(0L) + 1
    val seq = prev.map(_.lastSequenceNumber).getOrElse(0L) + 1
    val snapshotId = seq
    val now = System.currentTimeMillis()
    val mdir = IcebergMetadata.metadataDir(tablePath)
    // v3 row lineage: files ADDED by this sync get fresh row ids assigned
    // explicitly from the table's next-row-id watermark; carried-forward
    // entries keep theirs (raw-record carry, or threaded through the
    // FileEntry re-encode in the big-removes path)
    val fmtV = prev.map(_.formatVersion).getOrElse(2)
    val isV3 = fmtV >= 3
    val baseRowId = prev.map(_.nextRowId).getOrElse(0L)

    // schema / partition-spec EVOLUTION (spec v2): a sync whose
    // partitioning or schema differs from the table's current one appends
    // a NEW spec/schema under the next id and archives the old one —
    // never mutates spec 0 in place. Old manifests keep their original
    // spec id (list field 502) so real readers can still decode them.
    val specChanged = prev.exists(_.partitionSpec != partitionSpec)
    val defaultSpecId = prev
      .map(p => if (specChanged) p.maxSpecId + 1 else p.defaultSpecId)
      .getOrElse(0)
    val otherSpecs = prev.map { p =>
      if (specChanged) p.otherSpecs :+ IcebergMetadata.currentSpecJson(p)
      else p.otherSpecs
    }.getOrElse(Nil)
    // r102 partition-struct field ids: the REAL partition-spec ids (in
    // spec order) every manifest written this sync must carry — computed
    // exactly as the metadata write will assign them; plus the
    // historical specs by id for carried-manifest rewrites
    val specFieldsNow: Seq[(String, Int)] =
      IcebergMetadata.specFieldIds(schema, partitionSpec, otherSpecs)
    val specFieldsBySid: Map[Int, Seq[(String, Int)]] =
      prev.map(IcebergMetadata.specFieldsById).getOrElse(Map.empty) +
        (defaultSpecId -> specFieldsNow)
    val schemaChanged = prev.exists(p =>
      IcebergSchemas.toIcebergJson(p.schema, 0) !=
        IcebergSchemas.toIcebergJson(schema, 0))
    val currentSchemaId = prev
      .map(p => if (schemaChanged) p.maxSchemaId + 1 else p.currentSchemaId)
      .getOrElse(0)
    val otherSchemas = prev.map { p =>
      if (schemaChanged) p.otherSchemas :+
        IcebergSchemas.toIcebergJson(p.schema, p.currentSchemaId)
      else p.otherSchemas
    }.getOrElse(Nil)

    // removed paths: one fetch brings a commit's removes to the driver,
    // which then picks the previous manifests to rewrite. A side longer
    // than Placement.MaxRows (a full resync of a heavily churned table)
    // never becomes a driver Set: it stays distributed and the
    // carry-forward becomes a distributed anti-join below.
    val removed = Placement.fetch(pending.removed, at)(_ => 0L)
    val removes = removed.rows
    IcebergConversionTarget.lastCarryForwardMode =
      if (removes.isLeft) "driver-set" else "distributed-anti-join"
    val removedPaths: Set[String] =
      removes.fold(_.iterator.map(_.path).toSet, _ => Set.empty)

    // previous DATA manifests with the spec id AND sequence number each
    // was written under — carried-forward manifests must keep both (the
    // partition struct is typed by the spec; the sequence is each file's
    // commit ordinal, which v3 row lineage inherits as last-updated and
    // equality-delete ordering compares against)
    val prevManifests: Seq[IcebergConversionTarget.PrevManifest] =
      prev.flatMap(_.currentSnapshot)
        .map { s =>
          val records =
            IcebergManifests.readManifestListRecords(s.manifestList, store)
          requireNoDeleteManifests(records)
          records.filter(IcebergManifests.contentOf(_) == 0)
            .map(IcebergConversionTarget.PrevManifest.of(_, seq))
        }
        .getOrElse(Nil)

    // carry-forward / rewrite of previous manifests, placed by the bytes
    // of the manifests it must open: an untouched manifest whose list
    // record carries its counts is carried from the record with no IO; a
    // 10⁶-file table's hundreds of manifests are opened one task PER
    // MANIFEST, and only the summaries come back to the driver.
    val kept = Seq.newBuilder[IcebergManifests.ManifestSummary]
    if (removes.isLeft) {
      val opened = prevManifests.filter(_.mustOpen(removedPaths))
      val md = mdir
      kept ++= (Placement.of(opened.map(_.length)) match {
        case Placement.Driver =>
          prevManifests.map(IcebergConversionTarget.carryForwardManifest(
            _, removedPaths, md, store))
        case Placement.Tasks =>
          val sc = spark.sparkContext
          val bc = sc.broadcast(removedPaths)
          val bconf = graft.util.HadoopConfs.broadcastSession(spark)
          try sc.parallelize(prevManifests,
              math.min(prevManifests.size, 128))
            .map(IcebergConversionTarget.carryForwardManifest(_, bc.value,
              md, new TableStore(bconf.value.value)))
            .collect().toSeq
          finally bc.unpersist()
      }).flatten // a fully-dropped manifest is not carried forward at all
    }

    // big-removes carry-forward: previous manifest entries become a
    // Dataset, removes anti-join away executor-side (shuffle join, never a
    // driver Set or broadcast), survivors rewrite as EXISTING manifests —
    // one per join partition, written through the Hadoop FS. Only
    // (path, length, count) summaries return to the driver.
    for (removesDs <- removes.toOption if prevManifests.nonEmpty) {
      import spark.implicits._
      import org.apache.spark.sql.functions.col
      val sch = schema
      val snapId = snapshotId
      val md = mdir
      val sfb = specFieldsBySid
      val bconf = graft.util.HadoopConfs.broadcastSession(spark)
      val prevEntries = graft.util.Par.ds(spark,
          prevManifests.map(m => (m.path, m.specId, m.seq)), 128)
        .flatMap { case (mp, sid, origSeq) =>
          IcebergManifests.readManifest(mp, bconf.value.value)
            .filter(_.get("status").asInstanceOf[Int] !=
              IcebergManifests.Status.Deleted)
            .map { e =>
              // v3: the FileEntry re-encode would drop the lineage base —
              // carry it alongside so survivors keep their row ids
              val df = e.get("data_file")
                .asInstanceOf[org.apache.avro.generic.GenericRecord]
              val fr = Option(IcebergManifests.fieldOr(df, "first_row_id"))
                .map {
                  case l: java.lang.Long => l.longValue
                  case i: java.lang.Integer => i.longValue.toLong
                }
              (sid, origSeq, IcebergManifests.fromEntry(e, sch)._2, fr)
            }
        }
      val removesCol = removesDs.select(col("path").as("__rm"))
      // survivors keep their source manifest's spec id AND sequence;
      // entries sort by both WITHIN each join partition (no extra
      // shuffle) so each output manifest is uniform in spec (partition
      // struct shape) and sequence (the per-file commit ordinal)
      val survivors = prevEntries
        .join(removesCol, col("_3.path") === col("__rm"), "left_anti")
        .as[(Int, Long, FileEntry, Option[Long])]
        .sortWithinPartitions(col("_1"), col("_2"))
      val summaries = survivors.mapPartitions { it =>
        val buf = it.buffered
        val out = Seq.newBuilder[(String, Long, Int, Long, Int, Long,
          Seq[IcebergManifests.PartitionFieldSummary])]
        while (buf.hasNext) {
          val (sid, origSeq) = (buf.head._1, buf.head._2)
          val np = s"$md/m-${UUID.randomUUID()}.avro"
          val bounds = new IcebergConversionTarget.PartitionBounds
          var n = 0
          var rows = 0L
          val run = new Iterator[org.apache.avro.generic.GenericRecord] {
            def hasNext: Boolean = buf.hasNext &&
              buf.head._1 == sid && buf.head._2 == origSeq
            def next(): org.apache.avro.generic.GenericRecord = {
              val (_, _, f, fr) = buf.next()
              n += 1; rows += f.recordCount
              bounds.track(IcebergManifests.toEntry(f,
                IcebergManifests.Status.Existing, snapId, sch,
                firstRowId = fr,
                specFields = sfb.getOrElse(sid, null)))
            }
          }
          val len = IcebergManifests.writeManifest(np, run,
            new TableStore(bconf.value.value))
          out += ((np, len, n, rows, sid, origSeq, bounds.summaries))
        }
        out.result().iterator
      }.collect()
      summaries.foreach { case (p, len, n, rows, sid, origSeq, parts) =>
        kept += IcebergManifests.ManifestSummary(p, len, origSeq,
          0, n, 0, 0L, rows, partitions = parts, specId = sid)
      }
    }

    // added-files manifest(s): one writer, run where the adds are — ONE
    // manifest from the driver's rows (no job), or one ADDED manifest per
    // task with bounded entries, so a 10^6-file full sync never
    // serializes its adds through a single driver writer. v3 row ids
    // come from the next-row-id watermark, in entry order either way.
    val adds = Placement.fetch(pending.added, at)(_.recordCount)
    val newRowsTotal = adds.weight
    val writer = IcebergConversionTarget.AddedManifest(mdir, snapshotId,
      schema, specFieldsNow, defaultSpecId, isV3)
    kept ++= (adds.rows match {
      case Left(rows) => writer.write(rows.iterator, baseRowId, store).toSeq
      case Right(ds) =>
        val nParts = math.max(1, math.min(256, math.ceil(
          adds.count.toDouble / IcebergConversionTarget.EntriesPerManifest)
          .toInt))
        // the repartitioned set is persisted so the v3 row-id passes
        // (per-partition counts, then assignment) see ONE partitioning
        val rep = ds.repartition(nParts).persist()
        val bases: Array[Long] =
          if (!isV3) Array.fill(nParts)(0L)
          else rep.rdd.mapPartitionsWithIndex { (i, it) =>
            Iterator((i, it.map(_.recordCount).sum))
          }.collect().sortBy(_._1).map(_._2).scanLeft(baseRowId)(_ + _)
        val bBases = spark.sparkContext.broadcast(bases)
        val bconf = graft.util.HadoopConfs.broadcastSession(spark)
        try rep.rdd.mapPartitionsWithIndex { (i, it) =>
          writer.write(it, bBases.value(i), new TableStore(bconf.value.value))
            .iterator
        }.collect().toSeq
        finally { rep.unpersist(); bBases.unpersist() }
    })
    removed.unpin(); adds.unpin()

    // manifest compaction: when the list grows past the threshold, merge
    // everything into one EXISTING-status manifest (keeps per-commit cost
    // O(delta) while bounding planning cost — Delta gets the same property
    // from checkpoints)
    val keptList = {
      val ks = kept.result()
      if (ks.size <= IcebergConversionTarget.CompactionThreshold) ks
      else {
        // one merged manifest PER SPEC ID: entries of different specs
        // carry different partition-struct shapes and must not be
        // re-encoded into one container. On v3 the grouping also keeps
        // the SEQUENCE: a manifest's list-record sequence is every
        // entry's commit ordinal, which row lineage inherits as
        // last-updated — merging across sequences would falsify it.
        // (v2 keeps the coarser spec-only merge; nothing reads per-file
        // sequences there once delete manifests are refused.)
        val grouped =
          if (isV3) ks.groupBy(s => (s.specId, s.snapshotId)).toSeq
          else ks.groupBy(s => (s.specId, snapshotId)).toSeq
        grouped.sortBy(_._1).map { case ((sid, grpSeq), grp) =>
          val np = s"$mdir/m-${UUID.randomUUID()}-compacted.avro"
          var n = 0
          var rows = 0L
          val entries = grp.iterator.flatMap { case m =>
            IcebergManifests.readManifest(m.path, store.conf).filter(e =>
              e.get("status").asInstanceOf[Int] != IcebergManifests.Status.Deleted)
          }.map { e =>
            e.put("status", IcebergManifests.Status.Existing); n += 1
            rows += e.get("data_file")
              .asInstanceOf[org.apache.avro.generic.GenericRecord]
              .get("record_count").asInstanceOf[Long]
            e
          }
          val len = IcebergManifests.writeManifest(np, entries, store)
          IcebergManifests.ManifestSummary(np, len, grpSeq,
            0, n, 0, 0L, rows, specId = sid)
        }
      }
    }
    // UUID: two racing writers compute the same next snapshotId, and a
    // shared conventional name would let the CAS loser truncate the
    // winner's already-referenced list file
    val listPath =
      s"$mdir/snap-$snapshotId-${UUID.randomUUID()}-manifest-list.avro"
    IcebergManifests.writeManifestListRecords(listPath, Nil, keptList, store)

    val properties = prev.map(_.properties).getOrElse(Map.empty) ++
      // name mapping: graft-synced data files are plain-Spark parquet
      // with no embedded Iceberg field ids — without this property a
      // real engine would resolve columns wrong or all-null (reference
      // IcebergConversionTarget.java:158-210). Recomputed per sync so
      // schema evolution keeps it current (ids are stable by evolution).
      Map("schema.name-mapping.default" ->
        IcebergSchemas.nameMappingJson(schema)) ++
      syncMeta.map(m => Map(SyncMetadata.PropertyKey -> m.toJson))
        .getOrElse(Map.empty)
    val lastColumnId = IcebergSchemas.leafFields(schema).map(_._1)
      .foldLeft(0)(math.max)
    val ok = IcebergMetadata.write(tablePath, version, IcebergTableMetadata(
      prev.map(_.tableUuid).getOrElse(UUID.randomUUID().toString),
      graft.util.PathUtils.canonical(tablePath),
      seq, now, lastColumnId, schema, partitionSpec, properties,
      snapshotId,
      prev.map(_.snapshots).getOrElse(Nil) :+
        IcebergSnapshot(snapshotId, seq, now, listPath,
          syncMeta.map(_.lastInstantSynced),
          firstRowId = if (isV3) Some(baseRowId) else None),
      refs = prev.map(_.refs).getOrElse(Map.empty),
      currentSchemaId = currentSchemaId,
      defaultSpecId = defaultSpecId,
      otherSchemas = otherSchemas,
      otherSpecs = otherSpecs,
      formatVersion = fmtV,
      nextRowId = if (isV3) baseRowId + newRowsTotal else 0L), store)
    if (!ok) throw new IllegalStateException(
      s"concurrent writer committed metadata v$version first at $tablePath")
  }

  override def tableMetadata(): Option[SyncMetadata] =
    currentMeta.flatMap(_.properties.get(SyncMetadata.PropertyKey))
      .flatMap(SyncMetadata.fromJson)
}

object IcebergConversionTarget {
  /** Max manifests per snapshot before a compacting rewrite. */
  val CompactionThreshold = 16

  /** Target entries per executor-written ADDED manifest. */
  val EntriesPerManifest = 200000L

  /** Observability hook for specs: which carry-forward path the last
    * completeSync took ("driver-set" | "distributed-anti-join").
    */
  @volatile private[graft] var lastCarryForwardMode: String = ""

  /** A data manifest of the previous snapshot, as its manifest-list
    * record gives it: `live` is its (files, rows) of ADDED + EXISTING
    * entries when the record carries those counts (v1 lists from other
    * writers may not).
    */
  private[iceberg] final case class PrevManifest(path: String, specId: Int,
      seq: Long, length: Option[Long], live: Option[(Int, Long)],
      partitions: Seq[IcebergManifests.PartitionFieldSummary]) {
    /** Whether carrying it forward must read its entries. */
    def mustOpen(removed: Set[String]): Boolean =
      removed.nonEmpty || live.isEmpty || length.isEmpty
  }

  private[iceberg] object PrevManifest {
    def of(r: org.apache.avro.generic.GenericRecord, seq: Long)
        : PrevManifest = {
      def long(name: String): Option[Long] =
        Option(IcebergManifests.fieldOr(r, name))
          .map(IcebergManifests.longOf(_, 0L))
      PrevManifest(r.get("manifest_path").toString,
        long("partition_spec_id").fold(0)(_.toInt),
        long("sequence_number").getOrElse(seq),
        long("manifest_length"),
        for {
          af <- long("added_data_files_count")
          ef <- long("existing_data_files_count")
          ar <- long("added_rows_count")
          er <- long("existing_rows_count")
        } yield ((af + ef).toInt, ar + er),
        IcebergManifests.partitionSummaries(r))
    }
  }

  /** The spec field_summary bounds (ids 509-511) of one manifest, tracked
    * over its entries as they stream to the writer: per partition field
    * (spec order, as the entries' partition struct spells it), whether a
    * null was seen and the least and greatest value. Real readers prune
    * whole manifests by them before opening any entry. Values other than
    * int, long and string have no bound encoding here: a manifest holding
    * one gets no summaries (readers then open it), never a wrong bound.
    */
  private[iceberg] final class PartitionBounds {
    private var names: Seq[String] = Nil
    private val bounds = scala.collection.mutable.Map
      .empty[String, (Boolean, AnyRef, AnyRef)]
    private var encodable = true

    private def lt(a: AnyRef, b: AnyRef): Boolean = (a, b) match {
      case (x: java.lang.Integer, y: java.lang.Integer) => x < y
      case (x: java.lang.Long, y: java.lang.Long) => x < y
      case _ => a.toString < b.toString
    }

    /** Fold one manifest entry into the bounds; returns it. */
    def track(e: org.apache.avro.generic.GenericRecord)
        : org.apache.avro.generic.GenericRecord = {
      val part = e.get("data_file")
        .asInstanceOf[org.apache.avro.generic.GenericRecord]
        .get("partition").asInstanceOf[org.apache.avro.generic.GenericRecord]
      if (part != null) {
        import scala.jdk.CollectionConverters._
        if (names.isEmpty)
          names = part.getSchema.getFields.asScala.map(_.name).toSeq
        names.foreach { n =>
          val v = part.get(n) match {
            case null => null
            case i: java.lang.Integer => i
            case l: java.lang.Long => l
            case c: CharSequence => c.toString
            case _ => encodable = false; null
          }
          bounds(n) = (v, bounds.get(n)) match {
            case (null, b) => (true, b.map(_._2).orNull, b.map(_._3).orNull)
            case (v, None) => (false, v, v)
            case (v, Some((nul, lo, hi))) => (nul,
              if (lo == null || lt(v, lo)) v else lo,
              if (hi == null || lt(hi, v)) v else hi)
          }
        }
      }
      e
    }

    def summaries: Seq[IcebergManifests.PartitionFieldSummary] = {
      def bytes(v: AnyRef): Option[Array[Byte]] = Option(v).map {
        case i: java.lang.Integer => java.nio.ByteBuffer.allocate(4)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(i).array()
        case l: java.lang.Long => java.nio.ByteBuffer.allocate(8)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(l).array()
        case s => s.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      }
      if (!encodable) Nil
      else names.flatMap(n => bounds.get(n).map { case (nul, lo, hi) =>
        IcebergManifests.PartitionFieldSummary(nul, bytes(lo), bytes(hi))
      })
    }
  }

  /** The one writer of a commit's ADDED manifests, run over the driver's
    * rows or per partition. Writes nothing for no entries. Tracks the
    * manifest's [[PartitionBounds]] while the entries stream.
    */
  private[iceberg] final case class AddedManifest(mdir: String,
      snapshotId: Long, schema: StructType,
      specFields: Seq[(String, Int)], specId: Int, v3: Boolean) {

    def write(files: Iterator[FileEntry], firstRowId: Long,
        store: TableStore)
        : Option[IcebergManifests.ManifestSummary] =
      if (!files.hasNext) None
      else {
        val path = s"$mdir/m-${UUID.randomUUID()}.avro"
        val bounds = new PartitionBounds
        var n = 0
        var rows = 0L
        val len = IcebergManifests.writeManifest(path, files.map { f =>
          val fr = if (v3) Some(firstRowId + rows) else None
          n += 1; rows += f.recordCount
          bounds.track(IcebergManifests.toEntry(f,
            IcebergManifests.Status.Added, snapshotId, schema,
            firstRowId = fr, specFields = specFields))
        }, store)
        Some(IcebergManifests.ManifestSummary(path, len, snapshotId, n, 0, 0,
          rows, 0L, partitions = bounds.summaries,
          specId = specId))
      }
  }

  /** Carry one previous manifest into the next snapshot: untouched → its
    * summary as EXISTING entries (from the list record when it has the
    * counts, else from one counting pass) with the record's partition
    * summaries; partially removed → rewrite live entries minus `removed`
    * to a fresh manifest, its partition summaries recomputed; fully
    * removed → None. Static so the closure ships to executors without
    * dragging the target (SparkSession and all) along.
    */
  private[iceberg] def carryForwardManifest(m: PrevManifest,
      removed: Set[String], mdir: String, store: TableStore)
      : Option[IcebergManifests.ManifestSummary] = {
    def summary(path: String, len: Long, files: Int, dropped: Int,
        rows: Long, partitions: Seq[IcebergManifests.PartitionFieldSummary]
          = m.partitions) = IcebergManifests.ManifestSummary(path, len,
      m.seq, 0, files, dropped, 0L, rows, partitions = partitions,
      specId = m.specId)
    if (!m.mustOpen(removed))
      return m.live.map { case (files, rows) =>
        summary(m.path, m.length.get, files, 0, rows) }
    def dataFile(e: org.apache.avro.generic.GenericRecord) =
      e.get("data_file").asInstanceOf[org.apache.avro.generic.GenericRecord]
    def pathOf(e: org.apache.avro.generic.GenericRecord): String =
      dataFile(e).get("file_path").toString
    def isLive(e: org.apache.avro.generic.GenericRecord): Boolean =
      e.get("status").asInstanceOf[Int] != IcebergManifests.Status.Deleted
    // pass 1 streams counts only — a 10^6-entry manifest never
    // materializes; the rewrite (pass 2) streams reader→writer
    var remaining = 0; var dropped = 0; var remainingRows = 0L
    IcebergManifests.readManifest(m.path, store.conf).foreach { e =>
      if (isLive(e)) {
        if (removed.contains(pathOf(e))) dropped += 1
        else {
          remaining += 1
          remainingRows += dataFile(e).get("record_count")
            .asInstanceOf[Long]
        }
      }
    }
    if (dropped == 0) {
      val len = m.length.getOrElse(store.length(m.path))
      Some(summary(m.path, len, remaining, 0, remainingRows))
    } else if (remaining > 0) {
      val np = s"$mdir/m-${UUID.randomUUID()}.avro"
      val bounds = new PartitionBounds
      val survivors = IcebergManifests.readManifest(m.path, store.conf)
        .filter(e => isLive(e) && !removed.contains(pathOf(e)))
        .map { e =>
          e.put("status", IcebergManifests.Status.Existing)
          bounds.track(e)
        }
      val len = IcebergManifests.writeManifest(np, survivors, store)
      Some(summary(np, len, remaining, dropped, remainingRows,
        bounds.summaries))
    } else None
  }
}

package graft.formats.iceberg

import java.util.UUID

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.model._
import graft.spi._

/** Iceberg source — reference IcebergConversionSource.java:72-299. Commits
  * are sequence numbers (monotone, 1-based).
  */
class IcebergConversionSource(spark: SparkSession, tablePath: String,
    tableName: String)
  extends ConversionSource {

  override def sourceFormat: String = TableFormats.Iceberg

  private def meta: IcebergTableMetadata = {
    val v = IcebergMetadata.currentVersion(tablePath).getOrElse(
      throw new IllegalStateException(s"no Iceberg table at $tablePath"))
    IcebergMetadata.read(tablePath, v)
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
        IcebergManifests.readManifestListRecords(s.manifestList)
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

  /** Delete-aware read: scans the data files, then masks position deletes
    * (anti-join on (file, pos)) and equality deletes (null-safe anti-join
    * on the equality columns, sequence-ordered) via
    * [[IcebergDeletes.applyDeletes]].
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
    val snap = TableSnapshot(currentTable(),
      filesAtSeq(m, seq), seq.toString)
    val base = graft.formats.delta.DeltaRead.toDataFrame(spark, snap)
    IcebergDeletes.applyDeletes(spark, base, m, seq, tablePath)
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
  private var pendingAdds: Option[Dataset[FileEntry]] = None
  private var pendingRemoves: Option[Dataset[FileEntry]] = None
  private var expectedBaseSeq: Option[Long] = None

  private def currentMeta: Option[IcebergTableMetadata] =
    IcebergMetadata.currentVersion(tablePath)
      .map(IcebergMetadata.read(tablePath, _))

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
    pendingAdds = None; pendingRemoves = None
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
        val version = IcebergMetadata.currentVersion(tablePath)
          .getOrElse(0L) + 1
        val restored = m.copy(
          snapshots = sound,
          currentSnapshotId = sound.lastOption.map(_.snapshotId).getOrElse(-1L),
          lastSequenceNumber = sound.lastOption.map(_.sequenceNumber)
            .getOrElse(0L),
          lastUpdatedMs = System.currentTimeMillis())
        if (!IcebergMetadata.write(tablePath, version, restored))
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
  private def requireNoDeleteManifests(listPath: String): Unit =
    if (IcebergManifests.readManifestListRecords(listPath)
        .exists(IcebergManifests.contentOf(_) != 0))
      throw new DeletionVectorsUnsupported(
        s"Iceberg table at $tablePath has live row-level delete " +
          "manifests; a file-level metadata sync would drop them and " +
          "resurrect deleted rows — compact/rewrite the table (purge " +
          "delete files) first")

  override def syncFilesForSnapshot(files: Dataset[FileEntry]): Unit =
    currentMeta.flatMap(_.currentSnapshot) match {
      case None =>
        pendingAdds = Some(files); pendingRemoves = None
      case Some(s) =>
        requireNoDeleteManifests(s.manifestList)
        import spark.implicits._
        val m = currentMeta.get
        val current = graft.plans.Placement.dataset(spark,
          IcebergManifests.liveFiles(spark,
            IcebergManifests.dataManifests(s.manifestList), m.schema))
        val delta = FilesDelta.between(files, current)
        pendingAdds = Some(delta.added)
        pendingRemoves = Some(delta.removed)
    }

  override def syncFilesForDiff(diff: FilesDelta): Unit = {
    pendingAdds = Some(diff.added)
    pendingRemoves = Some(diff.removed)
  }

  override def completeSync(): Unit = {
    import scala.jdk.CollectionConverters._
    val prev = currentMeta
    expectedBaseSeq.foreach { planned =>
      val cur = prev.map(_.headSequence).getOrElse(0L)
      if (cur != planned)
        throw new IllegalStateException(
          s"concurrent writer advanced $tablePath from sequence $planned " +
            s"to $cur since this operation planned its file set — re-run " +
            "against the new snapshot")
    }
    val version = IcebergMetadata.currentVersion(tablePath).getOrElse(0L) + 1
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
    var newRowsTotal = 0L

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

    // removed paths: normally small relative to the live set (a commit's
    // delta) — collected to pick which previous manifests need rewriting.
    // A full resync of a heavily churned table can make the delta
    // O(table): above the threshold the driver Set is skipped entirely
    // and the carry-forward becomes a distributed anti-join below.
    // ONE fused probe answers the count AND ships the paths (guide §1.2:
    // the former count job + collect job per commit).
    val removesProbe = pendingRemoves.map(graft.util.ProbedRows.probe(_,
        (_: FileEntry) => 0L, IcebergConversionTarget.BigRemovesThreshold))
      .getOrElse(graft.util.ProbedRows.Probe[FileEntry](0L, 0L, Some(Nil)))
    val removesCount: Long = removesProbe.count
    val bigRemoves =
      removesCount > IcebergConversionTarget.BigRemovesThreshold
    IcebergConversionTarget.lastCarryForwardMode =
      if (bigRemoves) "distributed-anti-join" else "driver-set"
    val removedPaths: Set[String] = pendingRemoves match {
      case Some(ds) if !bigRemoves =>
        removesProbe.rows match {
          case Some(rs) => rs.map(_.path).toSet
          case None =>   // rare: per-partition skew truncated the probe
            import ds.sparkSession.implicits._
            ds.select("path").as[String].collect().toSet
        }
      case _ => Set.empty
    }

    // previous DATA manifests with the spec id AND sequence number each
    // was written under — carried-forward manifests must keep both (the
    // partition struct is typed by the spec; the sequence is each file's
    // commit ordinal, which v3 row lineage inherits as last-updated and
    // equality-delete ordering compares against)
    val prevManifestRecs: Seq[(String, Int, Long)] =
      prev.flatMap(_.currentSnapshot)
        .map { s =>
          requireNoDeleteManifests(s.manifestList)
          IcebergManifests.readManifestListRecords(s.manifestList)
            .filter(IcebergManifests.contentOf(_) == 0)
            .map(r => (r.get("manifest_path").toString,
              r.get("partition_spec_id") match {
                case i: java.lang.Integer => i.intValue
                case _ => 0
              },
              IcebergManifests.longOf(r.get("sequence_number"), seq)))
        }
        .getOrElse(Nil)
    val prevManifests: Seq[String] = prevManifestRecs.map(_._1)

    // carry-forward / rewrite of previous manifests: one task PER MANIFEST
    // on the cluster (a 10⁶-file table has hundreds of manifests — a
    // driver-serial read/filter/rewrite loop was the round-4 bottleneck);
    // only the per-manifest summary tuples come back to the driver. Small
    // lists stay driver-side to skip the job-launch overhead per sync.
    val kept = Seq.newBuilder[IcebergManifests.ManifestSummary]
    val processed: Seq[Option[(String, Long, Int, Int, Long)]] =
      if (bigRemoves) Nil
      else if (prevManifests.size <= 4)
        prevManifests.map(
          IcebergConversionTarget.carryForwardManifest(_, removedPaths, mdir))
      else {
        val sc = spark.sparkContext
        val bc = sc.broadcast(removedPaths)
        val md = mdir
        try sc.parallelize(prevManifests,
            math.min(prevManifests.size, 128))
          .map(mp =>
            IcebergConversionTarget.carryForwardManifest(mp, bc.value, md))
          .collect().toSeq
        finally bc.unpersist()
      }
    processed.zip(prevManifestRecs).foreach {
      case (Some((p, len, existing, deleted, rows)), (_, sid, origSeq)) =>
        kept += IcebergManifests.ManifestSummary(p, len, origSeq,
          0, existing, deleted, 0L, rows, specId = sid)
      case (None, _) => () // fully-dropped manifest: not carried forward at all
    }

    // big-removes carry-forward: previous manifest entries become a
    // Dataset, removes anti-join away executor-side (shuffle join, never a
    // driver Set or broadcast), survivors rewrite as EXISTING manifests —
    // one per join partition, written through the Hadoop FS. Only
    // (path, length, count) summaries return to the driver.
    if (bigRemoves && prevManifests.nonEmpty) {
      import spark.implicits._
      import org.apache.spark.sql.functions.col
      val sch = schema
      val snapId = snapshotId
      val md = mdir
      val sfb = specFieldsBySid
      val bconf = graft.util.HadoopConfs.broadcastSession(spark)
      val prevEntries = graft.util.Par.ds(spark, prevManifestRecs, 128)
        .flatMap { case (mp, sid, origSeq) =>
          IcebergManifests.readManifest(mp)
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
      val removes = pendingRemoves.get.select(col("path").as("__rm"))
      // survivors keep their source manifest's spec id AND sequence;
      // entries sort by both WITHIN each join partition (no extra
      // shuffle) so each output manifest is uniform in spec (partition
      // struct shape) and sequence (the per-file commit ordinal)
      val survivors = prevEntries
        .join(removes, col("_3.path") === col("__rm"), "left_anti")
        .as[(Int, Long, FileEntry, Option[Long])]
        .sortWithinPartitions(col("_1"), col("_2"))
      val summaries = survivors.mapPartitions { it =>
        val buf = it.buffered
        val out = Seq.newBuilder[(String, Long, Int, Long, Int, Long)]
        while (buf.hasNext) {
          val (sid, origSeq) = (buf.head._1, buf.head._2)
          val np = s"$md/m-${UUID.randomUUID()}.avro"
          var n = 0
          var rows = 0L
          val run = new Iterator[org.apache.avro.generic.GenericRecord] {
            def hasNext: Boolean = buf.hasNext &&
              buf.head._1 == sid && buf.head._2 == origSeq
            def next(): org.apache.avro.generic.GenericRecord = {
              val (_, _, f, fr) = buf.next()
              n += 1; rows += f.recordCount
              IcebergManifests.toEntry(f,
                IcebergManifests.Status.Existing, snapId, sch,
                firstRowId = fr,
                specFields = sfb.getOrElse(sid, null))
            }
          }
          val len = IcebergManifests.writeManifest(np, run, bconf.value.value)
          out += ((np, len, n, rows, sid, origSeq))
        }
        out.result().iterator
      }.collect()
      summaries.foreach { case (p, len, n, rows, sid, origSeq) =>
        kept += IcebergManifests.ManifestSummary(p, len, origSeq,
          0, n, 0, 0L, rows, specId = sid)
      }
    }

    // added-files manifest(s): OPTIMISTIC driver stream — the common
    // incremental commit writes one manifest in the same single pass it
    // always did (no extra job, no cache). Only a commit that exceeds
    // the cap mid-stream abandons the driver manifest and re-authors
    // distributed — one ADDED manifest per task with bounded entries, so
    // a 10^6-file full sync never serializes its adds through a single
    // driver writer (same move as the carry-forward above); the rare
    // fallback re-runs the adds lineage once, persisted for its two
    // passes (count + write).
    pendingAdds.foreach { ds =>
      var addedCount = 0L
      var addedRows = 0L
      val np = s"$mdir/m-${UUID.randomUUID()}.avro"
      val cap = IcebergConversionTarget.DriverAddsThreshold
      // fused probe: the common small commit ships its adds in the ONE
      // job that also counts them (toLocalIterator was a job per
      // partition); a probe-truncated but under-cap commit keeps the
      // streaming iterator, an over-cap commit skips the driver attempt
      // entirely (the old path wrote a partial manifest and deleted it)
      // probe cap = the driver-path gate, so a 65k-100k-add commit does
      // not truncate the probe and pay the extra per-partition
      // toLocalIterator pass the fusion exists to remove
      val addsProbe = graft.util.ProbedRows.probe(ds,
        (f: FileEntry) => f.recordCount, cap = cap)
      val overCap = addsProbe.count > cap
      val it: Iterator[graft.model.FileEntry] =
        if (overCap) Iterator.empty
        else addsProbe.rows.map(_.iterator)
          .getOrElse(ds.toLocalIterator().asScala)
      // spec field_summary bounds (ids 509-511) per partition-spec
      // field, tracked while the entries stream — real readers prune
      // whole manifests by them before opening any entry
      val partOrder = partitionSpec.map(_.partitionColumnName)
      val partBounds = scala.collection.mutable.Map
        .empty[String, (Boolean, String, String)]
      def track(f: graft.model.FileEntry): Unit = partOrder.foreach { pf =>
        f.partitionValues.find(_.field == pf) match {
          case Some(p) =>
            val numeric = IcebergManifests
              .partitionAvroType(schema, pf) != "string"
            def lt(a: String, b: String): Boolean =
              if (numeric) a.toLong < b.toLong else a < b
            partBounds.get(pf) match {
              case None => partBounds(pf) = (false, p.value, p.value)
              case Some((n, lo, hi)) => partBounds(pf) = (n,
                if (lt(p.value, lo)) p.value else lo,
                if (lt(hi, p.value)) p.value else hi)
            }
          case None => partBounds.get(pf) match {
            case None => partBounds(pf) = (true, null, null)
            case Some((_, lo, hi)) => partBounds(pf) = (true, lo, hi)
          }
        }
      }
      val entryIt = it.map { f =>
        val fr = if (isV3) Some(baseRowId + addedRows) else None
        addedCount += 1; addedRows += f.recordCount
        track(f)
        IcebergManifests.toEntry(f, IcebergManifests.Status.Added,
          snapshotId, schema, firstRowId = fr,
          specFields = specFieldsNow)
      }.takeWhile(_ => addedCount <= cap)
      val len = IcebergManifests.writeManifest(np, entryIt)
      def boundBytes(pf: String, v: String): Option[Array[Byte]] =
        Option(v).map { s =>
          IcebergManifests.partitionAvroType(schema, pf) match {
            case "int" => java.nio.ByteBuffer.allocate(4)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN)
              .putInt(s.toInt).array()
            case "long" => java.nio.ByteBuffer.allocate(8)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN)
              .putLong(s.toLong).array()
            case _ => s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          }
        }
      val summaries = partOrder.flatMap(pf => partBounds.get(pf).map {
        case (containsNull, lo, hi) =>
          IcebergManifests.PartitionFieldSummary(containsNull,
            boundBytes(pf, lo), boundBytes(pf, hi))
      })
      if (!overCap && addedCount > 0) {
        kept += IcebergManifests.ManifestSummary(
          np, len, snapshotId, addedCount.toInt, 0, 0, addedRows, 0L,
          partitions = summaries, specId = defaultSpecId)
        newRowsTotal = addedRows
      } else {
        // over the cap (or empty): drop the partial driver manifest
        val hp = new org.apache.hadoop.fs.Path(np)
        hp.getFileSystem(new org.apache.hadoop.conf.Configuration())
          .delete(hp, false)
      }
      if (overCap) {
        val sch = schema
        val snapId = snapshotId
        val md = mdir
        val v3 = isV3
        val base = baseRowId
        val sfNow = specFieldsNow
        val bconf = graft.util.HadoopConfs.broadcastSession(spark)
        val cached = ds.persist()
        val addTotal = addsProbe.count
        val nParts = math.max(1, math.min(256,
          math.ceil(addTotal.toDouble /
            IcebergConversionTarget.EntriesPerManifest).toInt))
        // the repartitioned set is persisted so the v3 row-id passes
        // (per-partition counts, then assignment) see ONE partitioning
        val rep = cached.repartition(nParts).persist()
        val bases: Array[Long] =
          if (!v3) Array.empty
          else {
            val counts = rep.rdd.mapPartitionsWithIndex { (i, it2) =>
              Iterator((i, it2.map(_.recordCount).sum))
            }.collect().sortBy(_._1).map(_._2)
            newRowsTotal = counts.sum
            counts.scanLeft(base)(_ + _)
          }
        val bBases = spark.sparkContext.broadcast(bases)
        val summaries = rep.rdd.mapPartitionsWithIndex { (i, it2) =>
          if (!it2.hasNext) Iterator.empty
          else {
            val p = s"$md/m-${UUID.randomUUID()}.avro"
            var n = 0
            var rows = 0L
            var cursor = if (v3) bBases.value(i) else 0L
            val len2 = IcebergManifests.writeManifest(p,
              it2.map { f =>
                val fr = if (v3) Some(cursor) else None
                cursor += f.recordCount
                n += 1; rows += f.recordCount
                IcebergManifests.toEntry(f, IcebergManifests.Status.Added,
                  snapId, sch, firstRowId = fr, specFields = sfNow)
              }, bconf.value.value)
            Iterator((p, len2, n, rows))
          }
        }.collect()
        summaries.foreach { case (p, len2, n, rows) =>
          kept += IcebergManifests.ManifestSummary(
            p, len2, snapshotId, n, 0, 0, rows, 0L,
            specId = defaultSpecId)
        }
        rep.unpersist(); cached.unpersist(); bBases.unpersist()
      }
    }

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
            IcebergManifests.readManifest(m.path).filter(e =>
              e.get("status").asInstanceOf[Int] != IcebergManifests.Status.Deleted)
          }.map { e =>
            e.put("status", IcebergManifests.Status.Existing); n += 1
            rows += e.get("data_file")
              .asInstanceOf[org.apache.avro.generic.GenericRecord]
              .get("record_count").asInstanceOf[Long]
            e
          }
          val len = IcebergManifests.writeManifest(np, entries)
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
    IcebergManifests.writeManifestList(listPath, keptList)

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
      nextRowId = if (isV3) baseRowId + newRowsTotal else 0L))
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

  /** Commits at or under this many adds write ONE driver-streamed
    * manifest (no extra job); above it, one ADDED manifest per task.
    */
  val DriverAddsThreshold = 100000L
  /** Target entries per executor-written ADDED manifest. */
  val EntriesPerManifest = 200000L

  /** Removed-path count above which completeSync never materializes the
    * driver Set: the carry-forward switches to a distributed anti-join
    * over the previous manifest entries.
    */
  private[iceberg] var BigRemovesThreshold: Long = 100000L

  /** Observability hook for specs: which carry-forward path the last
    * completeSync took ("driver-set" | "distributed-anti-join").
    */
  @volatile private[graft] var lastCarryForwardMode: String = ""

  /** Carry one previous manifest into the next snapshot: untouched →
    * `(path, len, liveCount, 0)` (stat only); partially removed → rewrite
    * live entries minus `removed` to a fresh manifest; fully removed →
    * None. Static so the closure ships to executors without dragging the
    * target (SparkSession and all) along.
    */
  private[iceberg] def carryForwardManifest(mp: String,
      removed: Set[String], mdir: String)
      : Option[(String, Long, Int, Int, Long)] = {
    def dataFile(e: org.apache.avro.generic.GenericRecord) =
      e.get("data_file").asInstanceOf[org.apache.avro.generic.GenericRecord]
    def pathOf(e: org.apache.avro.generic.GenericRecord): String =
      dataFile(e).get("file_path").toString
    def isLive(e: org.apache.avro.generic.GenericRecord): Boolean =
      e.get("status").asInstanceOf[Int] != IcebergManifests.Status.Deleted
    // pass 1 streams counts only — a 10^6-entry manifest never
    // materializes; the rewrite (pass 2) streams reader→writer
    var remaining = 0; var dropped = 0; var remainingRows = 0L
    IcebergManifests.readManifest(mp).foreach { e =>
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
      val hp = new org.apache.hadoop.fs.Path(mp)
      val len = hp.getFileSystem(new org.apache.hadoop.conf.Configuration())
        .getFileStatus(hp).getLen
      Some((mp, len, remaining, 0, remainingRows))
    } else if (remaining > 0) {
      val np = s"$mdir/m-${UUID.randomUUID()}.avro"
      val survivors = IcebergManifests.readManifest(mp)
        .filter(e => isLive(e) && !removed.contains(pathOf(e)))
        .map { e => e.put("status", IcebergManifests.Status.Existing); e }
      val len = IcebergManifests.writeManifest(np, survivors)
      Some((np, len, remaining, dropped, remainingRows))
    } else None
  }
}

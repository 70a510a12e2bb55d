package graft.formats.hudi

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

import graft.io.TableStore
import graft.model._
import graft.plans.Placement
import graft.spi._
import graft.util.{Jsons, PathUtils}

/** Hudi source — reference HudiConversionSource.java:57-341: snapshot =
  * latest base file per file group across the timeline; per-commit diffs;
  * column stats come from parquet footers (the reference's own fallback when
  * the metadata-table col-stats index is absent —
  * HudiFileStatsExtractor.java:115-126), read distributed.
  *
  * MERGE_ON_READ tables serve the READ-OPTIMIZED view, exactly like the
  * reference (HudiDataFileExtractor.java:359 `getLatestBaseFiles` — log
  * files never become data files; ITConversionController.java:409-452
  * checks equivalence against `hoodie.datasource.query.type=read_optimized`).
  * `deltacommit` write stats that target log files leave the base-file map
  * untouched but mark their file group log-pending until a newer base write
  * (compaction) lands. Requesting the real-time view on a table with
  * unmerged log files refuses loudly — log-block merge is out of scope.
  *
  * @param queryType `read_optimized` (default; the only MOR-complete mode)
  *                  or `snapshot` (real-time — refused when log files are
  *                  pending, identical to RO otherwise)
  */
class HudiConversionSource(spark: SparkSession, tablePath: String,
    tableName: String, queryType: String = "read_optimized")
  extends ConversionSource {

  override def sourceFormat: String = TableFormats.Hudi

  private val store = TableStore(spark)

  private def instants: Seq[String] = HudiTimeline.listInstants(tablePath, store)

  /** Per-instant cumulative live state (latest write per fileId + replaced
    * set) for the WHOLE timeline — archived plus active — folded ONCE and
    * snapshotted per commit via persistent-map structural sharing. Replaying
    * an N-commit backlog is then O(N log N) total; the previous shape
    * (re-fold the timeline per changeForCommit) was O(N²). The cache is
    * keyed on the active instant list so new commits invalidate it.
    */
  private type LiveState =
    (String, Map[String, (String, HudiTimeline.WriteStat, String)], Set[String],
      Set[String])           // _4 = fileIds with logs newer than their base
  private var timelineCache
      : Option[(Seq[String], Seq[HudiTimeline.CommitMeta], Vector[LiveState])] =
    None

  private def timeline(): (Seq[HudiTimeline.CommitMeta], Vector[LiveState]) =
    synchronized {
      val active = instants
      timelineCache match {
        case Some((key, commits, states)) if key == active => (commits, states)
        case _ =>
          val commits = (HudiTimeline.readArchivedCommits(tablePath, store) ++
            active.map(HudiTimeline.readCommit(tablePath, _, store)))
            .sortBy(_.instant)
          val states = commits.scanLeft(
            ("", Map.empty[String, (String, HudiTimeline.WriteStat, String)],
              Set.empty[String], Set.empty[String]): LiveState) {
            case ((_, latest0, replaced0, logPending0), c) =>
              var latest = latest0
              var replaced = replaced0
              var logPending = logPending0
              for ((part, stats) <- c.partitionToWriteStats; s <- stats) {
                if (HudiTimeline.isLogFile(s.path)) {
                  // MOR log write: base file unchanged in the RO view; the
                  // group is real-time-stale until compaction writes a base
                  logPending += HudiTimeline.logFileGroupId(s.path)
                } else {
                  latest = latest.updated(s.fileId, (part, s, c.instant))
                  replaced -= s.fileId    // re-add revives a file group
                  logPending -= s.fileId  // new base absorbs prior logs
                }
              }
              for ((_, ids) <- c.partitionToReplaceFileIds; id <- ids) {
                replaced += id
                logPending -= id  // a replaced group's logs are dead
              }
              (c.instant, latest, replaced, logPending)
          }.toVector
          timelineCache = Some((active, commits, states))
          (commits, states)
      }
    }

  private def commitsUpTo(instant: String): Seq[HudiTimeline.CommitMeta] =
    timeline()._1.filter(_.instant <= instant)

  /** Every write stat ever committed (archived + active timeline), with
    * its commit instant — the cleaner's ground truth for how old each
    * physical file is.
    */
  private[hudi] def allWrites(): Seq[(String, HudiTimeline.WriteStat)] =
    timeline()._1.flatMap(c =>
      c.partitionToWriteStats.valuesIterator.flatten.map(s => (c.instant, s)))

  /** Live (partition, WriteStat) pairs as of an instant: latest write per
    * fileId wins; fileIds replaced by a later replacecommit are dropped.
    */
  private[graft] def liveStats(upTo: String)
      : Seq[(String, HudiTimeline.WriteStat, String)] = {
    val states = timeline()._2
    val idx = states.lastIndexWhere(s => s._1 <= upTo)
    if (idx <= 0) Nil
    else {
      val (_, latest, replaced, _) = states(idx)
      latest.values.filter { case (_, s, _) => !replaced.contains(s.fileId) }
        .toSeq.sortBy { case (_, s, _) => s.fileId }
    }
  }

  /** File groups whose newest write is a log file (RO view ≠ real-time view
    * until compaction). Empty on COW tables.
    */
  private[hudi] def logPendingFileGroups(upTo: String): Set[String] = {
    val states = timeline()._2
    val idx = states.lastIndexWhere(s => s._1 <= upTo)
    if (idx <= 0) Set.empty else states(idx)._4
  }

  /** fileId → live base-file instant (the instant whose write produced the
    * group's current base file) — log files attach to it by name.
    */
  private[hudi] def fileGroupBaseInstants(): Map[String, String] = {
    val last = instants.lastOption.getOrElse(
      throw new IllegalStateException(s"no Hudi timeline at $tablePath"))
    liveStats(last).map { case (_, s, instant) => s.fileId -> instant }.toMap
  }

  /** Live log files of the current file slices: every log write newer
    * than its group's live base file, as (absolutePath, groupId, instant).
    * Logs absorbed by a later base (compaction) drop out because the base
    * instant moved past them.
    */
  private[hudi] def liveLogFiles(upTo: String): Seq[(String, String, String)] = {
    val states = timeline()
    // live (unreplaced) groups only: logs of a replaced file group must
    // not serve — liveStats already applies the replace set
    val base = liveStats(upTo)
      .map { case (_, s, instant) => s.fileId -> instant }.toMap
    states._1.filter(_.instant <= upTo).flatMap { c =>
      c.partitionToWriteStats.valuesIterator.flatten
        .filter(s => HudiTimeline.isLogFile(s.path))
        .flatMap { s =>
          val gid = HudiTimeline.logFileGroupId(s.path)
          base.get(gid) match {
            case Some(bi) if c.instant > bi =>
              Some((PathUtils.resolve(tablePath, s.path), gid, c.instant))
            case _ => None
          }
        }
    }
  }

  /** fileId → count of live log files (names the next log version). */
  private[hudi] def logFileCounts(): Map[String, Int] = {
    val last = instants.lastOption.getOrElse(return Map.empty)
    liveLogFiles(last).groupBy(_._2).map { case (g, ls) => g -> ls.size }
  }

  /** The loud refusal the scaladoc promises: a real-time (`snapshot`) read
    * of a MOR table with unmerged log files would silently drop updates if
    * we served base files only — so we don't serve it at all.
    */
  private def checkQueryTypeServable(upTo: String): Unit =
    if (queryType != "read_optimized") {
      val pending = logPendingFileGroups(upTo)
      if (pending.nonEmpty) throw new UnsupportedOperationException(
        s"MERGE_ON_READ real-time view requires merging ${pending.size} " +
          s"file group(s) with unmerged log files (e.g. ${pending.take(3)
            .mkString(", ")}) at $tablePath; this source serves the " +
          "read_optimized view only — compact the table or pass " +
          "queryType=read_optimized")
    }

  /** Latest commit wins, whichever schema form it carries: Spark schema
    * JSON (our target's writes — field-id metadata survives natively) or
    * Avro (the form a real Hudi writer leaves — id-less). Preferring a
    * stale spark-json over a newer avro would silently undo an external
    * writer's evolution. Then the IdTracker analog: if any commit persisted
    * an id registry, re-apply it, giving externally-added fields fresh ids
    * past the registry's high-water mark.
    */
  private[hudi] def schemaFromTimeline(commits: Seq[HudiTimeline.CommitMeta])
      : StructType = {
    // a REAL Hudi writer puts the AVRO schema under the key "schema"
    // (HoodieCommitMetadata SCHEMA_KEY); graft's target writes Avro there
    // too (conformance) plus the Spark form under graft.sparkSchema, which
    // wins when present (field-id metadata survives natively). The bare
    // "avroSchema" key is read for tables written by pre-r7 graft.
    def parseSchema(s: String): Option[StructType] =
      scala.util.Try(DataType.fromJson(s).asInstanceOf[StructType]).toOption
        .orElse(scala.util.Try(graft.model.AvroSchemas.toSpark(
          new org.apache.avro.Schema.Parser().parse(s))
          .asInstanceOf[StructType]).toOption)
    val base = commits.reverseIterator.map { c =>
      c.extraMetadata.get("graft.sparkSchema").flatMap(parseSchema)
        .orElse(c.extraMetadata.get("schema").flatMap(parseSchema))
        .orElse(c.extraMetadata.get("avroSchema").flatMap(parseSchema))
    }.collectFirst { case Some(s) => s }
      .getOrElse(spark.read.parquet(tablePath).schema)
    commits.reverseIterator.flatMap(_.extraMetadata.get(HudiIdTracking.Key))
      .nextOption() match {
      case Some(json) => HudiIdTracking.applyTracking(base, json)
      case None => base
    }
  }

  private[hudi] def specFromTimeline(commits: Seq[HudiTimeline.CommitMeta])
      : Seq[PartitionFieldSpec] =
    commits.reverse.flatMap(_.extraMetadata.get("graft.partitionSpec"))
      .headOption.map { json =>
        import scala.jdk.CollectionConverters._
        Jsons.mapper.readTree(json).elements().asScala.map { n =>
          PartitionFieldSpec(n.get("sourceField").asText,
            n.get("transform").asText,
            Option(n.get("format")).filterNot(_.isNull).map(_.asText),
            Option(n.get("numBuckets")).filterNot(_.isNull).map(_.asInt))
        }.toSeq
      }.getOrElse(Nil)

  override def currentTable(): TableDescriptor = {
    val commits = commitsUpTo(instants.lastOption.getOrElse("0"))
    val spec = specFromTimeline(commits)
    TableDescriptor(tableName, TableFormats.Hudi,
      PathUtils.canonical(tablePath), schemaFromTimeline(commits), spec,
      if (spec.nonEmpty) Layout.HivePartitioned else Layout.Flat,
      instants.lastOption.map(_.toLong).getOrElse(0L))
  }

  /** Stat enrichment of a live listing, in two steps, each placed by
    * [[Placement]] on what it reads. First the metadata index, which
    * serves stats when the table has one (zero footer opens — reference
    * HudiFileStatsExtractor.java:136-188 metadata-table path): its inputs
    * are the index deltas. Then the listed files the index lacks fall
    * back to a footer read (:115-126) under the session's Hadoop conf:
    * those footers are the step's inputs, counted, not sized, since a
    * footer read is bounded by the footer and not by the file. An index
    * read in tasks keeps the footer step there too. `at` pins both
    * placements for tests.
    */
  private[graft] def toFileEntries(
      rows: Seq[(String, HudiTimeline.WriteStat, String)],
      at: Option[Placement] = None): Placement.Placed[FileEntry] = {
    import spark.implicits._
    val input = rows.map { case (part, s, instant) =>
      (PathUtils.resolve(tablePath, s.path), s.fileSizeInBytes, part, instant)
    }
    val deltas = HudiMetadataIndex.deltas(tablePath, store)
    val index = HudiMetadataIndex.read(spark, deltas,
      at.getOrElse(Placement.of(deltas.map(_.size))), store)
    // the index hits, when the index and the footer step are on the driver
    val driverHits = index.swap.toOption.flatMap { entries =>
      val hits = entries.iterator.filter(_.columnStats.nonEmpty)
        .map(e => e.path -> e).toMap
      val footers = input.count(r => !hits.contains(r._1))
      Option.when(at.getOrElse(Placement.of(footers, Nil)) ==
        Placement.Driver)(hits)
    }
    driverHits match {
      case Some(hits) =>
        val conf = graft.util.HadoopConfs.session(spark)
        Left(input.toIndexedSeq.map { case (path, size, part, instant) =>
          HudiMetadataIndex.fileEntry(conf, path, size, part, instant,
            hits.get(path).map(e => (e.recordCount, e.columnStats)))
        })
      case None =>
        val bconf = graft.util.HadoopConfs.broadcastSession(spark)
        Right(graft.util.Par.ds(spark, input, 128)
          .toDF("path", "size", "part", "instant")
          .join(Placement.dataset(spark, index)
              .select("path", "recordCount", "columnStats"),
            Seq("path"), "left")
          .as[(String, Long, String, String, Option[Long],
            Option[Seq[FileColumnStat]])]
          .mapPartitions(_.map {
            case (path, size, part, instant, idxRecords, idxStats) =>
              HudiMetadataIndex.fileEntry(bconf.value.value, path, size, part,
                instant, idxStats.map(st => (idxRecords.getOrElse(0L), st)))
          }))
    }
  }

  private def hudiSnapshot(table: TableDescriptor, upTo: String)
      : TableSnapshot =
    graft.plans.SnapshotFileIndex.snapshot(spark, table, upTo,
      toFileEntries(liveStats(upTo)))

  override def currentSnapshot(): TableSnapshot = {
    val last = instants.lastOption.getOrElse(
      throw new IllegalStateException(s"no Hudi timeline at $tablePath"))
    checkQueryTypeServable(last)
    hudiSnapshot(currentTable(), last)
  }

  /** Time travel: table state as of a historical instant (reference
    * ITConversionController time-travel equivalence :454-506). The
    * schema/partition spec come from the commits up to the instant (not
    * the head — a later evolution must not leak backwards), the files
    * from the same timeline fold every snapshot read uses.
    */
  def snapshotAt(instant: String): TableSnapshot = {
    val at = instants.filter(_ <= instant)
    require(at.nonEmpty,
      s"no Hudi instant at or before '$instant' at $tablePath")
    val upTo = at.last
    checkQueryTypeServable(upTo)
    val commits = commitsUpTo(upTo)
    val spec = specFromTimeline(commits)
    val table = TableDescriptor(tableName, TableFormats.Hudi,
      PathUtils.canonical(tablePath), schemaFromTimeline(commits), spec,
      if (spec.nonEmpty) Layout.HivePartitioned else Layout.Flat,
      upTo.toLong)
    hudiSnapshot(table, upTo)
  }

  /** Live listing from timeline metadata only (no footer reads): record
    * counts from writeStats, no column stats. Used for diffing against an
    * incoming snapshot, where opening data files — possibly already deleted
    * externally — is neither needed nor safe.
    */
  private[hudi] def listingFromTimeline(): Dataset[FileEntry] = {
    import spark.implicits._
    val last = instants.lastOption.getOrElse(
      throw new IllegalStateException(s"no Hudi timeline at $tablePath"))
    val tp = tablePath
    val rows = liveStats(last).map { case (part, s, instant) =>
      val pv = part.split('/').toSeq.filter(_.contains('='))
        .map { seg =>
          val i = seg.indexOf('=')
          PartitionMember(seg.substring(0, i), seg.substring(i + 1))
        }
      FileEntry(PathUtils.resolve(tp, s.path), s.fileSizeInBytes,
        s.numWrites, "parquet", pv, Nil, instant.toLong)
    }
    spark.createDataset(rows)
  }

  override def changeForCommit(commit: String): TableChange = {
    import spark.implicits._
    val c = HudiTimeline.readCommit(tablePath, commit, store)
    // log-file write stats (MOR deltacommits) never change the RO view:
    // only base-file writes become adds
    val adds = c.partitionToWriteStats.toSeq.flatMap { case (p, ss) =>
      ss.filterNot(s => HudiTimeline.isLogFile(s.path))
        .map(s => (p, s, c.instant))
    }
    // removed = file groups replaced by this commit, plus base files
    // superseded in-place by a new base path for the same fileId (MOR
    // compaction writes a fresh base file into the same file group) —
    // both resolved against the state just before this commit
    val replacedIds = c.partitionToReplaceFileIds.values.flatten.toSet
    val newBaseByFileId = adds.map { case (_, s, _) => s.fileId -> s.path }
      .toMap
    val prevInstant = instants.takeWhile(_ < commit).lastOption
    val removed = prevInstant.map(pi => liveStats(pi)
        .filter { case (_, s, _) =>
          replacedIds.contains(s.fileId) ||
            newBaseByFileId.get(s.fileId).exists(_ != s.path)
        })
      .getOrElse(Nil)
    TableChange(commit,
      currentTable().copy(latestCommitMillis = commit.toLong),
      FilesDelta(toFileEntries(adds), toFileEntries(removed)))
  }

  override def commitsBacklog(lastSynced: String): Seq[String] =
    instants.filter(_ > lastSynced)

  /** Incremental is safe only while every instant after the sync point is
    * still in the ACTIVE timeline — an archived instant past it means the
    * backlog is no longer individually replayable and the controller must
    * fall back to a full sync (reference
    * HudiConversionSource.java:165-216, isIncrementalSyncSafeFrom +
    * doesCommitExistsAsOfInstant).
    */
  override def isIncrementalSyncSafeFrom(commit: String): Boolean =
    HudiTimeline.archivedInstants(tablePath, store).forall(_ <= commit) &&
      (instants.isEmpty || commit <= instants.last) &&
      // a CLEAN whose horizon is newer than the resume point has deleted
      // files the backlog replay would reference — fall back to full sync
      HudiTimeline.cleanHorizons(tablePath, store).forall(_ <= commit) &&
      // a ROLLBACK that retracted an instant at or before the resume
      // point means already-synced state was withdrawn — incremental
      // replay cannot express that; fall back to full sync. Rollbacks of
      // LATER (failed) instants are safe: their data never reached the
      // backlog (only completed instants list).
      HudiTimeline.rollbackTargets(tablePath, store).forall(_ > commit)

  /** Read the table's rows. `read_optimized` serves the base files; the
    * `snapshot` (real-time) view MERGES unabsorbed log records over the
    * base scan by record key, latest instant winning — the view the
    * reference reads through `hoodie.datasource.query.type=snapshot`
    * (ITHudiConversionSource real-time assertions). File-level surfaces
    * (currentSnapshot, sync) still refuse while logs are pending: a
    * file listing cannot represent a merge.
    */
  def toDataFrame: DataFrame = {
    val last = instants.lastOption.getOrElse(
      throw new IllegalStateException(s"no Hudi timeline at $tablePath"))
    val pending = logPendingFileGroups(last)
    if (queryType == "read_optimized" || pending.isEmpty)
      return graft.formats.delta.DeltaRead.toDataFrame(
        spark, hudiSnapshot(currentTable(), last))
    val keyCols = HudiTimeline
      .property(tablePath, HudiLogFiles.RecordKeyFieldsProp, store)
      .map(_.split(',').toSeq)
      .getOrElse(throw new UnsupportedOperationException(
        s"real-time merge at $tablePath needs " +
          s"${HudiLogFiles.RecordKeyFieldsProp} in hoodie.properties — " +
          "without the record key, log records cannot replace base rows"))
    HudiLogFiles.mergedRead(spark, hudiSnapshot(currentTable(), last),
      liveLogFiles(last).map(_._1), keyCols)
  }
}

/** Hudi COW target — reference HudiConversionTarget.java:103-664, heavily
  * simplified: each sync is one commit (adds) or replacecommit (adds +
  * replaced file groups), written through the timeline codec; sync
  * bookkeeping rides in extraMetadata exactly like the reference's
  * `:611+`.
  */
class HudiConversionTarget(spark: SparkSession, tablePath: String)
  extends ConversionTarget {

  override def targetFormat: String = TableFormats.Hudi

  private var table: TableDescriptor = _
  private var schema: StructType = _
  private var partitionSpec: Seq[PartitionFieldSpec] = Nil
  private var syncMeta: Option[SyncMetadata] = None
  private var pending = FilesDelta.empty
  /** Pins where this target's commit writes run (tests only). */
  private[graft] var at: Option[Placement] = None
  private var extraStamps: Map[String, String] = Map.empty
  private var expectedBase: Option[String] = None

  private val store = TableStore(spark)

  private def source = new HudiConversionSource(spark, tablePath, "target")

  /** Extra extraMetadata entries for the NEXT commit — the hook the
    * exactly-once streaming sink uses to stamp its (appId, batchId) txn
    * marker onto the same commit that lands the batch's files.
    */
  def stampCommit(kvs: (String, String)*): Unit =
    extraStamps = extraStamps ++ kvs

  override def beginSync(t: TableDescriptor): Unit = {
    table = t; schema = t.schema
    pending = FilesDelta.empty
    extraStamps = Map.empty
    expectedBase = None
    if (!HudiTimeline.exists(tablePath, store))
      HudiTimeline.writeProperties(tablePath, t.name, store = store)
  }

  /** CAS pin for read-modify-write full-set syncs: commit ids on Hudi are
    * timeline instants. [[completeSync]] enforces it twice: the head
    * re-check fails a commit whose base was already advanced, and —
    * because a pinned commit's instant is the DETERMINISTIC successor
    * `base + 1` — two pinned writers that both pass the check in the
    * check-then-write window still target the same instant file, whose
    * create-exclusive publish arbitrates: exactly one wins, the loser
    * fails loudly instead of silently shadowing the winner's files.
    */
  override def expectBaseCommit(commitId: String): Unit =
    expectedBase = Some(commitId)

  override def syncMetadata(m: SyncMetadata): Unit = syncMeta = Some(m)
  override def syncSchema(s: StructType): Unit = schema = s
  override def syncPartitionSpec(spec: Seq[PartitionFieldSpec]): Unit =
    partitionSpec = spec

  override def syncFilesForSnapshot(files: Dataset[FileEntry]): Unit =
    pending =
      if (HudiTimeline.listInstants(tablePath, store).isEmpty)
        FilesDelta(Right(files), Left(Vector.empty))
      else FilesDelta.between(files, source.listingFromTimeline())

  override def syncFilesForDiff(diff: FilesDelta): Unit = pending = diff

  override def completeSync(): Unit = {
    expectedBase.foreach { planned =>
      val head = HudiTimeline.listInstants(tablePath, store).lastOption
        .getOrElse("")
      if (head != planned)
        throw new IllegalStateException(
          s"concurrent writer advanced $tablePath from instant $planned " +
            s"to $head since this operation planned its file set — " +
            "re-run against the new snapshot")
    }
    // pinned commits take the deterministic successor instant so the
    // check-then-write window is closed by the instant file's
    // create-exclusive publish (see expectBaseCommit scaladoc)
    val instant = expectedBase match {
      case Some(planned) if planned.nonEmpty && planned.forall(_.isDigit) =>
        (BigInt(planned) + 1).toString
      case _ => HudiTimeline.newInstant(tablePath, store)
    }
    val tp = tablePath
    import spark.implicits._

    // one fetch per side: a side at most Placement.MaxRows rows long
    // is on the driver from here on, and every artifact below (stat and
    // replace lines, index delta, metadata table) is written from it
    // with no further job; a longer side stays distributed, pinned.
    val added = Placement.fetch(pending.added, at)(_ => 0L)
    val adds = added.rows
    val removes = Placement.fetch(pending.removed, at)(_ => 0L)

    // Hudi's commit JSON inherently lists every write stat, but the
    // driver never needs to HOLD them: one `partition<sep>json` line per
    // file, sorted by partition path and streamed to the commit writer
    // — driver state is one partition name + one bounded batch.
    val sep = HudiTimeline.GroupSep
    def lines(side: Placement.Placed[FileEntry])(payload: FileEntry => String)
        : Iterator[String] =
      HudiTimeline.sortedLines(Placement.mapRows(side)(_.map(f =>
        f.partitionValues.map(p => s"${p.field}=${p.value}").mkString("/") +
          sep + payload(f))))
    val statLines = lines(adds)(f =>
      Jsons.toJson(Map(
        "fileId" -> HudiTimeline.fileId(f.path),
        "path" -> PathUtils.relativize(tp, f.path),
        "numWrites" -> f.recordCount,
        "fileSizeInBytes" -> f.fileSizeBytes,
        "totalWriteBytes" -> f.fileSizeBytes)))
    val replaceLines = lines(removes.rows)(f =>
      Jsons.toJson(HudiTimeline.fileId(f.path)))

    val action = if (removes.count > 0) "replacecommit" else "commit"
    val extra = Map(
      // a real Hudi reader resolves the table schema from extraMetadata
      // "schema" and expects AVRO there (HoodieCommitMetadata SCHEMA_KEY;
      // reference HudiSchemaExtractor.java:38-63) — the golden
      // hudi_dimCustomer commit carries exactly this shape. Spark schema
      // JSON rides under a namespaced key for native field-id round-trips.
      "schema" -> graft.model.AvroSchemas
        .fromSpark(schema, "hudi_record").toString,
      "graft.sparkSchema" -> schema.json,
      "graft.partitionSpec" -> Jsons.toJson(partitionSpec.map(p => Map(
        "sourceField" -> p.sourceField, "transform" -> p.transform,
        "format" -> p.format.orNull,
        "numBuckets" -> p.numBuckets.map(Integer.valueOf).orNull)))) ++
      // IdTracker analog: persist the schema's field-id registry so ids
      // survive a Hudi round trip even through id-less Avro schemas
      HudiIdTracking.trackingJson(schema)
        .map(j => Map(HudiIdTracking.Key -> j)).getOrElse(Map.empty) ++
      syncMeta.map(m => Map(SyncMetadata.PropertyKey -> m.toJson))
        .getOrElse(Map.empty) ++
      extraStamps

    val ok = HudiTimeline.writeCommitStreamed(tablePath, instant, action,
      statLines, replaceLines, extra, store)
    if (!ok) throw new IllegalStateException(
      s"concurrent writer committed instant $instant first at $tablePath")
    // maintain the metadata index: one per-instant delta with the commit's
    // added files and their stats — readers then answer stats queries from
    // the index instead of opening every data file's footer. A delta the
    // index read could take on the driver is a JSON sidecar (no job).
    adds match {
      case Left(rows) if rows.size <= Placement.MaxFiles =>
        HudiMetadataIndex.writeSmall(tablePath, instant, rows, store)
      case _ => HudiMetadataIndex.write(spark, tablePath, instant,
        Placement.dataset(spark, adds))
    }
    // and the REAL .hoodie/metadata files partition (HFile wire
    // format), so external Hudi readers with metadata enabled list
    // without walking the filesystem. replacecommits add their new
    // files only — replaced files stay listed until clean() deletes
    // them physically (the files partition tracks filesystem state;
    // visibility stays with the timeline).
    HudiMetadataTable.maintain(spark, tablePath, table.name, instant,
      Placement.mapRows(adds)(HudiMetadataTable.addsOf(tp)), store)
    added.unpin(); removes.unpin()
  }

  override def tableMetadata(): Option[SyncMetadata] = {
    val is = HudiTimeline.listInstants(tablePath, store)
    is.reverse.iterator
      .map(HudiTimeline.readCommit(tablePath, _, store))
      .flatMap(_.extraMetadata.get(SyncMetadata.PropertyKey))
      .map(SyncMetadata.fromJson)
      .collectFirst { case Some(m) => m }
  }
}

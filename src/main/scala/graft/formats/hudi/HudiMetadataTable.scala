package graft.formats.hudi

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumReader,
  GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{DecoderFactory, EncoderFactory}
import org.apache.spark.sql.SparkSession

import graft.io.TableStore
import graft.plans.Placement
import graft.plans.Placement.Placed
import graft.util.PathUtils

/** Hudi's `.hoodie/metadata` table — the `files` partition, in the real
  * wire format a Hudi reader with `hoodie.metadata.enable=true` consumes
  * (the reference gets this via the Hudi write client,
  * `/root/reference/xtable-core/src/main/java/org/apache/xtable/hudi/HudiConversionTarget.java:600+`).
  *
  * The metadata table is itself a MERGE_ON_READ Hudi table rooted at
  * `<table>/.hoodie/metadata`, keyed by partition path, with one file
  * group (`files-0000-0`): a bootstrap HFile base (instant
  * 00000000000000010) plus one HoodieLogFormat log per data-table
  * commit carrying an HFILE_DATA_BLOCK of HoodieMetadataRecord deltas.
  * Every structural choice mirrors the golden Hudi-0.14 table at
  * `src/test/resources/golden/hudi_dimCustomer/.hoodie/metadata`:
  * record values carry an EMPTY `key` field (readers repopulate it from
  * the HFile row key), `type` 1 = partition list / 2 = files list,
  * `filesystemMetadata` maps file name to (size, isDeleted), and the
  * `files` partition tracks PHYSICAL files — commit visibility stays
  * with the timeline, so replaced files are only tombstoned by clean().
  *
  * Scale: each data commit appends one log block whose cells are one
  * record per touched partition, streamed through [[HFiles.write]] —
  * driver state is one partition's delta map plus the block buffer,
  * never the table listing. The single-writer constraint on the one
  * file group matches Hudi's own metadata writer (table-lock held by
  * callers on the commit path).
  */
object HudiMetadataTable {

  val BootstrapInstant = "00000000000000010"
  val FileGroupId = "files-0000-0"
  val AllPartitionsKey = "__all_partitions__"
  /** Hudi's files-partition key for an unpartitioned table's root. */
  val NonPartitionedName = "."
  val FilesPartition = "files"

  private val TypePartitionList = 1
  private val TypeFilesList = 2

  def metadataPath(tablePath: String): String =
    s"$tablePath/.hoodie/metadata"

  def exists(tablePath: String,
      store: TableStore = TableStore.active()): Boolean =
    HudiTimeline.exists(metadataPath(tablePath), store)

  /** HoodieMetadataRecord writer schema, verbatim from the golden
    * metadata log block header (wire format — readers parse this JSON
    * string from the log header and the HFile file info).
    */
  lazy val schemaJson: String = {
    val in = getClass.getResourceAsStream(
      "/graft/hudi/hoodie-metadata-record.avsc")
    try new String(in.readAllBytes(), StandardCharsets.UTF_8)
    finally in.close()
  }
  lazy val schema: Schema = new Schema.Parser().parse(schemaJson)

  // ------------------------------------------------------ record codec

  /** Avro-binary HoodieMetadataRecord. `files` maps file name to
    * (size, isDeleted); `fileName` populates _hoodie_file_name (only the
    * bootstrap base record does, mirroring golden bytes).
    */
  def recordBytes(typ: Int, files: Seq[(String, Long, Boolean)],
      fileName: Option[String] = None): Array[Byte] = {
    val rec = new GenericData.Record(schema)
    fileName.foreach(n => rec.put("_hoodie_file_name", n))
    rec.put("key", "")
    rec.put("type", typ)
    val m = new java.util.LinkedHashMap[String, GenericRecord]()
    val infoSchema = nonNull(schema.getField("filesystemMetadata")
      .schema()).getValueType
    files.foreach { case (name, size, deleted) =>
      val info = new GenericData.Record(infoSchema)
      info.put("size", size)
      info.put("isDeleted", deleted)
      m.put(name, info)
    }
    rec.put("filesystemMetadata", m)
    val out = new ByteArrayOutputStream()
    val enc = EncoderFactory.get().binaryEncoder(out, null)
    new GenericDatumWriter[GenericRecord](schema).write(rec, enc)
    enc.flush()
    out.toByteArray
  }

  private def nonNull(s: Schema): Schema =
    if (s.getType == Schema.Type.UNION)
      s.getTypes.asScala.find(_.getType != Schema.Type.NULL).get
    else s

  private def decodeRecord(bytes: Array[Byte]): GenericRecord = {
    val dec = DecoderFactory.get().binaryDecoder(bytes, null)
    new GenericDatumReader[GenericRecord](schema).read(null, dec)
  }

  // ------------------------------------------------------- bootstrap

  /** Create the metadata table: properties, partition marker, the
    * bootstrap base HFile (empty partition list, _hoodie_file_name
    * populated — byte-matching golden modulo the write token) and the
    * empty delete block log.1, under timeline instant 00000000000000010.
    */
  def bootstrap(tablePath: String, tableName: String,
      store: TableStore = TableStore.active()): Unit = {
    val mp = metadataPath(tablePath)
    if (exists(tablePath, store)) return
    val props =
      s"""#Properties saved by graft
         |hoodie.table.name=${tableName}_metadata
         |hoodie.table.type=MERGE_ON_READ
         |hoodie.table.version=6
         |hoodie.timeline.layout.version=1
         |hoodie.archivelog.folder=archived
         |hoodie.populate.meta.fields=false
         |hoodie.compaction.payload.class=org.apache.hudi.metadata.HoodieMetadataPayload
         |hoodie.table.base.file.format=HFILE
         |hoodie.table.recordkey.fields=key
         |hoodie.table.keygenerator.class=org.apache.hudi.metadata.HoodieTableMetadataKeyGenerator
         |hoodie.datasource.write.drop.partition.columns=false
         |hoodie.compaction.record.merger.strategy=eeb8d96f-b1e4-49fd-bbf8-28ac514178e5
         |""".stripMargin
    store.replace(HudiTimeline.propertiesFile(mp),
      props.getBytes(StandardCharsets.UTF_8))

    val filesDir = s"$mp/$FilesPartition"
    store.replace(s"$filesDir/.hoodie_partition_metadata",
      s"""#partition metadata
         |commitTime=$BootstrapInstant
         |partitionDepth=1
         |""".stripMargin.getBytes(StandardCharsets.UTF_8))

    val baseName = s"${FileGroupId}_0-0-0_$BootstrapInstant.hfile"
    val row = AllPartitionsKey.getBytes(StandardCharsets.UTF_8)
    val value = recordBytes(TypePartitionList, Nil, Some(baseName))
    val hfile = HFiles.write(Iterator(row -> value), schemaJson,
      bloom = true)
    store.putIfAbsent(s"$filesDir/$baseName", hfile)

    val logName = s".${FileGroupId}_$BootstrapInstant.log.1_0-0-0"
    HudiLogFiles.writeDeleteMarker(store.conf, s"$filesDir/$logName",
      BootstrapInstant)

    writeDeltaCommit(store, mp, BootstrapInstant,
      path = s"$FilesPartition/$baseName", prevCommit = "null",
      numWrites = 1, fileSize = hfile.length.toLong,
      logFiles = Nil, baseFile = baseName)
  }

  // ----------------------------------------------------- append path

  /** Record one data-table commit in the files partition. `adds` and
    * `deletes` arrive as one sorted iterator of per-partition deltas
    * (partition, fileName, size, isDeleted) GROUPED by partition in
    * unsigned-byte partition order — [[HFiles.write]] enforces the
    * order loudly. `touchedPartitions` feeds the __all_partitions__
    * record; re-listing an existing partition is idempotent under the
    * map merge, so callers pass every touched partition and no
    * read-before-write is needed. Unpartitioned tables use partition
    * name "." (golden convention).
    */
  def appendCommit(tablePath: String, instant: String,
      deltas: Iterator[(String, String, Long, Boolean)],
      touchedPartitions: Seq[String],
      store: TableStore = TableStore.active()): Unit = {
    require(exists(tablePath, store), s"metadata table missing at $tablePath")
    val mp = metadataPath(tablePath)
    val filesDir = s"$mp/$FilesPartition"
    val names = store.names(filesDir)

    // one cell per partition, plus __all_partitions__ at its sorted
    // position; the grouped iterator is folded partition-by-partition so
    // driver state is a single partition's delta
    val partCells: Iterator[(Array[Byte], Array[Byte])] = new Iterator[
        (Array[Byte], Array[Byte])] {
      private val it = deltas.buffered
      def hasNext: Boolean = it.hasNext
      def next(): (Array[Byte], Array[Byte]) = {
        val part = it.head._1
        val buf = Seq.newBuilder[(String, Long, Boolean)]
        while (it.hasNext && it.head._1 == part) {
          val (_, name, size, deleted) = it.next()
          buf += ((name, size, deleted))
        }
        part.getBytes(StandardCharsets.UTF_8) ->
          recordBytes(TypeFilesList, buf.result())
      }
    }
    val allPartsCell: Iterator[(Array[Byte], Array[Byte])] =
      if (touchedPartitions.isEmpty) Iterator.empty
      else Iterator(AllPartitionsKey.getBytes(StandardCharsets.UTF_8) ->
        recordBytes(TypePartitionList,
          touchedPartitions.distinct.sorted.map(p => (p, 0L, false))))
    val cells = mergeSorted(partCells, allPartsCell)

    val hfile = HFiles.write(cells, schemaJson, bloom = false)
    val baseInstant = latestBaseInstant(names)
    val logs = logNames(names, baseInstant)
    val version = logs.lastOption.fold(1)(logVersion(_) + 1)
    val logName = s".${FileGroupId}_$baseInstant.log.${version}_0-0-0"
    val logLen = HudiLogFiles.appendHFileBlock(store.conf,
      s"$filesDir/$logName", instant, schemaJson, hfile)

    writeDeltaCommit(store, mp, instant,
      path = s"$FilesPartition/$logName", prevCommit = baseInstant,
      numWrites = 1, fileSize = logLen,
      logFiles = logs :+ logName,
      baseFile = s"${FileGroupId}_0-0-0_$baseInstant.hfile")

    if (logs.size + 1 > CompactLogThreshold)
      compact(tablePath, s"${instant}001", store)
  }

  /** Log files tolerated on the current file slice before the merged
    * state is compacted into a fresh base HFile — bounds every reader's
    * log-merge chain regardless of commit count.
    */
  val CompactLogThreshold = 10

  /** Rewrite the merged files-partition state as a new base HFile under
    * `instant` (Hudi's metadata compaction: a `commit` on the metadata
    * timeline whose instant is the triggering deltacommit + "001"),
    * then remove the previous file slice. Readers pick the newest base
    * instant, so a crash between publish and cleanup only leaves an
    * orphan slice behind.
    *
    * Driver memory is O(full listing) for the one compaction pass —
    * the same bound as Hudi's own metadata compaction, which merges a
    * file group's records in one task; sharding the files partition
    * across multiple file groups (files-0001, ...) is the scale-out
    * path beyond that and is not modeled here.
    */
  def compact(tablePath: String, instant: String,
      store: TableStore = TableStore.active()): Unit = {
    val mp = metadataPath(tablePath)
    val filesDir = s"$mp/$FilesPartition"
    val oldBase = latestBaseInstant(store.names(filesDir))
    val (partitions, files) = readFiles(tablePath, store)
    val baseName = s"${FileGroupId}_0-0-0_$instant.hfile"

    val rows: Seq[(String, Int, Seq[(String, Long, Boolean)])] =
      (if (partitions.isEmpty) Nil
       else Seq((AllPartitionsKey, TypePartitionList,
         partitions.toSeq.sorted.map(p => (p, 0L, false))))) ++
        files.toSeq.map { case (p, m) =>
          (p, TypeFilesList,
            m.toSeq.sortBy(_._1).map { case (n, s) => (n, s, false) })
        }
    val cells = rows
      .map { case (row, typ, entries) =>
        (row.getBytes(StandardCharsets.UTF_8),
          recordBytes(typ, entries, Some(baseName)))
      }
      .sortWith((a, b) => HFiles.RowOrdering.compare(a._1, b._1) < 0)
    val hfile = HFiles.write(cells.iterator, schemaJson, bloom = true)
    store.putIfAbsent(s"$filesDir/$baseName", hfile)
    writeDeltaCommit(store, mp, instant,
      path = s"$FilesPartition/$baseName", prevCommit = oldBase,
      numWrites = cells.size.toLong, fileSize = hfile.length.toLong,
      logFiles = Nil, baseFile = baseName, action = "commit")
    // drop the superseded slice (logs and any-token bases of the old
    // instant) plus the Hadoop ChecksumFileSystem .crc siblings the log
    // writer leaves next to local files
    val stale = store.names(filesDir)
      .filter(n => n.startsWith(s".${FileGroupId}_$oldBase.log.") ||
        (n.endsWith(s"_$oldBase.hfile") && n != baseName) ||
        (n.endsWith(".crc") && (n.contains(s"_$oldBase.log.") ||
          n.contains(s"_$oldBase.hfile"))))
    stale.foreach(n => store.delete(s"$filesDir/$n"))
  }

  private def mergeSorted(
      a: Iterator[(Array[Byte], Array[Byte])],
      b: Iterator[(Array[Byte], Array[Byte])])
      : Iterator[(Array[Byte], Array[Byte])] = new Iterator[
      (Array[Byte], Array[Byte])] {
    private val ba = a.buffered
    private val bb = b.buffered
    def hasNext: Boolean = ba.hasNext || bb.hasNext
    def next(): (Array[Byte], Array[Byte]) =
      if (!bb.hasNext) ba.next()
      else if (!ba.hasNext) bb.next()
      else if (HFiles.RowOrdering.compare(ba.head._1, bb.head._1) <= 0)
        ba.next()
      else bb.next()
  }

  /** Base instant of the current file slice (newest base HFile). */
  private def latestBaseInstant(names: Seq[String]): String =
    latestBase(names).fold(BootstrapInstant)(baseInstantOf)

  /** The newest base HFile: its instant is the final underscore-separated
    * token of its name.
    */
  private def latestBase(names: Seq[String]): Option[String] =
    names.filter(n => !n.startsWith(".") && n.endsWith(".hfile") &&
      n.startsWith(FileGroupId)).maxByOption(baseInstantOf)

  private def baseInstantOf(name: String): String = {
    val stem = name.stripSuffix(".hfile")
    stem.substring(stem.lastIndexOf('_') + 1)
  }

  private def logVersion(name: String): Int =
    name.substring(name.indexOf(".log.") + 5).takeWhile(_.isDigit).toInt

  /** The log files of the slice based at `baseInstant`, in version order. */
  private def logNames(names: Seq[String], baseInstant: String): Seq[String] =
    names.filter(n => n.startsWith(s".${FileGroupId}_$baseInstant.log.") &&
      !n.endsWith(".crc")).sortBy(logVersion)

  private def writeDeltaCommit(store: TableStore, mp: String,
      instant: String, path: String,
      prevCommit: String, numWrites: Long, fileSize: Long,
      logFiles: Seq[String], baseFile: String,
      action: String = "deltacommit"): Unit = {
    val stat = graft.util.Jsons.toJson(Map(
      "fileId" -> FileGroupId,
      "path" -> path,
      "prevCommit" -> prevCommit,
      "numWrites" -> numWrites,
      "totalWriteBytes" -> fileSize,
      "fileSizeInBytes" -> fileSize,
      "partitionPath" -> FilesPartition,
      "baseFile" -> baseFile,
      "logFiles" -> logFiles))
    val ok = HudiTimeline.writeCommitStreamed(mp, instant, action,
      Iterator(FilesPartition + HudiTimeline.GroupSep + stat),
      Iterator.empty, Map("schema" -> schemaJson), store)
    require(ok, s"metadata $action $instant already exists at $mp")
  }

  // -------------------------------------------------------- read path

  /** Merged state of the files partition: partition path -> file name ->
    * size, tombstones dropped; plus the partition list from
    * __all_partitions__. Reads the latest base HFile then replays log
    * HFILE blocks in version order — the same merge a real Hudi
    * metadata reader performs.
    */
  def readFiles(tablePath: String, store: TableStore = TableStore.active())
      : (Set[String], Map[String, Map[String, Long]]) = {
    val filesDir = s"${metadataPath(tablePath)}/$FilesPartition"
    val names = store.names(filesDir)
    require(names.nonEmpty, s"no metadata files partition at $filesDir")

    val base = latestBase(names).getOrElse(
      throw new IllegalArgumentException(s"no base HFile in $filesDir"))
    val baseInstant = baseInstantOf(base)

    var partitions = Set.empty[String]
    var files = Map.empty[String, Map[String, Long]]

    // blocks replay in write order, so the last writer of a file name
    // wins: adds insert, tombstones remove, a re-add after a tombstone
    // re-inserts — exactly HoodieMetadataPayload's map merge
    def applyCells(cells: Seq[HFiles.Cell]): Unit = cells.foreach { c =>
      val rec = decodeRecord(c.value)
      val fsm = rec.get("filesystemMetadata")
      val entries: Seq[(String, Long, Boolean)] =
        if (fsm == null) Nil
        else fsm.asInstanceOf[java.util.Map[AnyRef, GenericRecord]]
          .asScala.toSeq.map { case (k, v) =>
            (k.toString, v.get("size").asInstanceOf[Long],
              v.get("isDeleted").asInstanceOf[Boolean])
          }
      c.rowString match {
        case AllPartitionsKey =>
          entries.foreach { case (p, _, isDel) =>
            if (isDel) partitions -= p else partitions += p
          }
        case part =>
          entries.foreach { case (name, size, isDel) =>
            val cur = files.getOrElse(part, Map.empty)
            files += part -> (if (isDel) cur - name else cur + (name -> size))
          }
      }
    }

    applyCells(HFiles.read(store.read(s"$filesDir/$base")).cells)

    logNames(names, baseInstant).foreach { log =>
      HudiLogFiles.walkBlocks(store.conf, s"$filesDir/$log").foreach { blk =>
        if (blk.blockType == HudiLogFiles.HFileDataBlock)
          applyCells(HFiles.read(blk.content).cells)
      }
    }
    (partitions, files)
  }

  def listPartitions(tablePath: String,
      store: TableStore = TableStore.active()): Set[String] =
    if (!exists(tablePath, store)) Set.empty else readFiles(tablePath, store)._1

  // --------------------------------------------- best-effort hooks

  /** Drop the metadata table entirely — external Hudi readers then fall
    * back to file listing, which is always correct (just slower). The
    * escape hatch for every state this writer does not model precisely
    * (restore) and for any maintenance failure: a MISSING metadata
    * table degrades, a STALE one lies.
    */
  def drop(tablePath: String,
      store: TableStore = TableStore.active()): Unit =
    store.deleteTree(metadataPath(tablePath))

  /** Hudi's files-partition key for a data file's partition path
    * (empty relative path maps to "." — golden convention).
    */
  def partitionKey(relativeDir: String): String =
    if (relativeDir.isEmpty) NonPartitionedName else relativeDir

  /** The files partition can only express files UNDER the table base
    * (readers rebuild paths as base/partition/name). A conversion whose
    * data files live elsewhere (split-dir sync; the reference's layout
    * overlays all formats on one base, ITConversionController.java:140)
    * cannot be indexed — the hook then drops any existing metadata
    * table instead of letting it go stale.
    */
  private def external(rel: String): Boolean =
    rel.startsWith("/") || rel.contains("://")

  /** Live (partition, name, size) files as of the newest data-table
    * instant BEFORE `instant` — the catch-up set a mid-life adoption
    * must record so the first metadata commit does not serve a partial
    * listing. None when any live path is external (split-dir layout —
    * unindexable). Driver memory O(live files), the one-time adoption
    * bound (same class as clean's allWrites fold).
    */
  private def catchUpAdds(spark: org.apache.spark.sql.SparkSession,
      tablePath: String, instant: String, store: TableStore)
      : Option[(String, Seq[(String, String, Long)])] = {
    val prior = HudiTimeline.listInstants(tablePath, store).filter(_ < instant)
    if (prior.isEmpty) return Some(("", Nil))
    val upTo = prior.last
    val src = new HudiConversionSource(spark, tablePath,
      "metadata-catchup")
    val bases = src.liveStats(upTo)
    val baseInstantByGid =
      bases.map { case (_, s, i) => s.fileId -> i }.toMap
    val logs = src.allWrites()
      .filter { case (ci, s) =>
        ci <= upTo && HudiTimeline.isLogFile(s.path) &&
          baseInstantByGid.get(HudiTimeline.logFileGroupId(s.path))
            .exists(bi => ci > bi)
      }.map(_._2)
    val all = bases.map(_._2) ++ logs
    if (all.exists(s => external(s.path))) None
    else Some((upTo, all.map { s =>
      val cut = s.path.lastIndexOf('/')
      (if (cut < 0) "" else s.path.substring(0, cut),
        if (cut < 0) s.path else s.path.substring(cut + 1),
        s.fileSizeInBytes)
    }))
  }

  /** Bootstrap-if-absent plus mid-life catch-up: an adopted table's
    * current live files land in a metadata deltacommit at the PRIOR
    * data instant, so the commit for `instant` only carries its own
    * delta. Returns false when the layout is unindexable (drop already
    * performed).
    */
  private def ensureTable(spark: org.apache.spark.sql.SparkSession,
      tablePath: String, tableName: String, instant: String,
      store: TableStore): Boolean = {
    if (exists(tablePath, store)) return true
    catchUpAdds(spark, tablePath, instant, store) match {
      case None =>
        drop(tablePath, store)
        false
      case Some((upTo, catchUp)) =>
        bootstrap(tablePath, tableName, store)
        if (catchUp.nonEmpty)
          append(spark, tablePath, upTo,
            Left(catchUp.toIndexedSeq.map { case (p, n, s) =>
              (p, n, s, false) }), store)
        true
    }
  }

  /** One files-partition delta: (partition dir relative to the table,
    * file name, size, isDeleted).
    */
  type FileDelta = (String, String, Long, Boolean)

  /** The files-partition deltas of a commit's added files. */
  def addsOf(tablePath: String)(it: Iterator[graft.model.FileEntry])
      : Iterator[FileDelta] = it.map { f =>
    val rel = PathUtils.relativize(tablePath, f.path)
    val cut = rel.lastIndexOf('/')
    (if (cut < 0) "" else rel.substring(0, cut),
      if (cut < 0) rel else rel.substring(cut + 1), f.fileSizeBytes, false)
  }

  /** Post-commit maintenance: record `deltas` where the caller holds
    * them, on the driver or in a Dataset. Serialized under the table
    * lock (concurrent winners would race the single file group's next
    * log version); any failure drops the table rather than leaving a
    * stale listing behind.
    */
  def maintain(spark: SparkSession, tablePath: String, tableName: String,
      instant: String, deltas: Placed[FileDelta],
      store: TableStore = TableStore.active()): Unit =
    try HudiLock.withLock(tablePath, "metadata", store) {
      // one external path means split-dir layout — the whole commit
      // shares one layout, so a distributed side's head decides
      if (deltas.fold(_.iterator, _.take(1).iterator)
          .exists(d => external(d._1))) {
        drop(tablePath, store)
        return
      }
      if (!ensureTable(spark, tablePath, tableName, instant, store)) return
      append(spark, tablePath, instant, deltas, store)
    } catch {
      case e: Exception =>
        drop(tablePath, store)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"dropping .hoodie/metadata at $tablePath after failed " +
            s"maintenance for instant $instant: ${e.getMessage}")
    }

  /** [[appendCommit]] over placed deltas: one line per delta, sorted by
    * [[HudiTimeline.sortedLines]] into (partition, name) order, and the
    * added files' partitions as the touched set.
    */
  private def append(spark: SparkSession, tablePath: String,
      instant: String, deltas: Placed[FileDelta], store: TableStore): Unit = {
    import spark.implicits._
    val sep = HudiTimeline.GroupSep
    val lines = Placement.mapRows(deltas)(_.map { case (p, n, size, del) =>
      s"${partitionKey(p)}$sep$n$sep$size$sep$del"
    })
    val touched = Placement.mapRows(deltas)(
      _.collect { case (p, _, _, false) => partitionKey(p) })
      .fold(_.distinct, _.distinct().collect().toSeq) // O(#partitions)
    val it = HudiTimeline.sortedLines(lines).map { line =>
      val Array(p, n, size, del) = line.split(sep)
      (p, n, size.toLong, del.toBoolean)
    }
    appendCommit(tablePath, instant, it, touched, store)
  }
}

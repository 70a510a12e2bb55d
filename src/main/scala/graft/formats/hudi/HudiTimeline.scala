package graft.formats.hudi

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths => JPaths, StandardCopyOption}
import java.time.ZoneOffset
import java.time.format.DateTimeFormatter

import scala.jdk.CollectionConverters._
import scala.util.Using

import graft.util.Jsons

/** Hudi-layout commit timeline (public table layout: `.hoodie/` holding
  * `hoodie.properties` and one `<instant>.commit` / `<instant>.replacecommit`
  * JSON per commit, instants formatted yyyyMMddHHmmssSSS UTC — reference
  * HudiInstantUtils.java:38-81).
  *
  * COW simplification, documented: base files keep their original (source)
  * paths instead of Hudi's `<fileId>_<token>_<instant>` naming — fileId is a
  * stable hash of the path; schema in extraMetadata is Spark schema JSON.
  */
object HudiTimeline {
  val HoodieDir = ".hoodie"
  val InstantFormat: DateTimeFormatter =
    DateTimeFormatter.ofPattern("yyyyMMddHHmmssSSS").withZone(ZoneOffset.UTC)

  case class WriteStat(fileId: String, path: String, numWrites: Long,
      fileSizeInBytes: Long)

  case class CommitMeta(
      instant: String,
      action: String,            // commit | deltacommit | replacecommit
      partitionToWriteStats: Map[String, Seq[WriteStat]],
      partitionToReplaceFileIds: Map[String, Seq[String]],
      extraMetadata: Map[String, String])

  private val BaseFileRegex =
    "^([A-Za-z0-9-]+)_([0-9]+-[0-9]+-[0-9]+)_([0-9]+)\\.[A-Za-z0-9]+$".r

  /** Hudi base-file naming is `<fileId>_<writeToken>_<instant>.<ext>`
    * (FSUtils base-file pattern): a file already following it keeps its
    * embedded fileId — real Hudi readers derive file groups from the NAME,
    * so inventing a different id would split the group. Non-Hudi names
    * (plain Spark part files in zero-copy syncs) get a stable
    * path-derived UUID (Hudi's own fileId shape): 128 bits, because a
    * 32-bit hash collides ~100 times among 10^6 paths and every
    * collision silently MERGES two distinct files into one file group —
    * measured, not hypothetical (the 1M-file scale suite caught it).
    */
  def fileId(path: String): String = {
    val base = path.substring(path.lastIndexOf('/') + 1)
    base match {
      case BaseFileRegex(fid, _, _) => fid
      case _ => java.util.UUID.nameUUIDFromBytes(
        path.getBytes(StandardCharsets.UTF_8)).toString
    }
  }

  /** Hudi log-file naming: `.<fileId>_<baseInstant>.log.<version>_<token>`
    * (FSUtils.LOG_FILE_PATTERN). Log files belong to a file slice, not the
    * read-optimized view — a MOR reader serving RO must skip them.
    */
  def isLogFile(path: String): Boolean = {
    val name = path.substring(path.lastIndexOf('/') + 1)
    name.contains(".log.")
  }

  /** The fileId a log write stat attaches to: leading-dot-stripped prefix
    * before `_<baseInstant>.log.`.
    */
  def logFileGroupId(path: String): String = {
    val name = path.substring(path.lastIndexOf('/') + 1).stripPrefix(".")
    val cut = name.indexOf(".log.")
    val stem = if (cut >= 0) name.substring(0, cut) else name
    val us = stem.lastIndexOf('_')
    if (us >= 0) stem.substring(0, us) else stem
  }

  def hoodieDir(tablePath: String): String = s"$tablePath/$HoodieDir"

  /** Monotonic new instant: formatted now, bumped past the last instant if
    * the clock hasn't advanced (second-granularity writers are why the
    * reference special-cases this — HudiInstantUtils.java:78).
    */
  def newInstant(tablePath: String): String = {
    val now = InstantFormat.format(java.time.Instant.now())
    listInstants(tablePath).lastOption match {
      case Some(last) if last >= now =>
        (BigInt(last) + 1).toString
      case _ => now
    }
  }

  def exists(tablePath: String): Boolean =
    Files.exists(JPaths.get(hoodieDir(tablePath), "hoodie.properties"))

  def writeProperties(tablePath: String, tableName: String,
      tableType: String = "COPY_ON_WRITE"): Unit = {
    val dir = JPaths.get(hoodieDir(tablePath))
    Files.createDirectories(dir)
    val props =
      s"""#Updated at ${System.currentTimeMillis()}
         |hoodie.table.name=$tableName
         |hoodie.table.type=$tableType
         |hoodie.table.version=6
         |hoodie.timeline.layout.version=1
         |""".stripMargin
    Files.write(dir.resolve("hoodie.properties"),
      props.getBytes(StandardCharsets.UTF_8))
  }

  /** COPY_ON_WRITE (default when unreadable) or MERGE_ON_READ. */
  def tableType(tablePath: String): String = {
    val p = JPaths.get(hoodieDir(tablePath), "hoodie.properties")
    if (!Files.exists(p)) "COPY_ON_WRITE"
    else new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      .linesIterator.find(_.startsWith("hoodie.table.type="))
      .map(_.substring("hoodie.table.type=".length).trim)
      .getOrElse("COPY_ON_WRITE")
  }

  /** One property from hoodie.properties. */
  def property(tablePath: String, key: String): Option[String] = {
    val p = JPaths.get(hoodieDir(tablePath), "hoodie.properties")
    if (!Files.exists(p)) None
    else new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      .linesIterator.find(_.startsWith(s"$key="))
      .map(_.substring(key.length + 1).trim)
  }

  /** Set (append or replace) one property in hoodie.properties. */
  def setProperty(tablePath: String, key: String, value: String): Unit = {
    val p = JPaths.get(hoodieDir(tablePath), "hoodie.properties")
    val lines =
      if (Files.exists(p))
        new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
          .linesIterator.filterNot(_.startsWith(s"$key=")).toSeq
      else Nil
    Files.write(p, (lines :+ s"$key=$value").mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
  }

  def tableName(tablePath: String): Option[String] = {
    val p = JPaths.get(hoodieDir(tablePath), "hoodie.properties")
    if (!Files.exists(p)) None
    else new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      .linesIterator.find(_.startsWith("hoodie.table.name="))
      .map(_.substring("hoodie.table.name=".length))
  }

  // ---- Hudi 1.x timeline layout ----------------------------------------
  // Public layout (Hudi 1.0 release: hoodie.table.version 8, 1.1: 9;
  // timeline layout version 2): the ACTIVE timeline moves under
  // `.hoodie/timeline/` (property `hoodie.timeline.path`, default
  // "timeline"), COMPLETED instant files are named
  // `<requestTime>_<completionTime>.<action>` (completion time is now
  // first-class), and completed commit metadata is serialized as an AVRO
  // CONTAINER file (the self-describing `Obj\x01` object-container format
  // Hudi has always used for plans and the archived timeline) instead of
  // raw JSON. The reference reads these tables through the Hudi 1.2.0
  // library (root pom.xml:73, HudiConversionSource.java:57-341) while
  // PINNING its own writes to table version 6
  // (HudiTableManager.java:122-125) — this engine mirrors exactly that
  // split: 1.x timelines READ natively below, writes stay 0.x.

  /** `hoodie.table.version` (6 — the 0.x final — when absent). */
  def tableVersion(tablePath: String): Int =
    property(tablePath, "hoodie.table.version")
      .flatMap(_.toIntOption).getOrElse(6)

  /** Newest table version this engine can serve correctly. */
  private val MaxReadableTableVersion = 9

  /** True when the active timeline lives under the 1.x location —
    * decided by table version, with a layout probe as the tiebreak for
    * tables whose properties file is missing or unreadable.
    */
  def isV1Layout(tablePath: String): Boolean = {
    val tv = property(tablePath, "hoodie.table.version").flatMap(_.toIntOption)
    tv match {
      case Some(v) => v >= 7
      case None =>
        val tl = JPaths.get(hoodieDir(tablePath))
          .resolve(timelineSubdir(tablePath))
        Files.exists(tl) && {
          val s = Files.list(tl)
          try s.iterator().asScala.exists(p =>
            CompletedV1Name.matches(p.getFileName.toString))
          finally s.close()
        }
    }
  }

  private def timelineSubdir(tablePath: String): String =
    property(tablePath, "hoodie.timeline.path").getOrElse("timeline")

  /** Directory holding the ACTIVE timeline for this table's layout. */
  def activeTimelineDir(tablePath: String): java.nio.file.Path = {
    val base = JPaths.get(hoodieDir(tablePath))
    if (isV1Layout(tablePath)) base.resolve(timelineSubdir(tablePath))
    else base
  }

  // `<requestTime>_<completionTime>.<action>`; a 1.x timeline migrated
  // from 0.x may retain legacy-named completed files, so both shapes list
  private val CompletedV1Name =
    "([0-9]+)_([0-9]+)\\.(commit|deltacommit|replacecommit)".r
  private val CompletedLegacyName =
    "([^.]+)\\.(commit|deltacommit|replacecommit)".r

  private def requireReadableVersion(tablePath: String): Unit = {
    val tv = tableVersion(tablePath)
    if (tv > MaxReadableTableVersion)
      throw new UnsupportedOperationException(
        s"Hudi table at $tablePath has hoodie.table.version $tv — newer " +
          s"than the newest layout this engine understands " +
          s"($MaxReadableTableVersion); refusing rather than risking an " +
          "empty or stale read")
  }

  /** Completed instants, oldest first. */
  def listInstants(tablePath: String): Seq[String] = {
    val dir = JPaths.get(hoodieDir(tablePath))
    if (!Files.exists(dir)) return Nil
    requireReadableVersion(tablePath)
    val active = activeTimelineDir(tablePath)
    if (!Files.exists(active)) return Nil
    val v1 = isV1Layout(tablePath)
    Using.resource(Files.list(active))(_.iterator().asScala
      .map(_.getFileName.toString)
      .flatMap {
        case CompletedV1Name(req, _, _) if v1 => Some(req)
        case CompletedLegacyName(req, _) => Some(req)
        case _ => None
      }
      .toSeq).sorted
  }

  private val CleanV1Name = "([0-9]+)_([0-9]+)\\.clean".r
  private val CleanLegacyName = "([^.]+)\\.clean".r

  /** Horizons of completed CLEAN instants under either layout: each is
    * the earliest commit whose files the clean RETAINED — an incremental
    * consumer resuming from BEFORE a horizon would reference physically
    * deleted files. The body is graft's JSON (`earliestCommitToRetain`)
    * or a real writer's avro-container HoodieCleanMetadata (same field,
    * decoded by name); an unparseable body falls back to the clean's own
    * instant, which is always >= its horizon (conservative, never
    * unsafe-open).
    */
  def cleanHorizons(tablePath: String): Seq[String] = {
    val active = activeTimelineDir(tablePath)
    if (!Files.exists(active)) return Nil
    val files = Using.resource(Files.list(active))(_.iterator().asScala
      .map(p => (p, p.getFileName.toString))
      .flatMap {
        case (p, CleanV1Name(req, _)) => Some((p, req))
        case (p, CleanLegacyName(req)) => Some((p, req))
        case _ => None
      }.toSeq)
    files.map { case (p, instant) =>
      val horizon: Option[String] =
        try {
          val bytes = Files.readAllBytes(p)
          if (bytes.length >= 4 && bytes(0) == 'O' && bytes(1) == 'b' &&
              bytes(2) == 'j') {
            // avro object container: decode generically, read the field
            // by name whichever HoodieCleanMetadata minor wrote it
            val reader = new org.apache.avro.file.DataFileReader(
              new org.apache.avro.file.SeekableByteArrayInput(bytes),
              new org.apache.avro.generic.GenericDatumReader[
                org.apache.avro.generic.GenericRecord]())
            try {
              if (!reader.hasNext) None
              else {
                val rec = reader.next()
                Option(rec.getSchema.getField("earliestCommitToRetain"))
                  .flatMap(f => Option(rec.get(f.pos())))
                  .map(_.toString)
              }
            } finally reader.close()
          } else Option(graft.util.Jsons.mapper.readTree(bytes)
            .get("earliestCommitToRetain")).map(_.asText)
        } catch { case _: Exception => None }
      horizon.filter(_.nonEmpty).getOrElse(instant)
    }.sorted
  }

  private val RollbackV1Name = "([0-9]+)_([0-9]+)\\.rollback".r
  private val RollbackLegacyName = "([^.]+)\\.rollback".r

  /** Instants retracted by completed ROLLBACK instants under either
    * layout: HoodieRollbackMetadata's `commitsRollback` (decoded by name
    * from the avro container a real writer emits, or a JSON body with
    * the same field). A rollback is not a data commit — reads ignore it
    * (listInstants filters by action) — but a rolled-back instant AT OR
    * BEFORE a sync's resume point means state that sync may already have
    * shipped was retracted, so incremental replay must fall back to
    * full. An unparseable body reports instant "0" (rolled-back-
    * everything): conservative, forces the full resync, never
    * unsafe-open.
    */
  def rollbackTargets(tablePath: String): Seq[String] = {
    val active = activeTimelineDir(tablePath)
    if (!Files.exists(active)) return Nil
    val files = Using.resource(Files.list(active))(_.iterator().asScala
      .map(p => (p, p.getFileName.toString))
      .flatMap {
        case (p, RollbackV1Name(req, _)) => Some((p, req))
        case (p, RollbackLegacyName(req)) => Some((p, req))
        case _ => None
      }.toSeq)
    files.flatMap { case (p, _) =>
      val targets: Option[Seq[String]] =
        try {
          val bytes = Files.readAllBytes(p)
          if (bytes.length >= 4 && bytes(0) == 'O' && bytes(1) == 'b' &&
              bytes(2) == 'j') {
            val reader = new org.apache.avro.file.DataFileReader(
              new org.apache.avro.file.SeekableByteArrayInput(bytes),
              new org.apache.avro.generic.GenericDatumReader[
                org.apache.avro.generic.GenericRecord]())
            try {
              if (!reader.hasNext) None
              else {
                val rec = reader.next()
                Option(rec.getSchema.getField("commitsRollback"))
                  .flatMap(f => Option(rec.get(f.pos())))
                  .map {
                    case l: java.util.List[_] =>
                      l.asScala.map(_.toString).toSeq
                    case other => Seq(other.toString)
                  }
              }
            } finally reader.close()
          } else Option(graft.util.Jsons.mapper.readTree(bytes)
            .get("commitsRollback"))
            .map(_.elements().asScala.map(_.asText).toSeq)
        } catch { case _: Exception => None }
      targets.filter(_.nonEmpty).getOrElse(Seq("0"))
    }.sorted
  }

  private def commitPath(tablePath: String, instant: String, action: String)
      : java.nio.file.Path =
    JPaths.get(hoodieDir(tablePath), s"$instant.$action")

  /** Completed-instant file for `instant` under EITHER layout: the legacy
    * exact name, or the 1.x `<instant>_<completionTime>.<action>` shape.
    * Returns (path, action).
    */
  private def completedFile(tablePath: String, instant: String)
      : Option[(java.nio.file.Path, String)] = {
    val active = activeTimelineDir(tablePath)
    if (!Files.exists(active)) return None
    val s = Files.list(active)
    try s.iterator().asScala
      .map(p => (p, p.getFileName.toString))
      .collectFirst {
        case (p, CompletedV1Name(req, _, action)) if req == instant =>
          (p, action)
        case (p, CompletedLegacyName(req, action)) if req == instant =>
          (p, action)
      }
    finally s.close()
  }

  /** Refuse to author timeline files into a 1.x table: this engine's
    * write dialect is the 0.x layout (table version 6) — the same pin the
    * reference applies to ITS writes via the Hudi 1.2.0 client
    * (HudiConversionTarget.java:625-628). Writing legacy-located instants
    * into a v1 table would fork the timeline.
    */
  private def requireLegacyWritable(tablePath: String, op: String): Unit =
    if (exists(tablePath) && isV1Layout(tablePath))
      throw new UnsupportedOperationException(
        s"$op on the Hudi 1.x-layout table at $tablePath: this engine " +
          s"writes the 0.x timeline dialect (hoodie.table.version 6) — " +
          "reading 1.x is supported, writing is not")

  /** Epoch millis of an instant string (`yyyyMMddHHmmssSSS`); synthetic
    * fixture instants that aren't full timestamps fall back to their
    * numeric value.
    */
  def instantMillis(instant: String): Long =
    if (instant.length == 17 && instant.forall(_.isDigit)) {
      try new java.text.SimpleDateFormat("yyyyMMddHHmmssSSS") {
        setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
      }.parse(instant).getTime
      catch { case _: java.text.ParseException => instant.toLong }
    } else instant.toLongOption.getOrElse(0L)

  /** Remove a completed instant from the timeline (restore/rollback). */
  def deleteInstant(tablePath: String, instant: String): Unit = {
    requireLegacyWritable(tablePath, "deleteInstant")
    Files.deleteIfExists(commitPath(tablePath, instant,
      actionOf(tablePath, instant)))
  }

  /** Find the action suffix for an instant on disk. */
  private def actionOf(tablePath: String, instant: String): String =
    if (Files.exists(commitPath(tablePath, instant, "replacecommit")))
      "replacecommit"
    else if (Files.exists(commitPath(tablePath, instant, "deltacommit")))
      "deltacommit"
    else "commit"

  private def commitJson(meta: CommitMeta): String = Jsons.toJson(Map(
    "partitionToWriteStats" -> meta.partitionToWriteStats.map {
      case (p, stats) => p -> stats.map(s => Map(
        "fileId" -> s.fileId, "path" -> s.path,
        "numWrites" -> s.numWrites,
        "fileSizeInBytes" -> s.fileSizeInBytes,
        "totalWriteBytes" -> s.fileSizeInBytes))
    },
    "partitionToReplaceFileIds" -> meta.partitionToReplaceFileIds,
    "compacted" -> false,
    "operationType" -> (if (meta.action == "replacecommit") "CLUSTER"
      else "UPSERT"),
    "extraMetadata" -> meta.extraMetadata))

  private def parseCommit(n: com.fasterxml.jackson.databind.JsonNode,
      instant: String, action: String): CommitMeta = {
    def writeStats = Option(n.get("partitionToWriteStats")).map { pw =>
      pw.properties().asScala.map { e =>
        e.getKey -> e.getValue.elements().asScala.map { s =>
          WriteStat(s.get("fileId").asText, s.get("path").asText,
            s.get("numWrites").asLong, s.get("fileSizeInBytes").asLong)
        }.toSeq
      }.toMap
    }.getOrElse(Map.empty[String, Seq[WriteStat]])
    def replaced = Option(n.get("partitionToReplaceFileIds")).map { pr =>
      pr.properties().asScala.map { e =>
        e.getKey -> e.getValue.elements().asScala.map(_.asText).toSeq
      }.toMap
    }.getOrElse(Map.empty[String, Seq[String]])
    CommitMeta(instant, action, writeStats, replaced,
      Option(n.get("extraMetadata")).map(_.properties().asScala
        .map(e => e.getKey -> e.getValue.asText).toMap)
        .getOrElse(Map.empty))
  }

  def writeCommit(meta: CommitMeta, tablePath: String): Boolean = {
    requireLegacyWritable(tablePath, "writeCommit")
    val target = commitPath(tablePath, meta.instant, meta.action)
    Files.createDirectories(target.getParent)
    if (Files.exists(target)) return false
    // a real Hudi timeline carries the full state machine: empty
    // `.requested` and `.inflight` markers precede the completed instant
    // (commit's inflight has NO action suffix — golden hudi_dimCustomer)
    val requested = target.getParent.resolve(
      s"${meta.instant}.${meta.action}.requested")
    val inflight = target.getParent.resolve(
      if (meta.action == "commit") s"${meta.instant}.inflight"
      else s"${meta.instant}.${meta.action}.inflight")
    // racing writers both staging the same instant: marker creation is
    // first-wins-tolerant (arbitration happens at the completed file's
    // create-exclusive publish, not here)
    try { if (!Files.exists(requested)) Files.createFile(requested) }
    catch { case _: java.nio.file.FileAlreadyExistsException => () }
    try { if (!Files.exists(inflight)) Files.createFile(inflight) }
    catch { case _: java.nio.file.FileAlreadyExistsException => () }
    val tmp = Files.createTempFile(target.getParent, s".${meta.instant}", ".tmp")
    Files.write(tmp, commitJson(meta).getBytes(StandardCharsets.UTF_8))
    graft.util.AtomicFiles.publish(tmp, target)
  }

  /** Stream-author a commit file with O(1) driver state — the 10^6-file
    * answer to [[writeCommit]]'s in-memory `CommitMeta`: the per-file
    * write-stat (and replaced-fileId) JSON objects arrive as iterators of
    * `partitionPath  json` lines SORTED by partition path, so each
    * partition's array closes the moment the next partition starts; the
    * driver holds one partition NAME and the current bounded line batch,
    * never the commit's whole file list. Same commit shape, state-machine
    * markers and atomic publish as [[writeCommit]].
    */
  /** Separator between the partition path and the JSON payload in
    * [[writeCommitStreamed]] lines — a control char no hive-style
    * partition path or JSON fragment legally contains.
    */
  val GroupSep = '\u0001'

  def writeCommitStreamed(tablePath: String, instant: String, action: String,
      stats: Iterator[String], replaced: Iterator[String],
      extraMetadata: Map[String, String]): Boolean = {
    requireLegacyWritable(tablePath, "writeCommitStreamed")
    val target = commitPath(tablePath, instant, action)
    Files.createDirectories(target.getParent)
    if (Files.exists(target)) return false
    val requested = target.getParent.resolve(
      s"$instant.$action.requested")
    val inflight = target.getParent.resolve(
      if (action == "commit") s"$instant.inflight"
      else s"$instant.$action.inflight")
    // racing writers both staging the same instant: marker creation is
    // first-wins-tolerant (arbitration happens at the completed file's
    // create-exclusive publish, not here)
    try { if (!Files.exists(requested)) Files.createFile(requested) }
    catch { case _: java.nio.file.FileAlreadyExistsException => () }
    try { if (!Files.exists(inflight)) Files.createFile(inflight) }
    catch { case _: java.nio.file.FileAlreadyExistsException => () }
    val tmp = Files.createTempFile(target.getParent, s".$instant", ".tmp")
    val w = Files.newBufferedWriter(tmp, StandardCharsets.UTF_8)
    try {
      def writeGrouped(lines: Iterator[String]): Unit = {
        var curPart: String = null
        w.write("{")
        lines.foreach { line =>
          val sep = line.indexOf(GroupSep)
          require(sep >= 0, s"malformed grouped commit line: $line")
          val part = line.substring(0, sep)
          if (part != curPart) {
            if (curPart != null) w.write("],")
            w.write(Jsons.toJson(part)); w.write(":[")
            curPart = part
          } else w.write(",")
          w.write(line.substring(sep + 1))
        }
        if (curPart != null) w.write("]")
        w.write("}")
      }
      w.write("{\"partitionToWriteStats\":")
      writeGrouped(stats)
      w.write(",\"partitionToReplaceFileIds\":")
      writeGrouped(replaced)
      w.write(",\"compacted\":false,\"operationType\":")
      w.write(Jsons.toJson(
        if (action == "replacecommit") "CLUSTER" else "UPSERT"))
      w.write(",\"extraMetadata\":")
      w.write(Jsons.toJson(extraMetadata))
      w.write("}")
    } finally w.close()
    graft.util.AtomicFiles.publish(tmp, target)
  }

  def readCommit(tablePath: String, instant: String): CommitMeta = {
    val (path, action) = completedFile(tablePath, instant).getOrElse(
      (commitPath(tablePath, instant, actionOf(tablePath, instant)),
        actionOf(tablePath, instant)))
    val bytes = Files.readAllBytes(path)
    if (isAvroContainer(bytes)) parseAvroCommit(bytes, instant, action)
    else parseCommit(Jsons.mapper.readTree(bytes), instant, action)
  }

  /** Avro object-container magic `Obj\x01` — the serialization 1.x uses
    * for completed commit metadata (and 0.x always used for plan files
    * and the archived timeline).
    */
  private def isAvroContainer(bytes: Array[Byte]): Boolean =
    bytes.length >= 4 && bytes(0) == 'O' && bytes(1) == 'b' &&
      bytes(2) == 'j' && bytes(3) == 1

  /** Decode an Avro-container HoodieCommitMetadata /
    * HoodieReplaceCommitMetadata into [[CommitMeta]]. The container is
    * SELF-DESCRIBING (writer schema in the header), so decoding is fully
    * generic and by-name: whatever superset of write-stat fields a real
    * Hudi release serializes, the fields this engine consumes (fileId,
    * path, numWrites, fileSizeInBytes, the partition maps, extraMetadata,
    * operationType) resolve without a compiled-in schema, and unknown
    * fields pass through untouched — the property that keeps this reader
    * correct across 1.x minor releases.
    */
  private def parseAvroCommit(bytes: Array[Byte], instant: String,
      action: String): CommitMeta = {
    import org.apache.avro.file.{DataFileReader, SeekableByteArrayInput}
    import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
    val r = new DataFileReader[GenericRecord](
      new SeekableByteArrayInput(bytes), new GenericDatumReader[GenericRecord]())
    try {
      require(r.hasNext, s"empty avro commit metadata for instant $instant")
      val rec = r.next()
      def fieldOpt(g: GenericRecord, name: String): Option[AnyRef] =
        if (g.getSchema.getField(name) == null) None
        else Option(g.get(name))
      def asLong(o: AnyRef): Long = o match {
        case n: java.lang.Number => n.longValue
        case _ => 0L
      }
      val writeStats = fieldOpt(rec, "partitionToWriteStats").map { m =>
        m.asInstanceOf[java.util.Map[AnyRef, AnyRef]].asScala.map {
          case (k, v) =>
            k.toString -> v.asInstanceOf[java.util.List[AnyRef]].asScala
              .map { s0 =>
                val s = s0.asInstanceOf[GenericRecord]
                WriteStat(
                  fieldOpt(s, "fileId").map(_.toString).getOrElse(""),
                  fieldOpt(s, "path").map(_.toString).getOrElse(""),
                  fieldOpt(s, "numWrites").map(asLong).getOrElse(0L),
                  fieldOpt(s, "fileSizeInBytes").map(asLong).getOrElse(0L))
              }.toSeq
        }.toMap
      }.getOrElse(Map.empty[String, Seq[WriteStat]])
      val replaced = fieldOpt(rec, "partitionToReplaceFileIds").map { m =>
        m.asInstanceOf[java.util.Map[AnyRef, AnyRef]].asScala.map {
          case (k, v) =>
            k.toString -> v.asInstanceOf[java.util.List[AnyRef]].asScala
              .map(_.toString).toSeq
        }.toMap
      }.getOrElse(Map.empty[String, Seq[String]])
      val extra = fieldOpt(rec, "extraMetadata").map { m =>
        m.asInstanceOf[java.util.Map[AnyRef, AnyRef]].asScala.map {
          case (k, v) => k.toString -> Option(v).map(_.toString).orNull
        }.toMap.filter(_._2 != null)
      }.getOrElse(Map.empty[String, String])
      CommitMeta(instant, action, writeStats, replaced, extra)
    } finally r.close()
  }

  /** ONLY a commit's extraMetadata, via a streaming parse that SKIPS the
    * write-stat arrays — a 10^6-file commit's JSON is dominated by
    * partitionToWriteStats, and consumers that need just the bookkeeping
    * (schema resolution, exactly-once txn stamps) must not materialize a
    * million stat objects to read a 5-entry map.
    */
  def readCommitExtraMetadata(tablePath: String, instant: String)
      : Map[String, String] = {
    val (path, action) = completedFile(tablePath, instant).getOrElse(
      (commitPath(tablePath, instant, actionOf(tablePath, instant)),
        actionOf(tablePath, instant)))
    val head = new Array[Byte](4)
    val probe = Files.newInputStream(path)
    val n = try probe.read(head) finally probe.close()
    if (n == 4 && isAvroContainer(head))
      // avro container: the generic decode already skips nothing useful —
      // read whole (1.x commit files are written by real Hudi, which also
      // materializes them to serialize)
      return readCommit(tablePath, instant).extraMetadata
    val in = Files.newInputStream(path)
    try {
      val p = Jsons.mapper.getFactory.createParser(in)
      val out = scala.collection.mutable.Map.empty[String, String]
      import com.fasterxml.jackson.core.JsonToken
      if (p.nextToken() == JsonToken.START_OBJECT) {
        while (p.nextToken() == JsonToken.FIELD_NAME) {
          val name = p.currentName()
          p.nextToken()
          if (name == "extraMetadata" &&
              p.currentToken() == JsonToken.START_OBJECT) {
            while (p.nextToken() == JsonToken.FIELD_NAME) {
              val k = p.currentName()
              p.nextToken()
              out(k) = p.getValueAsString
            }
          } else p.skipChildren()
        }
      }
      out.toMap
    } finally in.close()
  }

  // ---- timeline archival -------------------------------------------------
  // Reference: Hudi's HoodieTimelineArchiver keeps the ACTIVE timeline
  // bounded by moving old completed instants into an archive log under
  // .hoodie/archived. Archived instants remain readable (snapshot replay,
  // audit) but are no longer served for incremental pulls — that is the
  // safety contract HudiConversionSource.java:165-216 enforces: a sync
  // point older than the earliest retained active instant must fall back
  // to a full sync.

  def archiveDir(tablePath: String): String =
    s"${hoodieDir(tablePath)}/archived"

  /** Archived instants, oldest first. */
  def archivedInstants(tablePath: String): Seq[String] =
    readArchivedCommits(tablePath).map(_.instant)

  /** Every archived commit's metadata, oldest first. */
  def readArchivedCommits(tablePath: String): Seq[CommitMeta] = {
    val dir = JPaths.get(archiveDir(tablePath))
    if (!Files.exists(dir)) return Nil
    Using.resource(Files.list(dir))(_.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".archived"))
      .toSeq).sortBy(_.getFileName.toString)
      .flatMap { batch =>
        new String(Files.readAllBytes(batch), StandardCharsets.UTF_8)
          .linesIterator.filter(_.nonEmpty).map { line =>
            val n = Jsons.mapper.readTree(line)
            parseCommit(n.get("commit"),
              n.get("instant").asText, n.get("action").asText)
          }.toSeq
      }.sortBy(_.instant)
  }

  /** Move all but the newest `retainLast` active instants into one archive
    * batch. Returns the archived instants (empty when under the window).
    */
  def archiveInstants(tablePath: String, retainLast: Int): Seq[String] = {
    require(retainLast >= 1, "must retain at least one active instant")
    requireLegacyWritable(tablePath, "archiveInstants")
    val active = listInstants(tablePath)
    if (active.size <= retainLast) return Nil
    val toArchive = active.dropRight(retainLast)
    val dir = JPaths.get(archiveDir(tablePath))
    Files.createDirectories(dir)
    val lines = toArchive.map { i =>
      val action = actionOf(tablePath, i)
      val body = new String(Files.readAllBytes(
        commitPath(tablePath, i, action)), StandardCharsets.UTF_8)
      s"""{"instant":"$i","action":"$action","commit":$body}"""
    }
    val batch = dir.resolve(
      s"commits_${toArchive.head}_${toArchive.last}.archived")
    val tmp = Files.createTempFile(dir, ".batch", ".tmp")
    Files.write(tmp, lines.mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
    if (!graft.util.AtomicFiles.publish(tmp, batch))
      throw new IllegalStateException(s"archive batch $batch already exists")
    // archive batch is durable; now retire the active files
    toArchive.foreach { i =>
      Files.deleteIfExists(commitPath(tablePath, i, actionOf(tablePath, i)))
    }
    toArchive
  }
}

package graft.formats.paimon

import java.io.File
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths => JPaths, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.avro.Schema
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.types._

import graft.util.Jsons

/** Paimon-layout table metadata (public layout: `snapshot/LATEST` +
  * `snapshot/snapshot-<id>` JSON, `schema/schema-<id>` JSON with Flink-SQL
  * type strings, Avro manifest lists + manifests under `manifest/` —
  * reference PaimonConversionSource.java:52-231 reads the same tree through
  * Paimon's FileStoreTable).
  *
  * Documented simplifications (this engine is the only reader here — no
  * Paimon runtime exists in this environment): manifest entries use a
  * string-keyed Avro map for partition values and field-name-keyed stat
  * maps; sync bookkeeping rides in the snapshot JSON under `graftMetadata`.
  */
object PaimonFormat {

  // ---- type strings (Flink SQL) ⇄ Spark ----

  def toPaimonType(dt: DataType): String = dt match {
    case IntegerType | ShortType | ByteType => "INT"
    case LongType => "BIGINT"
    case FloatType => "FLOAT"
    case DoubleType => "DOUBLE"
    case BooleanType => "BOOLEAN"
    case StringType => "STRING"
    case BinaryType => "BYTES"
    case DateType => "DATE"
    case TimestampType => "TIMESTAMP(6) WITH LOCAL TIME ZONE"
    case TimestampNTZType => "TIMESTAMP(6)"
    case d: DecimalType => s"DECIMAL(${d.precision}, ${d.scale})"
    case a: ArrayType => s"ARRAY<${toPaimonType(a.elementType)}>"
    case m: MapType => s"MAP<${toPaimonType(m.keyType)}, ${toPaimonType(m.valueType)}>"
    case s: StructType => s.fields
      .map(f => s"${f.name} ${toPaimonType(f.dataType)}")
      .mkString("ROW<", ", ", ">")
    case other => throw new IllegalArgumentException(s"type $other")
  }

  def fromPaimonType(s: String): DataType = {
    val t = s.trim
    val up = t.toUpperCase
    if (up == "INT") IntegerType
    else if (up == "BIGINT") LongType
    else if (up == "FLOAT") FloatType
    else if (up == "DOUBLE") DoubleType
    else if (up == "BOOLEAN") BooleanType
    else if (up == "STRING") StringType
    else if (up == "BYTES") BinaryType
    else if (up == "DATE") DateType
    else if (up.startsWith("TIMESTAMP") && up.contains("LOCAL")) TimestampType
    else if (up.startsWith("TIMESTAMP")) TimestampNTZType
    else if (up.startsWith("DECIMAL")) {
      val m = "DECIMAL\\((\\d+),\\s*(\\d+)\\)".r.findFirstMatchIn(up).get
      DecimalType(m.group(1).toInt, m.group(2).toInt)
    }
    else if (up.startsWith("ARRAY<"))
      ArrayType(fromPaimonType(t.substring(6, t.length - 1)))
    else if (up.startsWith("MAP<")) {
      val inner = t.substring(4, t.length - 1)
      val depth = new java.util.concurrent.atomic.AtomicInteger(0)
      val comma = inner.indexWhere {
        case '<' => depth.incrementAndGet(); false
        case '>' => depth.decrementAndGet(); false
        case ',' => depth.get() == 0
        case _ => false
      }
      MapType(fromPaimonType(inner.substring(0, comma)),
        fromPaimonType(inner.substring(comma + 1)))
    }
    else throw new IllegalArgumentException(s"paimon type $t")
  }

  // ---- schema files ----

  case class PaimonSchema(id: Long, schema: StructType,
      partitionKeys: Seq[String], options: Map[String, String])

  def schemaDir(tablePath: String): String = s"$tablePath/schema"
  def snapshotDir(tablePath: String): String = s"$tablePath/snapshot"
  def manifestDir(tablePath: String): String = s"$tablePath/manifest"

  def writeSchema(tablePath: String, s: PaimonSchema): Unit = {
    val dir = JPaths.get(schemaDir(tablePath))
    Files.createDirectories(dir)
    val json = Jsons.toJson(Map(
      "id" -> s.id,
      "fields" -> s.schema.fields.zipWithIndex.map { case (f, i) => Map(
        "id" -> i, "name" -> f.name, "type" -> (toPaimonType(f.dataType) +
          (if (f.nullable) "" else " NOT NULL")))
      },
      "highestFieldId" -> (s.schema.fields.length - 1),
      "partitionKeys" -> s.partitionKeys,
      "primaryKeys" -> Nil,
      "options" -> s.options))
    Files.write(dir.resolve(s"schema-${s.id}"),
      json.getBytes(StandardCharsets.UTF_8))
  }

  /** Highest schema-N file present, None before table creation. */
  def latestSchemaId(tablePath: String): Option[Long] = {
    val dir = JPaths.get(schemaDir(tablePath))
    if (!Files.isDirectory(dir)) None
    else {
      val ids = Using.resource(Files.list(dir))(_.iterator().asScala
        .map(_.getFileName.toString)
        .filter(n => n.startsWith("schema-") && n.drop(7).forall(_.isDigit))
        .map(_.drop(7).toLong).toSeq)
      if (ids.isEmpty) None else Some(ids.max)
    }
  }

  def readSchema(tablePath: String, id: Long): PaimonSchema = {
    val n = Jsons.mapper.readTree(Files.readAllBytes(
      JPaths.get(schemaDir(tablePath), s"schema-$id")))
    val fields = n.get("fields").elements().asScala.map { f =>
      val raw = f.get("type").asText
      val nullable = !raw.endsWith(" NOT NULL")
      StructField(f.get("name").asText,
        fromPaimonType(raw.stripSuffix(" NOT NULL")), nullable)
    }.toSeq
    PaimonSchema(id, StructType(fields),
      Option(n.get("partitionKeys")).toSeq
        .flatMap(_.elements().asScala.map(_.asText)),
      Option(n.get("options")).map(_.properties().asScala
        .map(e => e.getKey -> e.getValue.asText).toMap).getOrElse(Map.empty))
  }

  // ---- snapshot files ----

  /** `commitUser`/`commitIdentifier` are Paimon's own exactly-once
    * convention (a Flink sink writes its user id + checkpoint id on each
    * snapshot and skips replays whose identifier it already committed) —
    * the streaming sink here uses them the same way.
    */
  case class PaimonSnapshot(id: Long, schemaId: Long, commitKind: String,
      timeMillis: Long, deltaManifestList: String,
      baseManifestList: String, graftMetadata: Option[String],
      commitUser: Option[String] = None,
      commitIdentifier: Option[Long] = None,
      // real Paimon's running row accounting (readers show them in
      // snapshot metadata queries); None on pre-r12 snapshots
      totalRecordCount: Option[Long] = None,
      deltaRecordCount: Option[Long] = None)

  /** LATEST is a hint, not the authority: under racing writers it can
    * tear (read mid-write) or lag (two publishes, hints land out of
    * order). The snapshot-file listing is authoritative; the max of
    * both is returned.
    */
  def latestSnapshotId(tablePath: String): Option[Long] = {
    val hint: Option[Long] = {
      val latest = JPaths.get(snapshotDir(tablePath), "LATEST")
      if (!Files.exists(latest)) None
      else scala.util.Try(new String(Files.readAllBytes(latest),
        StandardCharsets.UTF_8).trim.toLong).toOption
    }
    val listed = listSnapshotIds(tablePath).lastOption
    (hint.toSeq ++ listed.toSeq).reduceOption(_ max _)
  }

  def writeSnapshot(tablePath: String, s: PaimonSnapshot): Boolean = {
    val dir = JPaths.get(snapshotDir(tablePath))
    Files.createDirectories(dir)
    val target = dir.resolve(s"snapshot-${s.id}")
    if (Files.exists(target)) return false
    val json = Jsons.toJson(Map(
      "version" -> 3, "id" -> s.id, "schemaId" -> s.schemaId,
      "commitKind" -> s.commitKind, "timeMillis" -> s.timeMillis,
      "deltaManifestList" -> s.deltaManifestList,
      "baseManifestList" -> s.baseManifestList,
      "graftMetadata" -> s.graftMetadata.orNull,
      "commitUser" -> s.commitUser.orNull,
      "commitIdentifier" -> s.commitIdentifier
        .map(java.lang.Long.valueOf).orNull,
      "totalRecordCount" -> s.totalRecordCount
        .map(java.lang.Long.valueOf).orNull,
      "deltaRecordCount" -> s.deltaRecordCount
        .map(java.lang.Long.valueOf).orNull))
    val tmp = Files.createTempFile(dir, s".snap${s.id}", ".tmp")
    Files.write(tmp, json.getBytes(StandardCharsets.UTF_8))
    if (graft.util.AtomicFiles.publish(tmp, target)) {
      // atomic hint publish — a racing reader must never see a torn
      // LATEST (the listing remains the authority regardless)
      val htmp = Files.createTempFile(dir, ".latest", ".tmp")
      Files.write(htmp, s.id.toString.getBytes(StandardCharsets.UTF_8))
      Files.move(htmp, dir.resolve("LATEST"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      true
    } else false
  }

  def readSnapshot(tablePath: String, id: Long): PaimonSnapshot = {
    val n = Jsons.mapper.readTree(Files.readAllBytes(
      JPaths.get(snapshotDir(tablePath), s"snapshot-$id")))
    PaimonSnapshot(n.get("id").asLong, n.get("schemaId").asLong,
      n.get("commitKind").asText, n.get("timeMillis").asLong,
      n.get("deltaManifestList").asText, n.get("baseManifestList").asText,
      Option(n.get("graftMetadata")).filterNot(_.isNull).map(_.asText),
      Option(n.get("commitUser")).filterNot(_.isNull).map(_.asText),
      Option(n.get("commitIdentifier")).filterNot(_.isNull).map(_.asLong),
      Option(n.get("totalRecordCount")).filterNot(_.isNull).map(_.asLong),
      Option(n.get("deltaRecordCount")).filterNot(_.isNull).map(_.asLong))
  }

  // ---- tags (named snapshots) ----
  // Real Paimon materializes a tag as a COPY of the snapshot file under
  // <table>/tag/tag-<name>; readers resolve the tag to its snapshot and
  // serve normally. Same layout here.

  def tagDir(tablePath: String): String = s"$tablePath/tag"

  def createTag(tablePath: String, name: String, snapshotId: Long): Unit = {
    require(name.nonEmpty && name.forall(c =>
      c.isLetterOrDigit || c == '-' || c == '_'),
      s"invalid tag name '$name'")
    val src = JPaths.get(snapshotDir(tablePath), s"snapshot-$snapshotId")
    require(Files.exists(src),
      s"no Paimon snapshot $snapshotId at $tablePath to tag")
    val dir = JPaths.get(tagDir(tablePath))
    Files.createDirectories(dir)
    val target = dir.resolve(s"tag-$name")
    require(!Files.exists(target), s"tag '$name' already exists")
    val tmp = Files.createTempFile(dir, s".tag$name", ".tmp")
    Files.copy(src, tmp, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    if (!graft.util.AtomicFiles.publish(tmp, target))
      throw new IllegalStateException(s"concurrent writer created tag '$name'")
  }

  /** Snapshot id a tag points at; None if the tag doesn't exist. */
  def readTag(tablePath: String, name: String): Option[Long] = {
    val p = JPaths.get(tagDir(tablePath), s"tag-$name")
    if (!Files.exists(p)) None
    else Some(Jsons.mapper.readTree(Files.readAllBytes(p)).get("id").asLong)
  }

  def dropTag(tablePath: String, name: String): Unit = {
    val p = JPaths.get(tagDir(tablePath), s"tag-$name")
    require(Files.exists(p), s"no tag '$name' at $tablePath")
    Files.delete(p)
  }

  def listTags(tablePath: String): Seq[(String, Long)] = {
    val dir = JPaths.get(tagDir(tablePath))
    if (!Files.exists(dir)) return Nil
    Using.resource(Files.list(dir))(_.iterator().asScala
      .map(_.getFileName.toString)
      .filter(_.startsWith("tag-"))
      .map(n => n.stripPrefix("tag-"))
      .toSeq).map(n => n -> readTag(tablePath, n).get).sortBy(_._1)
  }

  def listSnapshotIds(tablePath: String): Seq[Long] = {
    val dir = JPaths.get(snapshotDir(tablePath))
    if (!Files.exists(dir)) return Nil
    Using.resource(Files.list(dir))(_.iterator().asScala
      .map(_.getFileName.toString)
      .filter(_.startsWith("snapshot-"))
      .map(_.stripPrefix("snapshot-").toLong).toSeq).sorted
  }

  // ---- manifests (avro) ----

  val EntrySchema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"paimon_manifest_entry","fields":[
      |{"name":"kind","type":"int"},
      |{"name":"partition","type":{"type":"map","values":"string"}},
      |{"name":"bucket","type":"int"},
      |{"name":"fileName","type":"string"},
      |{"name":"fileSize","type":"long"},
      |{"name":"rowCount","type":"long"},
      |{"name":"minValues","type":{"type":"map","values":"string"}},
      |{"name":"maxValues","type":{"type":"map","values":"string"}},
      |{"name":"nullCounts","type":{"type":"map","values":"long"}},
      |{"name":"lastModifiedMs","type":"long"}]}""".stripMargin)

  val ListSchema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"paimon_manifest_file","fields":[
      |{"name":"fileName","type":"string"},
      |{"name":"fileSize","type":"long"}]}""".stripMargin)

  object Kind { val Add = 0; val Delete = 1 }

  def writeManifest(path: String, entries: Iterator[GenericRecord]): Long = {
    val f = new File(path); f.getParentFile.mkdirs()
    val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](EntrySchema))
    w.create(EntrySchema, f)
    try entries.foreach(w.append) finally w.close()
    f.length()
  }

  def readManifest(path: String): Seq[GenericRecord] = {
    val r = new DataFileReader(new File(path),
      new GenericDatumReader[GenericRecord](EntrySchema))
    try { val b = Seq.newBuilder[GenericRecord]
      while (r.hasNext) b += r.next(); b.result() } finally r.close()
  }

  def writeManifestList(path: String, files: Seq[(String, Long)]): Unit = {
    val f = new File(path); f.getParentFile.mkdirs()
    val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](ListSchema))
    w.create(ListSchema, f)
    try files.foreach { case (name, size) =>
      val r = new GenericData.Record(ListSchema)
      r.put("fileName", name); r.put("fileSize", size)
      w.append(r)
    } finally w.close()
  }

  /** Real Paimon stores manifest-list FILE NAMES in the snapshot JSON,
    * resolved under `<table>/manifest/`; graft historically wrote
    * absolute paths. Resolve either shape.
    */
  def manifestListPath(tablePath: String, ref: String): String =
    if (ref.contains('/')) ref else s"${manifestDir(tablePath)}/$ref"

  /** (manifest file name, its size) pairs of a manifest list. */
  def readManifestList(path: String): Seq[(String, Long)] = {
    if (!Files.exists(JPaths.get(path))) return Nil
    val r = new DataFileReader(new File(path),
      new GenericDatumReader[GenericRecord](ListSchema))
    try { val b = Seq.newBuilder[(String, Long)]
      while (r.hasNext) {
        val m = r.next()
        b += ((m.get("fileName").toString,
          m.get("fileSize").asInstanceOf[Long]))
      }
      b.result() } finally r.close()
  }

  // ---- executor-side manifest IO + entry codecs ----

  /** Hadoop-FS write variant for EXECUTOR-side manifest authoring (one
    * task per manifest at 10^6-file scale); object-store-safe. Returns
    * the written length for the manifest list.
    */
  def writeManifest(path: String, entries: Iterator[GenericRecord],
      conf: org.apache.hadoop.conf.Configuration): Long = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(conf)
    val out = fs.create(hp, true)
    val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](EntrySchema))
    w.create(EntrySchema, out)
    try entries.foreach(w.append) finally w.close()
    fs.getFileStatus(hp).getLen
  }

  /** Hadoop-FS read variant for executor-side manifest scans. */
  def readManifest(path: String,
      conf: org.apache.hadoop.conf.Configuration): Seq[GenericRecord] = {
    val in = new org.apache.avro.mapred.FsInput(
      new org.apache.hadoop.fs.Path(path), conf)
    val r = DataFileReader.openReader(in,
      new GenericDatumReader[GenericRecord](EntrySchema))
    try { val b = Seq.newBuilder[GenericRecord]
      while (r.hasNext) b += r.next(); b.result() } finally r.close()
  }

  /** FileEntry → manifest entry record (kind = Add | Delete). */
  def toEntry(f: graft.model.FileEntry, kind: Int): GenericRecord = {
    val e = new GenericData.Record(EntrySchema)
    e.put("kind", kind)
    e.put("partition", f.partitionValues.map(p => p.field -> p.value)
      .toMap.asJava)
    e.put("bucket", 0)
    e.put("fileName", f.path)
    e.put("fileSize", f.fileSizeBytes)
    e.put("rowCount", f.recordCount)
    e.put("minValues", f.columnStats.flatMap(s => s.min.map(s.field -> _))
      .toMap.asJava)
    e.put("maxValues", f.columnStats.flatMap(s => s.max.map(s.field -> _))
      .toMap.asJava)
    e.put("nullCounts", f.columnStats
      .map(s => s.field -> java.lang.Long.valueOf(s.numNulls)).toMap.asJava)
    e.put("lastModifiedMs", f.lastModifiedMillis)
    e
  }

  /** Manifest entry record → (kind, FileEntry). */
  def fromEntry(e: GenericRecord, tablePath: String)
      : (Int, graft.model.FileEntry) = {
    import graft.model.{FileColumnStat, FileEntry, PartitionMember}
    def strMap(f: String) = e.get(f)
      .asInstanceOf[java.util.Map[AnyRef, AnyRef]].asScala
      .map { case (k, v) => k.toString -> v }.toMap
    val mins = strMap("minValues"); val maxs = strMap("maxValues")
    val nulls = strMap("nullCounts")
    val fields = (mins.keySet ++ maxs.keySet ++ nulls.keySet).toSeq.sorted
    val stats = fields.map { f =>
      FileColumnStat(f, mins.get(f).map(_.toString),
        maxs.get(f).map(_.toString),
        nulls.get(f).map(_.toString.toLong).getOrElse(0L),
        e.get("rowCount").asInstanceOf[Long], 0L)
    }
    (e.get("kind").asInstanceOf[Int], FileEntry(
      graft.util.PathUtils.resolve(tablePath, e.get("fileName").toString),
      e.get("fileSize").asInstanceOf[Long],
      e.get("rowCount").asInstanceOf[Long],
      "parquet",
      e.get("partition").asInstanceOf[java.util.Map[AnyRef, AnyRef]].asScala
        .map { case (k, v) => PartitionMember(k.toString, v.toString) }
        .toSeq.sortBy(_.field),
      stats,
      e.get("lastModifiedMs").asInstanceOf[Long]))
  }
}

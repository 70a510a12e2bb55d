package graft.formats.iceberg

import java.nio.ByteBuffer

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.io.TableStore
import graft.model._
import graft.plans.Placement

/** Iceberg-layout Avro manifests (spec: iceberg.apache.org/spec/#manifests).
  *
  * Entries follow the spec's manifest_entry/data_file shape (status,
  * snapshot_id, file_path, record_count, per-column value/null counts and
  * lower/upper bounds in Iceberg single-value binary form, keyed by field
  * id).
  *
  * The WRITE side emits the spec dialect exactly (since r12): a typed
  * partition struct (r102) and k_v-record ARRAYS for the int-keyed stat
  * maps — what real Iceberg writes and projects by field-id (Avro map
  * keys must be strings, so the java writer never uses avro maps there).
  * `last_modified_ms` (field-id 10^9 — above every reserved manifest id
  * AND past any reachable partition-spec field id, which grow up from
  * 1000) is the one engine extension; real readers' id-projection skips
  * it.
  *
  * The READ side serves BOTH dialects: manifests open with their embedded
  * writer schema (never a fixed reader schema), and the accessors
  * normalize either shape — pre-r12 string-keyed stat/partition maps, the
  * spec arrays/structs, nullable unions, `file:` URIs, and absent
  * extension fields — so pre-r12 graft tables AND tables written by real
  * Iceberg (GoldenFixtureSpec's independently-authored fixture) read
  * exactly. Manifest compaction merges across dialects by re-encoding to
  * the container's schema ([[reencodeEntry]]).
  */
object IcebergManifests {

  // field-id values are the Iceberg spec's RESERVED manifest field ids
  // (spec §Manifests: status=0, snapshot_id=1, data_file=2; data_file
  // fields 100-140; manifest_file fields 500-506) — a real Iceberg reader
  // resolves manifest columns by these ids, not by name.
  // `last_modified_ms` is an engine extension outside the reserved range.
  val EntrySchema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_entry","fields":[
      |{"name":"status","type":"int","field-id":0},
      |{"name":"snapshot_id","type":"long","field-id":1},
      |{"name":"data_file","field-id":2,"type":{"type":"record","name":"data_file","fields":[
      |  {"name":"content","type":"int","field-id":134},
      |  {"name":"file_path","type":"string","field-id":100},
      |  {"name":"file_format","type":"string","field-id":101},
      |  {"name":"partition","type":{"type":"map","values":"string"},"field-id":102},
      |  {"name":"record_count","type":"long","field-id":103},
      |  {"name":"file_size_in_bytes","type":"long","field-id":104},
      |  {"name":"column_sizes","type":{"type":"map","values":"long"},"field-id":108},
      |  {"name":"value_counts","type":{"type":"map","values":"long"},"field-id":109},
      |  {"name":"null_value_counts","type":{"type":"map","values":"long"},"field-id":110},
      |  {"name":"lower_bounds","type":{"type":"map","values":"bytes"},"field-id":125},
      |  {"name":"upper_bounds","type":{"type":"map","values":"bytes"},"field-id":128},
      |  {"name":"equality_ids","type":["null",{"type":"array","items":"int"}],"default":null,"field-id":135},
      |  {"name":"last_modified_ms","type":"long","field-id":1000000000}
      |]}}]}""".stripMargin)

  val ManifestFileSchema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |{"name":"manifest_path","type":"string","field-id":500},
      |{"name":"manifest_length","type":"long","field-id":501},
      |{"name":"partition_spec_id","type":"int","field-id":502},
      |{"name":"content","type":"int","field-id":517,"default":0},
      |{"name":"sequence_number","type":"long","field-id":515,"default":0},
      |{"name":"min_sequence_number","type":"long","field-id":516,"default":0},
      |{"name":"added_snapshot_id","type":"long","field-id":503},
      |{"name":"added_data_files_count","type":"int","field-id":504},
      |{"name":"existing_data_files_count","type":"int","field-id":505},
      |{"name":"deleted_data_files_count","type":"int","field-id":506},
      |{"name":"added_rows_count","type":"long","field-id":512,"default":0},
      |{"name":"existing_rows_count","type":"long","field-id":513,"default":0},
      |{"name":"deleted_rows_count","type":"long","field-id":514,"default":0},
      |{"name":"partitions","type":["null",{"type":"array","items":
      |  {"type":"record","name":"r508","fields":[
      |    {"name":"contains_null","type":"boolean","field-id":509},
      |    {"name":"contains_nan","type":["null","boolean"],"default":null,"field-id":518},
      |    {"name":"lower_bound","type":["null","bytes"],"default":null,"field-id":510},
      |    {"name":"upper_bound","type":["null","bytes"],"default":null,"field-id":511}
      |  ]}}],"default":null,"field-id":507},
      |{"name":"key_metadata","type":["null","bytes"],"default":null,"field-id":519}]}""".stripMargin)

  /** Per-manifest summary row of the manifest list (spec v2 required
    * fields; `content`=0 for data manifests, 1 for delete manifests —
    * spec §Manifest Lists; `min_sequence_number`=0 is the safe lower
    * bound).
    */
  final case class ManifestSummary(path: String, length: Long,
      snapshotId: Long, addedFiles: Int, existingFiles: Int,
      deletedFiles: Int, addedRows: Long, existingRows: Long,
      content: Int = 0,
      partitions: Seq[PartitionFieldSummary] = Nil,
      // the partition spec this manifest's entries were written under
      // (list field 502) — after spec evolution, carried-forward
      // manifests keep their ORIGINAL spec id while fresh ones take the
      // table's current default
      specId: Int = 0)

  /** Per-partition-field manifest summary (spec field_summary r508, ids
    * 509-518) — real readers prune whole manifests by these bounds. The
    * seq is ORDERED like the partition spec's fields. Bounds are the
    * spec's single-value binary of the transform result.
    */
  final case class PartitionFieldSummary(containsNull: Boolean,
      lower: Option[Array[Byte]], upper: Option[Array[Byte]])

  /** A row-level delete file referenced by a delete manifest (spec v2
    * §Delete Formats). `content` is the data_file content field: 1 =
    * position deletes (file_path, pos columns), 2 = equality deletes
    * (`equalityIds` = field ids of the columns the delete rows match on).
    * `seq` is the delete manifest's sequence number — the application
    * ordering key: an equality delete applies only to data files with a
    * STRICTLY LOWER sequence.
    */
  final case class DeleteFileRef(path: String, content: Int,
      recordCount: Long, fileSizeBytes: Long, seq: Long,
      equalityIds: Seq[Int],
      // v3 deletion vectors (file_format=PUFFIN): fields 143-145 — the
      // masked data file and the blob's frame coordinates in the puffin
      fileFormat: String = "PARQUET",
      referencedDataFile: Option[String] = None,
      contentOffset: Option[Long] = None,
      contentSizeBytes: Option[Long] = None) {
    def isDeletionVector: Boolean = fileFormat.equalsIgnoreCase("PUFFIN")
  }

  object Status { val Existing = 0; val Added = 1; val Deleted = 2 }

  /** Spec-exact manifest_entry avro schema for a table: the typed
    * partition struct (r102, field-ids from 1000) and k_v-record ARRAYS
    * for the int-keyed stat maps — the encoding real Iceberg writes and
    * projects by field-id (Avro map keys must be strings, so the java
    * writer never uses avro maps there). Memoized per (schema,
    * partition-shape) signature. Identity partitions on int/long
    * columns carry their real type; transform-derived fields (day/hour
    * names absent from the table schema) stay strings — the same value
    * text both dialects' readers normalize to.
    */
  private val entrySchemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, Schema]()

  private def kvArrayJson(kid: Int, vid: Int, vtype: String): String =
    s"""["null",{"type":"array","items":{"type":"record",""" +
      s""""name":"k${kid}_v$vid","fields":[""" +
      s"""{"name":"key","type":"int","field-id":$kid},""" +
      s"""{"name":"value","type":"$vtype","field-id":$vid}]},""" +
      s""""logicalType":"map"}]"""

  private[iceberg] def partitionAvroType(schema: StructType,
      field: String): String =
    IcebergSchemas.leafFields(schema).find(_._2 == field).map(_._3) match {
      case Some(org.apache.spark.sql.types.IntegerType) => "int"
      case Some(org.apache.spark.sql.types.LongType) => "long"
      case _ => "string"
    }

  def specEntrySchema(schema: StructType,
      specFields: Seq[(String, Int)],
      withRowLineage: Boolean = false): Schema = {
    val key = schema.json + "|" + specFields.map { case (f, id) =>
      s"$f#$id:${partitionAvroType(schema, f)}" }.mkString(",") +
      (if (withRowLineage) "|v3" else "")
    entrySchemaCache.computeIfAbsent(key, _ => {
      val partFields = specFields.map { case (f, id) =>
        val t = partitionAvroType(schema, f)
        s"""{"name":"$f","type":["null","$t"],"default":null,""" +
          s""""field-id":$id}"""
      }.mkString(",")
      // v3 row lineage: first_row_id (field 142) on each data file
      val rowLineageField = if (withRowLineage)
        """{"name":"first_row_id","type":["null","long"],"default":null,"field-id":142},"""
      else ""
      new Schema.Parser().parse(
        s"""{"type":"record","name":"manifest_entry","fields":[
           |{"name":"status","type":"int","field-id":0},
           |{"name":"snapshot_id","type":"long","field-id":1},
           |{"name":"data_file","field-id":2,"type":{"type":"record","name":"r2","fields":[
           |  {"name":"content","type":"int","field-id":134},
           |  {"name":"file_path","type":"string","field-id":100},
           |  {"name":"file_format","type":"string","field-id":101},
           |  {"name":"partition","type":{"type":"record","name":"r102","fields":[$partFields]},"field-id":102},
           |  {"name":"record_count","type":"long","field-id":103},
           |  {"name":"file_size_in_bytes","type":"long","field-id":104},
           |  {"name":"column_sizes","type":${kvArrayJson(117, 118, "long")},"default":null,"field-id":108},
           |  {"name":"value_counts","type":${kvArrayJson(119, 120, "long")},"default":null,"field-id":109},
           |  {"name":"null_value_counts","type":${kvArrayJson(121, 122, "long")},"default":null,"field-id":110},
           |  {"name":"lower_bounds","type":${kvArrayJson(126, 127, "bytes")},"default":null,"field-id":125},
           |  {"name":"upper_bounds","type":${kvArrayJson(129, 130, "bytes")},"default":null,"field-id":128},
           |  {"name":"equality_ids","type":["null",{"type":"array","items":"int"}],"default":null,"field-id":135},
           |  $rowLineageField
           |  {"name":"last_modified_ms","type":"long","field-id":1000000000}
           |]}}]}""".stripMargin)
    })
  }

  def toEntry(f: FileEntry, status: Int, snapshotId: Long,
      schema: StructType, content: Int = 0,
      equalityIds: Seq[Int] = Nil,
      firstRowId: Option[Long] = None,
      specFields: Seq[(String, Int)] = null): GenericRecord = {
    val leaves = IcebergSchemas.leafFields(schema)
      .map { case (id, name, dt) => name -> (id, dt) }.toMap
    // r102 shape: the table's partition spec (name, field-id) in SPEC
    // order when the caller carries it — external field-id readers
    // resolve partition values by those ids. null = legacy fallback
    // (sorted names, synthetic 1000+i ids) kept only for callers with
    // no metadata in reach; never drops values, so partition-column
    // reads stay correct either way.
    val sf: Seq[(String, Int)] =
      if (specFields != null) specFields
      else f.partitionValues.map(_.field).sorted.zipWithIndex
        .map { case (n, i) => n -> (1000 + i) }
    val entrySchema =
      specEntrySchema(schema, sf,
        withRowLineage = firstRowId.isDefined)
    val dfSchema = entrySchema.getField("data_file").schema()
    val df = new GenericData.Record(dfSchema)
    df.put("content", content)
    df.put("file_path", f.path)
    df.put("file_format", f.fileFormat.toUpperCase)
    val partSchema = dfSchema.getField("partition").schema()
    val part = new GenericData.Record(partSchema)
    val valueByField = f.partitionValues.map(p => p.field -> p.value).toMap
    sf.foreach { case (name, _) =>
      valueByField.get(name).foreach { raw =>
        val v: AnyRef = partitionAvroType(schema, name) match {
          case "int" => Integer.valueOf(raw.toInt)
          case "long" => java.lang.Long.valueOf(raw.toLong)
          case _ => raw
        }
        part.put(name, v)
      }
    }
    df.put("partition", part)
    df.put("record_count", f.recordCount)
    df.put("file_size_in_bytes", f.fileSizeBytes)
    def kv(fieldName: String, pairs: Seq[(Int, AnyRef)]): Unit = {
      val itemSchema = dfSchema.getField(fieldName).schema()
        .getTypes.get(1).getElementType
      val arr = pairs.sortBy(_._1).map { case (k, v) =>
        val r = new GenericData.Record(itemSchema)
        r.put("key", k); r.put("value", v); r
      }
      df.put(fieldName, arr.asJava)
    }
    val withIds = f.columnStats.flatMap(s =>
      leaves.get(s.field).map { case (id, dt) => (id, dt, s) })
    kv("column_sizes", withIds.map { case (id, _, s) =>
      id -> (java.lang.Long.valueOf(s.totalSize): AnyRef) })
    kv("value_counts", withIds.map { case (id, _, s) =>
      id -> (java.lang.Long.valueOf(s.numValues): AnyRef) })
    kv("null_value_counts", withIds.map { case (id, _, s) =>
      id -> (java.lang.Long.valueOf(s.numNulls): AnyRef) })
    kv("lower_bounds", withIds.flatMap { case (id, dt, s) =>
      s.min.map(v => id ->
        (ByteBuffer.wrap(IcebergValues.toBytes(v, dt)): AnyRef)) })
    kv("upper_bounds", withIds.flatMap { case (id, dt, s) =>
      s.max.map(v => id ->
        (ByteBuffer.wrap(IcebergValues.toBytes(v, dt)): AnyRef)) })
    if (equalityIds.nonEmpty)
      df.put("equality_ids",
        equalityIds.map(Int.box).asJava: java.util.List[Integer])
    firstRowId.foreach(r => df.put("first_row_id", java.lang.Long.valueOf(r)))
    df.put("last_modified_ms", f.lastModifiedMillis)
    val e = new GenericData.Record(entrySchema)
    e.put("status", status); e.put("snapshot_id", snapshotId)
    e.put("data_file", df)
    e
  }

  /** A stat container in either dialect: graft's string-keyed Avro map,
    * or real Iceberg's array of key_value records (Avro map keys must be
    * strings, so the java writer uses the k_v-array encoding for the
    * int-keyed stat maps); null (absent / v1 optional) is empty.
    */
  private def statMap(v: AnyRef): Map[String, AnyRef] = v match {
    case null => Map.empty
    case m: java.util.Map[_, _] => m.asScala
      .map { case (k, vv) => k.toString -> vv.asInstanceOf[AnyRef] }.toMap
    case l: java.util.List[_] => l.asScala.map { kv =>
      val r = kv.asInstanceOf[GenericRecord]
      r.get("key").toString -> r.get("value")
    }.toMap
  }

  private[iceberg] def longOf(v: AnyRef, dflt: Long): Long = v match {
    case l: java.lang.Long => l
    case i: java.lang.Integer => i.toLong
    case _ => dflt
  }

  /** Null-safe field access: GenericData.Record.get(name) THROWS on a
    * field absent from the writer schema (e.g. graft's engine-extension
    * fields when reading a real writer's file).
    */
  private[iceberg] def fieldOr(r: GenericRecord, name: String): AnyRef =
    if (r.getSchema.getField(name) == null) null else r.get(name)

  def fromEntry(e: GenericRecord, schema: StructType): (Int, FileEntry) = {
    val byId = IcebergSchemas.leafFields(schema)
      .map { case (id, name, dt) => id.toString -> (name, dt) }.toMap
    val df = e.get("data_file").asInstanceOf[GenericRecord]
    def strMap(field: String): Map[String, AnyRef] =
      statMap(fieldOr(df, field))
    val vcounts = strMap("value_counts"); val ncounts = strMap("null_value_counts")
    val sizes = strMap("column_sizes")
    val lower = strMap("lower_bounds"); val upper = strMap("upper_bounds")
    val stats = byId.toSeq.sortBy(_._1.toInt).flatMap { case (id, (name, dt)) =>
      val mn = lower.get(id).map(b =>
        IcebergValues.fromBytes(toBytesArray(b), dt))
      val mx = upper.get(id).map(b =>
        IcebergValues.fromBytes(toBytesArray(b), dt))
      val nv = vcounts.get(id).map(_.toString.toLong)
      val nn = ncounts.get(id).map(_.toString.toLong)
      if (mn.isEmpty && mx.isEmpty && nv.isEmpty) None
      else Some(FileColumnStat(name, mn, mx, nn.getOrElse(0L),
        nv.getOrElse(0L), sizes.get(id).map(_.toString.toLong).getOrElse(0L)))
    }
    val partition = df.get("partition") match {
      case null => Nil
      case m: java.util.Map[_, _] => m.asScala
        .map { case (k, v) => PartitionMember(k.toString, v.toString) }
        .toSeq.sortBy(_.field)
      case r: GenericRecord =>
        // real Iceberg: the spec's typed partition struct (r102), one
        // field per partition-spec field; empty struct when unpartitioned
        r.getSchema.getFields.asScala
          .flatMap(f => Option(r.get(f.pos))
            .map(v => PartitionMember(f.name, v.toString)))
          .toSeq.sortBy(_.field)
    }
    (e.get("status").asInstanceOf[Int], FileEntry(
      graft.util.PathUtils.canonical(df.get("file_path").toString),
      df.get("file_size_in_bytes").asInstanceOf[Long],
      df.get("record_count").asInstanceOf[Long],
      df.get("file_format").toString.toLowerCase,
      partition, stats,
      // engine extension, absent from real-writer manifests
      longOf(fieldOr(df, "last_modified_ms"), 0L)))
  }

  private def toBytesArray(v: AnyRef): Array[Byte] = v match {
    case bb: ByteBuffer =>
      val b = bb.duplicate(); val arr = new Array[Byte](b.remaining())
      b.get(arr); arr
    case a: Array[Byte] => a
  }

  /** Re-encode a manifest entry under a different entry schema. Manifest
    * compaction merges entries from MANY commits into one avro container
    * (which holds exactly one schema), and those commits can span the
    * engine's dialects — pre-r12 map-encoded stats, spec-exact k_v
    * arrays, even real-writer files on adopted tables. Field-by-field,
    * both directions.
    */
  private[iceberg] def reencodeEntry(e: GenericRecord,
      target: Schema): GenericRecord = {
    if (e.getSchema == target) return e
    val srcDf = e.get("data_file").asInstanceOf[GenericRecord]
    val dfSchema = target.getField("data_file").schema()
    val df = new GenericData.Record(dfSchema)
    df.put("content", longOf(fieldOr(srcDf, "content"), 0L).toInt)
    df.put("file_path", srcDf.get("file_path").toString)
    df.put("file_format", srcDf.get("file_format").toString)
    df.put("record_count", srcDf.get("record_count"))
    df.put("file_size_in_bytes", srcDf.get("file_size_in_bytes"))
    if (dfSchema.getField("last_modified_ms") != null)
      df.put("last_modified_ms",
        longOf(fieldOr(srcDf, "last_modified_ms"), 0L))
    if (dfSchema.getField("equality_ids") != null)
      df.put("equality_ids", fieldOr(srcDf, "equality_ids"))
    // v3 row lineage: the inheritance base must survive re-encoding —
    // dropping it would orphan every row id in the file
    if (dfSchema.getField("first_row_id") != null)
      df.put("first_row_id", fieldOr(srcDf, "first_row_id"))

    // partition: map or struct in, whatever the target declares out
    val pairs: Seq[(String, String)] = srcDf.get("partition") match {
      case null => Nil
      case m: java.util.Map[_, _] =>
        m.asScala.map { case (k, v) => k.toString -> v.toString }.toSeq
      case r: GenericRecord => r.getSchema.getFields.asScala
        .flatMap(f => Option(r.get(f.pos))
          .map(v => f.name -> v.toString)).toSeq
    }
    def nonNull(s: Schema): Schema =
      if (s.getType == Schema.Type.UNION)
        s.getTypes.asScala.find(_.getType != Schema.Type.NULL).get
      else s
    val partField = dfSchema.getField("partition")
    nonNull(partField.schema()).getType match {
      case Schema.Type.MAP =>
        df.put("partition", pairs.toMap.asJava)
      case _ =>
        val ps = nonNull(partField.schema())
        val part = new GenericData.Record(ps)
        pairs.foreach { case (k, v) =>
          Option(ps.getField(k)).foreach { f =>
            val out: AnyRef = nonNull(f.schema()).getType match {
              case Schema.Type.INT => Integer.valueOf(v.toInt)
              case Schema.Type.LONG => java.lang.Long.valueOf(v.toLong)
              case _ => v
            }
            part.put(k, out)
          }
        }
        df.put("partition", part)
    }

    // the five stat containers: normalize in, re-emit per target dialect
    for (name <- Seq("column_sizes", "value_counts", "null_value_counts",
        "lower_bounds", "upper_bounds")) {
      val m = statMap(fieldOr(srcDf, name))
      val tf = dfSchema.getField(name)
      if (tf != null) nonNull(tf.schema()).getType match {
        case Schema.Type.MAP =>
          df.put(name, m.asJava)
        case Schema.Type.ARRAY =>
          val itemSchema = nonNull(tf.schema()).getElementType
          val arr = m.toSeq.sortBy(_._1.toInt).map { case (k, v) =>
            val r = new GenericData.Record(itemSchema)
            r.put("key", k.toInt); r.put("value", v); r
          }
          df.put(name, arr.asJava)
        case _ => ()
      }
    }

    val out = new GenericData.Record(target)
    out.put("status", e.get("status"))
    out.put("snapshot_id", longOf(fieldOr(e, "snapshot_id"), 0L))
    out.put("data_file", df)
    out
  }

  /** manifest_entry schema for v3 DELETION-VECTOR delete manifests:
    * the position-delete data_file shape plus the v3 DV fields —
    * referenced_data_file (143), content_offset (144),
    * content_size_in_bytes (145). The r102 partition struct carries the
    * REFERENCED data file's partition (spec: a delete file's partition
    * must match the rows it deletes) — empty for unpartitioned tables,
    * typed like [[specEntrySchema]] otherwise, with the partition
    * spec's REAL field ids in spec order (external readers prune delete
    * manifests by them). Memoized per (table-schema, spec) signature.
    */
  def dvEntrySchema(schema: StructType,
      specFields: Seq[(String, Int)]): Schema = {
    val key = "dv|" + schema.json + "|" + specFields.map { case (f, id) =>
      s"$f#$id:${partitionAvroType(schema, f)}" }.mkString(",")
    entrySchemaCache.computeIfAbsent(key, _ => {
      val partFields = specFields.map { case (f, id) =>
        val t = partitionAvroType(schema, f)
        s"""{"name":"$f","type":["null","$t"],"default":null,""" +
          s""""field-id":$id}"""
      }.mkString(",")
      new Schema.Parser().parse(
        s"""{"type":"record","name":"manifest_entry","fields":[
          |{"name":"status","type":"int","field-id":0},
          |{"name":"snapshot_id","type":"long","field-id":1},
          |{"name":"data_file","field-id":2,"type":{"type":"record","name":"r2","fields":[
          |  {"name":"content","type":"int","field-id":134},
          |  {"name":"file_path","type":"string","field-id":100},
          |  {"name":"file_format","type":"string","field-id":101},
          |  {"name":"partition","type":{"type":"record","name":"r102","fields":[$partFields]},"field-id":102},
          |  {"name":"record_count","type":"long","field-id":103},
          |  {"name":"file_size_in_bytes","type":"long","field-id":104},
          |  {"name":"referenced_data_file","type":["null","string"],"default":null,"field-id":143},
          |  {"name":"content_offset","type":["null","long"],"default":null,"field-id":144},
          |  {"name":"content_size_in_bytes","type":["null","long"],"default":null,"field-id":145}
          |]}}]}""".stripMargin)
    })
  }

  /** One deletion-vector manifest entry (v3): content=1 (position
    * deletes), file_path names the puffin, fields 143-145 locate the
    * blob inside it. `partitionValues` is the REFERENCED data file's
    * partition tuple (as its own manifest entry spells it) so partition
    * pruning of delete manifests stays sound for external readers.
    */
  def dvEntry(status: Int, snapshotId: Long, puffinPath: String,
      puffinSizeBytes: Long, cardinality: Long, referencedDataFile: String,
      contentOffset: Long, contentSizeBytes: Long,
      schema: StructType = new StructType(),
      specFields: Seq[(String, Int)] = Nil,
      partitionValues: Seq[PartitionMember] = Nil): GenericRecord = {
    // the FIELD LIST comes from the table's partition spec — (name,
    // spec field-id) in spec order — not from the values at hand: every
    // entry in a DV manifest must share one avro schema even when some
    // referenced files recorded no partition tuple
    val entrySchema = dvEntrySchema(schema, specFields)
    val dfSchema = entrySchema.getField("data_file").schema()
    val df = new GenericData.Record(dfSchema)
    df.put("content", 1)
    df.put("file_path", puffinPath)
    df.put("file_format", "PUFFIN")
    val part =
      new GenericData.Record(dfSchema.getField("partition").schema())
    partitionValues.filter(p => specFields.exists(_._1 == p.field)).foreach { p =>
      val v: AnyRef = partitionAvroType(schema, p.field) match {
        case "int" => Integer.valueOf(p.value.toInt)
        case "long" => java.lang.Long.valueOf(p.value.toLong)
        case _ => p.value
      }
      part.put(p.field, v)
    }
    df.put("partition", part)
    df.put("record_count", cardinality)
    df.put("file_size_in_bytes", puffinSizeBytes)
    df.put("referenced_data_file", referencedDataFile)
    df.put("content_offset", contentOffset)
    df.put("content_size_in_bytes", contentSizeBytes)
    val e = new GenericData.Record(entrySchema)
    e.put("status", status); e.put("snapshot_id", snapshotId)
    e.put("data_file", df)
    e
  }

  /** Write one manifest through `store`; returns its length. */
  def writeManifest(path: String, entries: Iterator[GenericRecord],
      store: TableStore): Long = {
    // the container's schema is the FIRST record's; any record arriving
    // in a different dialect re-encodes to it (see reencodeEntry)
    val buf = entries.buffered
    val sch = if (buf.hasNext) buf.head.getSchema else EntrySchema
    val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](sch))
    w.create(sch, store.create(path))
    try buf.foreach(e => w.append(reencodeEntry(e, sch))) finally w.close()
    store.length(path)
  }

  /** A manifest's entries, read through the FileSystem `conf` names. */
  def readManifest(path: String, conf: org.apache.hadoop.conf.Configuration)
      : Iterator[GenericRecord] = {
    // embedded writer schema, not a fixed reader schema: real-writer
    // manifests (k_v arrays, unions, no engine-extension fields) resolve
    // exactly; graft's own files read as before. `file:` URIs (what real
    // java writers store) canonicalize to filesystem paths.
    val r = new DataFileReader(new TableStore(conf)
        .seekable(graft.util.PathUtils.canonical(path)),
      new GenericDatumReader[GenericRecord]())
    new Iterator[GenericRecord] {
      def hasNext: Boolean = { val h = r.hasNext; if (!h) r.close(); h }
      def next(): GenericRecord = r.next()
    }
  }

  private def putPartitionSummaries(r: GenericData.Record,
      ps: Seq[PartitionFieldSummary]): Unit =
    if (ps.nonEmpty) {
      val itemSchema = {
        val f = ManifestFileSchema.getField("partitions").schema()
        f.getTypes.asScala.find(_.getType != Schema.Type.NULL)
          .get.getElementType
      }
      r.put("partitions", ps.map { p =>
        val fr = new GenericData.Record(itemSchema)
        fr.put("contains_null", java.lang.Boolean.valueOf(p.containsNull))
        p.lower.foreach(b => fr.put("lower_bound", ByteBuffer.wrap(b)))
        p.upper.foreach(b => fr.put("upper_bound", ByteBuffer.wrap(b)))
        fr
      }.asJava)
    }

  /** A manifest-list record's partition summaries, as
    * [[putPartitionSummaries]] writes them (`contains_nan` is not kept).
    */
  def partitionSummaries(r: GenericRecord): Seq[PartitionFieldSummary] =
    Option(fieldOr(r, "partitions")).toSeq.flatMap { ps =>
      ps.asInstanceOf[java.util.List[GenericRecord]].asScala.map { f =>
        def bytes(k: String): Option[Array[Byte]] = Option(f.get(k)).map {
          b =>
            val d = b.asInstanceOf[ByteBuffer].duplicate()
            val a = new Array[Byte](d.remaining()); d.get(a); a
        }
        PartitionFieldSummary(
          f.get("contains_null").asInstanceOf[java.lang.Boolean],
          bytes("lower_bound"), bytes("upper_bound"))
      }
    }

  /** DATA manifest paths only (`content`=0) — the scan/sync planning
    * input. Delete manifests (`content`=1) must never flow into the data
    * plane: a position-delete parquet scanned as a data file serves
    * (file_path, pos) tuples as table rows.
    */
  def readManifestList(path: String): Seq[String] =
    dataManifests(path).map(_.get("manifest_path").toString)

  /** Every manifest_file record of a manifest list, verbatim (data AND
    * delete manifests) — for delete-awareness checks and carry-forward.
    */
  def readManifestListRecords(path: String,
      store: TableStore = TableStore.active()): Seq[GenericRecord] = {
    val r = new org.apache.avro.file.DataFileStream(
      store.open(graft.util.PathUtils.canonical(path)),
      new GenericDatumReader[GenericRecord]())
    try {
      val out = Seq.newBuilder[GenericRecord]
      while (r.hasNext) out += r.next()
      out.result()
    } finally r.close()
  }

  def contentOf(manifestFileRecord: GenericRecord): Int =
    manifestFileRecord.get("content") match {
      case null => 0
      case i: java.lang.Integer => i.intValue()
    }

  /** Re-project a manifest_file record of ANY writer's schema into
    * graft's [[ManifestFileSchema]] by field name, defaulting absent
    * numeric fields to 0 (v1 lists lack the v2 counters).
    */
  private def toManifestFileRecord(src: GenericRecord): GenericRecord =
    if (src.getSchema == ManifestFileSchema) src
    else {
      val r = new GenericData.Record(ManifestFileSchema)
      ManifestFileSchema.getFields.asScala.foreach { f =>
        val v = src.get(f.name)
        val out: AnyRef =
          if (v != null) v
          else f.schema().getType match {
            case Schema.Type.INT => Integer.valueOf(0)
            case Schema.Type.LONG => java.lang.Long.valueOf(0L)
            case _ => v
          }
        r.put(f.name, out)
      }
      r
    }

  /** Rewrite manifest_file records (carried forward verbatim) plus fresh
    * summaries into a new manifest list.
    */
  def writeManifestListRecords(path: String, carried: Seq[GenericRecord],
      fresh: Seq[ManifestSummary], store: TableStore): Unit = {
    val w = new DataFileWriter(
      new GenericDatumWriter[GenericRecord](ManifestFileSchema))
    w.create(ManifestFileSchema, store.create(path))
    try {
      // carried records may come from a REAL writer's manifest list (a
      // different avro schema: extra fields, different field order) —
      // re-project by name into graft's schema before appending
      carried.foreach(c => w.append(toManifestFileRecord(c)))
      fresh.foreach { m =>
        val r = new GenericData.Record(ManifestFileSchema)
        r.put("manifest_path", m.path); r.put("manifest_length", m.length)
        r.put("partition_spec_id", m.specId)
        r.put("content", m.content)
        r.put("sequence_number", m.snapshotId)
        r.put("min_sequence_number", 0L)
        r.put("added_snapshot_id", m.snapshotId)
        r.put("added_data_files_count", m.addedFiles)
        r.put("existing_data_files_count", m.existingFiles)
        r.put("deleted_data_files_count", m.deletedFiles)
        r.put("added_rows_count", m.addedRows)
        r.put("existing_rows_count", m.existingRows)
        r.put("deleted_rows_count", 0L)
        putPartitionSummaries(r, m.partitions)
        w.append(r)
      }
    } finally w.close()
  }

  /** Live row-level delete files of a snapshot: entries of every
    * `content`=1 manifest, minus DELETED-status entries. Each ref carries
    * its manifest's sequence number (the application-ordering key) and
    * the entry's equality field ids (empty for position deletes).
    */
  def liveDeleteFiles(manifestListPath: String): Seq[DeleteFileRef] = {
    val conf = graft.util.HadoopConfs.active()
    readManifestListRecords(manifestListPath)
      .filter(r => contentOf(r) == 1)
      .flatMap { m =>
        val seq = longOf(m.get("sequence_number"), 0L)
        readManifest(m.get("manifest_path").toString, conf)
          .filter(_.get("status").asInstanceOf[Int] != Status.Deleted)
          .map { e =>
            val df = e.get("data_file").asInstanceOf[GenericRecord]
            val eqIds = fieldOr(df, "equality_ids") match {
              case l: java.util.List[_] =>
                l.asScala.map(_.asInstanceOf[Int]).toSeq
              case _ => Nil
            }
            // v3 DV fields — absent from v2 writer schemas, so probe the
            // schema before get (Avro's Record.get(String) throws on an
            // unknown field)
            def opt(n: String): Option[AnyRef] = Option(fieldOr(df, n))
            def optLong(n: String): Option[Long] = opt(n).collect {
              case v: java.lang.Long => v.longValue
              case v: java.lang.Integer => v.longValue
            }
            DeleteFileRef(
              graft.util.PathUtils.canonical(df.get("file_path").toString),
              df.get("content").asInstanceOf[Int],
              df.get("record_count").asInstanceOf[Long],
              df.get("file_size_in_bytes").asInstanceOf[Long], seq, eqIds,
              fileFormat = opt("file_format")
                .map(_.toString).getOrElse("PARQUET"),
              referencedDataFile = opt("referenced_data_file")
                .map(_.toString),
              contentOffset = optLong("content_offset"),
              contentSizeBytes = optLong("content_size_in_bytes"))
          }
      }
  }

  /** Live DATA files of a snapshot with the sequence number each was
    * committed at (its data manifest's `sequence_number`) — the other
    * half of the delete-application ordering rule. Distributed the same
    * way as [[liveFiles]]: one executor iterator per manifest, never an
    * O(files) driver materialization.
    */
  def liveDataFileSeqs(spark: SparkSession, manifestListPath: String)
      : Dataset[(String, Long)] = {
    import spark.implicits._
    val pairs = dataManifests(manifestListPath)
      .map(m => (m.get("manifest_path").toString,
        longOf(m.get("sequence_number"), 0L)))
    val bconf = graft.util.HadoopConfs.broadcastSession(spark)
    graft.util.Par.ds(spark, pairs, 64)
      .mapPartitions { it =>
        it.flatMap { case (p, seq) =>
          readManifest(p, bconf.value.value)
            .filter(_.get("status").asInstanceOf[Int] != Status.Deleted)
            .map { e =>
              val df = e.get("data_file").asInstanceOf[GenericRecord]
              (graft.util.PathUtils.canonical(df.get("file_path").toString),
                seq)
            }
        }
      }
  }

  /** A manifest list's DATA manifest records (`content`=0), verbatim. */
  def dataManifests(manifestListPath: String): Seq[GenericRecord] =
    readManifestListRecords(manifestListPath).filter(r => contentOf(r) == 0)

  /** Live data files of the given data-manifest records, decoded where
    * [[graft.plans.Placement]] puts them: manifest bytes come from the
    * list's own `manifest_length` (no extra IO to decide), and a record
    * without one disqualifies the driver. In tasks, manifests are read in
    * executors, one iterator per manifest — the Spark analog of Iceberg's
    * planFiles (IcebergConversionSource.java:172-186 uses
    * includeColumnStats scans). `at` pins a placement for tests.
    */
  def liveFiles(spark: SparkSession, manifests: Seq[GenericRecord],
      schema: StructType, at: Option[Placement] = None)
      : Placement.Placed[FileEntry] = {
    import spark.implicits._
    val paths = manifests.map(_.get("manifest_path").toString)
    val placement = at.getOrElse(Placement.of(manifests.size,
      manifests.view.map(r => Option(r.get("manifest_length")).collect {
        case l: java.lang.Long => l.longValue
      })))
    val schemaJson = schema.json
    // the session's Hadoop settings: as is on the driver, broadcast to tasks
    val (placed, conf) = placement match {
      case Placement.Driver =>
        val c = graft.util.HadoopConfs.session(spark)
        (Left(paths.toIndexedSeq), () => c)
      case Placement.Tasks =>
        val b = graft.util.HadoopConfs.broadcastSession(spark)
        (Right(graft.util.Par.ds(spark, paths, 64)), () => b.value.value)
    }
    Placement.mapRows(placed) { paths =>
      val sch = org.apache.spark.sql.types.DataType.fromJson(schemaJson)
        .asInstanceOf[StructType]
      paths.flatMap { p =>
        readManifest(p, conf()).map(e => fromEntry(e, sch))
          .collect { case (st, fe) if st != Status.Deleted => fe }
      }
    }
  }
}

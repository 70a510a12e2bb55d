package graft.formats.iceberg

import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.JsonNodeFactory
import org.apache.spark.sql.types.StructType

import graft.io.TableStore
import graft.model.PartitionFieldSpec
import graft.util.Jsons

/** One Iceberg snapshot entry. `sourceIdentifier` is the source commit the
  * producing sync was applying, carried in the snapshot summary (reference
  * IcebergConversionTarget stores the same for corrupt-commit detection).
  */
case class IcebergSnapshot(
    snapshotId: Long,
    sequenceNumber: Long,
    timestampMs: Long,
    manifestList: String,
    sourceIdentifier: Option[String] = None,
    operation: String = "append",   // snapshot summary operation (spec: required)
    parentSnapshotId: Option[Long] = None,  // spec `parent-snapshot-id`
    // v3 row lineage: the first row id this snapshot's new rows start at
    // (spec `first-row-id`); graft's v3 appends also stamp every entry's
    // data_file.first_row_id explicitly, so readers never need the
    // inheritance accounting
    firstRowId: Option[Long] = None)

/** A named snapshot reference (spec v2 `refs`): a `tag` pins a snapshot
  * forever; a `branch` is an independently movable head.
  */
case class IcebergRef(snapshotId: Long, refType: String) {
  require(refType == "branch" || refType == "tag",
    s"ref type must be branch|tag, got $refType")
}

/** Iceberg table metadata (format-version 2 JSON layout:
  * `metadata/v<N>.metadata.json` + `version-hint.text`).
  */
case class IcebergTableMetadata(
    tableUuid: String,
    location: String,
    lastSequenceNumber: Long,
    lastUpdatedMs: Long,
    lastColumnId: Int,
    schema: StructType,
    partitionSpec: Seq[PartitionFieldSpec],
    properties: Map[String, String],
    currentSnapshotId: Long,
    snapshots: Seq[IcebergSnapshot],
    refs: Map[String, IcebergRef] = Map.empty,
    // schema/partition-spec EVOLUTION (spec v2): a real table keeps every
    // historical schema and spec in the metadata arrays — `schema` /
    // `partitionSpec` above are the CURRENT ones (selected by
    // current-schema-id / default-spec-id on read); the rest are carried
    // verbatim as raw JSON so a graft commit never drops history that
    // real readers still need to decode old manifests.
    currentSchemaId: Int = 0,
    defaultSpecId: Int = 0,
    otherSchemas: Seq[String] = Nil,
    otherSpecs: Seq[String] = Nil,
    // format-version this table is served/persisted at. graft authors v2;
    // v3 appears by reading an external v3 table or upgrading one for a
    // deletion-vector commit (IcebergDeletes.appendDeletionVectors).
    formatVersion: Int = 2,
    // v3 row lineage: the next first_row_id to assign. Carried verbatim;
    // graft refuses DATA writes into v3 tables (it would have to assign
    // row ids), so this never advances here.
    nextRowId: Long = 0L) {
  def currentSnapshot: Option[IcebergSnapshot] =
    snapshots.find(_.snapshotId == currentSnapshotId)
  def snapshotBySeq(seq: Long): Option[IcebergSnapshot] =
    snapshots.find(_.sequenceNumber == seq)
  /** The sequence readers observe as head: the CURRENT snapshot's — after
    * a ROLLBACK it is older than `lastSequenceNumber`, which only drives
    * new commit numbering (sequences stay monotonic across rollbacks).
    */
  def headSequence: Long =
    currentSnapshot.map(_.sequenceNumber).getOrElse(lastSequenceNumber)
  /** `main` resolves to the current head like real Iceberg readers. */
  def refNamed(name: String): Option[IcebergRef] =
    if (name == "main") Some(IcebergRef(currentSnapshotId, "branch"))
    else refs.get(name)
  /** Highest schema-id in the metadata (current + historical). */
  def maxSchemaId: Int = (currentSchemaId +:
    otherSchemas.map(IcebergMetadata.idOf(_, "schema-id"))).max
  /** Highest spec-id in the metadata (default + historical). */
  def maxSpecId: Int = (defaultSpecId +:
    otherSpecs.map(IcebergMetadata.idOf(_, "spec-id"))).max
}

object IcebergMetadata {

  def metadataDir(tablePath: String): String = s"$tablePath/metadata"
  def versionHint(tablePath: String): String =
    s"${metadataDir(tablePath)}/version-hint.text"
  def metadataFile(tablePath: String, v: Long): String =
    s"${metadataDir(tablePath)}/v$v.metadata.json"

  /** The hint file is a HINT, not the authority (Iceberg's
    * HadoopTableOperations treats it the same): under racing writers it
    * can tear (read mid-write) or lag (two publishes, hints land out of
    * order). The metadata-file listing is authoritative; the max of
    * both is returned.
    */
  def currentVersion(tablePath: String,
      store: TableStore = TableStore.active()): Option[Long] = {
    val hint: Option[Long] =
      if (!store.exists(versionHint(tablePath))) None
      else scala.util.Try(
        store.readString(versionHint(tablePath)).trim.toLong).toOption
    val listed = store.names(metadataDir(tablePath))
      .filter(n => n.startsWith("v") && n.endsWith(".metadata.json"))
      .flatMap(n => n.stripPrefix("v").stripSuffix(".metadata.json")
        .toLongOption)
      .maxOption
    (hint.toSeq ++ listed.toSeq).reduceOption(_ max _)
  }

  private def transformName(p: PartitionFieldSpec): String = p.transform match {
    case graft.model.Transform.Value => "identity"
    case graft.model.Transform.Bucket =>
      s"bucket[${p.numBuckets.getOrElse(16)}]"
    case t => t.toLowerCase
  }

  private def parseTransform(name: String, sourceField: String)
      : PartitionFieldSpec = {
    val bucket = "bucket\\[(\\d+)\\]".r
    name match {
      case "identity" => PartitionFieldSpec(sourceField, graft.model.Transform.Value)
      case bucket(n) => PartitionFieldSpec(sourceField,
        graft.model.Transform.Bucket, numBuckets = Some(n.toInt))
      case t => PartitionFieldSpec(sourceField, t.toUpperCase)
    }
  }

  private[iceberg] def idOf(json: String, key: String): Int =
    Option(Jsons.mapper.readTree(json).get(key)).map(_.asInt).getOrElse(0)

  /** Render the CURRENT spec as its metadata-JSON node. Partition field
    * ids are unique across ALL specs of the table (spec v2): a field that
    * already exists in a historical spec under the same
    * (name, transform, source-id) keeps its id — the Iceberg reference
    * implementation reuses ids the same way — and genuinely new fields
    * take the next id after every previously assigned one.
    */
  private[iceberg] def currentSpecNode(meta: IcebergTableMetadata)
      : com.fasterxml.jackson.databind.node.ObjectNode = {
    val nf = JsonNodeFactory.instance
    val spec = nf.objectNode()
    spec.put("spec-id", meta.defaultSpecId)
    val sf = spec.putArray("fields")
    assignSpecFieldIds(meta.schema, meta.partitionSpec, meta.otherSpecs)
      .foreach { case (p, srcId, fid) =>
        val f = sf.addObject()
        f.put("name", p.partitionColumnName)
        f.put("transform", transformName(p))
        f.put("source-id", srcId)
        f.put("field-id", fid)
        f.put("source-name", p.sourceField)          // engine extension
        p.format.foreach(fmt => f.put("source-format", fmt))
      }
    spec
  }

  /** The id assignment [[currentSpecNode]] emits, computable BEFORE the
    * metadata object exists (syncs write manifests first): each
    * (partition field, source-id, field-id) triple, with a field seen in
    * any historical spec under the same (name, transform, source-id)
    * keeping its id and fresh fields taking the next id past all
    * previously assigned (999-floored — spec v2 partition ids start at
    * 1000).
    */
  private def assignSpecFieldIds(schema: StructType,
      partitionSpec: Seq[graft.model.PartitionFieldSpec],
      otherSpecs: Seq[String])
      : Seq[(graft.model.PartitionFieldSpec, Int, Int)] = {
    val idByName = IcebergSchemas.leafFields(schema)
      .map { case (id, name, _) => name -> id }.toMap
    val prior: Seq[((String, String, Int), Int)] = otherSpecs.flatMap { s =>
      Jsons.mapper.readTree(s).get("fields").elements().asScala.map { f =>
        ((f.get("name").asText, f.get("transform").asText,
          f.get("source-id").asInt), f.get("field-id").asInt)
      }.toSeq
    }
    val priorIds = prior.toMap
    var nextId = (999 +: prior.map(_._2)).max
    partitionSpec.map { p =>
      val srcId = idByName.getOrElse(p.sourceField, -1)
      val fid = priorIds.getOrElse(
        (p.partitionColumnName, transformName(p), srcId), {
          nextId += 1; nextId
        })
      (p, srcId, fid)
    }
  }

  /** (partition-column-name, spec field-id) pairs in SPEC order for the
    * spec a sync is about to commit — what the manifest r102 partition
    * struct must carry so external field-id-based readers resolve
    * partition values (spec: manifest partition fields use the spec's
    * field ids, not positional ones).
    */
  def specFieldIds(schema: StructType,
      partitionSpec: Seq[graft.model.PartitionFieldSpec],
      otherSpecs: Seq[String]): Seq[(String, Int)] =
    assignSpecFieldIds(schema, partitionSpec, otherSpecs)
      .map { case (p, _, fid) => p.partitionColumnName -> fid }

  /** (name, field-id) pairs of EVERY spec of the table keyed by spec id,
    * current spec included — carried-forward manifest rewrites re-encode
    * entries under the spec each manifest was written with.
    */
  def specFieldsById(meta: IcebergTableMetadata)
      : Map[Int, Seq[(String, Int)]] = {
    val others = meta.otherSpecs.map { s =>
      val n = Jsons.mapper.readTree(s)
      val sid = Option(n.get("spec-id")).map(_.asInt).getOrElse(0)
      sid -> n.get("fields").elements().asScala.map(f =>
        f.get("name").asText -> f.get("field-id").asInt).toSeq
    }.toMap
    others + (meta.defaultSpecId ->
      specFieldIds(meta.schema, meta.partitionSpec, meta.otherSpecs))
  }

  /** The current spec exactly as `write` would emit it — used to archive
    * it into `otherSpecs` when a sync evolves the partitioning.
    */
  def currentSpecJson(meta: IcebergTableMetadata): String =
    Jsons.mapper.writeValueAsString(currentSpecNode(meta))

  def write(tablePath: String, version: Long, meta: IcebergTableMetadata,
      store: TableStore = TableStore.active())
      : Boolean = {
    val nf = JsonNodeFactory.instance
    val o = nf.objectNode()
    o.put("format-version", meta.formatVersion)
    // v3 requires next-row-id (row lineage); absent in v1/v2
    if (meta.formatVersion >= 3) o.put("next-row-id", meta.nextRowId)
    o.put("table-uuid", meta.tableUuid)
    o.put("location", meta.location)
    o.put("last-sequence-number", meta.lastSequenceNumber)
    o.put("last-updated-ms", meta.lastUpdatedMs)
    o.put("last-column-id", meta.lastColumnId)
    o.put("current-schema-id", meta.currentSchemaId)
    val schemas = o.putArray("schemas")
    meta.otherSchemas.foreach(s => schemas.add(Jsons.mapper.readTree(s)))
    schemas.add(Jsons.mapper.readTree(
      IcebergSchemas.toIcebergJson(meta.schema, meta.currentSchemaId)))
    o.put("default-spec-id", meta.defaultSpecId)
    val specs = o.putArray("partition-specs")
    meta.otherSpecs.foreach(s => specs.add(Jsons.mapper.readTree(s)))
    specs.add(currentSpecNode(meta))
    // spec v2: last-partition-id (highest assigned partition field id) is
    // a required table-metadata field — real readers refuse without it.
    // Across evolved specs it is the max over ALL specs' field-ids.
    val allFieldIds = specs.elements().asScala.flatMap(sp =>
      sp.get("fields").elements().asScala.map(_.get("field-id").asInt))
    o.put("last-partition-id", allFieldIds.foldLeft(999)(math.max))
    val props = o.putObject("properties")
    meta.properties.foreach { case (k, v) => props.put(k, v) }
    o.put("current-snapshot-id", meta.currentSnapshotId)
    if (meta.refs.nonEmpty) {
      val refs = o.putObject("refs")
      meta.refs.toSeq.sortBy(_._1).foreach { case (name, r) =>
        val rn = refs.putObject(name)
        rn.put("snapshot-id", r.snapshotId)
        rn.put("type", r.refType)
      }
    }
    val snaps = o.putArray("snapshots")
    meta.snapshots.foreach { s =>
      val n = snaps.addObject()
      n.put("snapshot-id", s.snapshotId)
      n.put("sequence-number", s.sequenceNumber)
      n.put("timestamp-ms", s.timestampMs)
      n.put("manifest-list", s.manifestList)
      s.parentSnapshotId.foreach(p => n.put("parent-snapshot-id", p))
      s.firstRowId.foreach(f => n.put("first-row-id", f))
      // spec: summary is required and must carry "operation"
      val sum = n.putObject("summary")
      sum.put("operation", s.operation)
      s.sourceIdentifier.foreach(sid =>
        sum.put("graft.source-identifier", sid))
    }

    store.putIfAbsent(metadataFile(tablePath, version),
      Jsons.mapper.writerWithDefaultPrettyPrinter()
        .writeValueAsString(o).getBytes(StandardCharsets.UTF_8)) && {
      // atomic hint publish: a plain overwrite lets a concurrent reader
      // see a truncated/empty hint mid-write
      store.replace(versionHint(tablePath),
        version.toString.getBytes(StandardCharsets.UTF_8))
      true
    }
  }

  def read(tablePath: String, version: Long,
      store: TableStore = TableStore.active()): IcebergTableMetadata = {
    val json = store.readString(metadataFile(tablePath, version))
    val n = Jsons.mapper.readTree(json)
    // spec §Format Versioning: v1/v2/v3 are implemented (v3 since r13:
    // puffin deletion vectors applied at read, next-row-id carried,
    // data writes refused). Higher versions refuse loudly — serving a
    // table whose semantics this engine doesn't know can return WRONG
    // rows.
    val fmtVersion = Option(n.get("format-version")).map(_.asInt).getOrElse(1)
    if (fmtVersion > 3) throw new UnsupportedOperationException(
      s"Iceberg table at $tablePath is format-version $fmtVersion; this " +
        "engine implements v1/v2/v3 — refusing rather than guess at " +
        "newer-version semantics")
    // current schema: the `schemas` entry named by `current-schema-id` —
    // a real table that evolved keeps every historical schema in the
    // array (current is usually LAST, not first). v1 metadata carries a
    // singular `schema` field instead.
    val schemaNodes: Seq[JsonNode] =
      Option(n.get("schemas")).map(_.elements().asScala.toSeq)
        .orElse(Option(n.get("schema")).map(Seq(_)))
        .getOrElse(throw new IllegalArgumentException(
          s"no schema in Iceberg metadata at $tablePath v$version"))
    val curSchemaId = Option(n.get("current-schema-id")).map(_.asInt)
      .orElse(schemaNodes.headOption.flatMap(s =>
        Option(s.get("schema-id")).map(_.asInt))).getOrElse(0)
    val curSchemaNode = schemaNodes.find(s =>
        Option(s.get("schema-id")).exists(_.asInt == curSchemaId))
      .getOrElse(schemaNodes.head)
    val otherSchemas = schemaNodes.filterNot(_ eq curSchemaNode)
      .map(_.toString)
    val rawSchema = IcebergSchemas.fromIcebergJson(curSchemaNode.toString)
    // v3 default values: a field added with a non-null initial-default is
    // SERVED with that default for files that predate it. Mapped onto
    // Spark's own existence-default machinery: the StructField carries
    // EXISTS_DEFAULT metadata (a SQL literal), and the parquet readers
    // fill ABSENT columns from it while stored values — including
    // explicit nulls — read as stored, which is exactly the spec rule
    // (the file either has the field id or it doesn't). TOP-LEVEL
    // defaults of any representable type — scalars, decimal, both
    // timestamps, and struct/list/map literals (the scan fill serves
    // complex constants; probed by ExistsDefaultProbe). Still refused:
    // defaults attached to fields NESTED inside a struct column (Spark's
    // fill is per top-level column — a file carrying the struct but
    // missing the nested field reads null, and rewriting the projection
    // can't distinguish absent-in-file from stored-null per row), and
    // binary/fixed/uuid defaults (the vectorized scan cannot fill binary
    // constants) — serving either would be a silent wrong answer.
    val schemaWithDefaults =
      if (fmtVersion < 3) rawSchema
      else {
        import org.apache.spark.sql.types._
        val topDefaults: Map[String, (JsonNode, JsonNode)] =
          Option(curSchemaNode.get("fields")).map(_.elements().asScala
            .filter(f => f.get("initial-default") != null &&
              !f.get("initial-default").isNull)
            .map(f => f.get("name").asText ->
              (f.get("type"), f.get("initial-default")))
            .toMap).getOrElse(Map.empty)
        val deepCount = curSchemaNode.get("fields").findParents(
            "initial-default")
          .asScala.count(f => !f.get("initial-default").isNull)
        if (deepCount > topDefaults.size)
          throw new UnsupportedOperationException(
            s"Iceberg v3 table at $tablePath has NESTED field(s) with " +
              "initial-default; Spark's existence-default fill is per " +
              "top-level column, so serving them would return wrong " +
              "values — refusing")
        if (topDefaults.isEmpty) rawSchema
        else StructType(rawSchema.fields.map { f =>
          topDefaults.get(f.name) match {
            case None => f
            case Some((tn, v)) =>
              import org.apache.spark.sql.catalyst.expressions.Literal
              // Iceberg JSON single-value → Spark external value →
              // catalyst literal; .sql is the canonical text Spark's
              // reader re-parses
              val ext = IcebergValues.fromJsonSingle(f.dataType, tn, v,
                s"initial-default of field ${f.name} at $tablePath")
              f.copy(metadata = new MetadataBuilder()
                .withMetadata(f.metadata)
                .putString("EXISTS_DEFAULT",
                  Literal.create(ext, f.dataType).sql).build())
          }
        })
      }
    // RENAME lineage (spec: renames keep the field id; data files keep
    // the name they were written with): for every top-level field whose
    // id carried a DIFFERENT name in any historical schema, annotate the
    // old names under `graft.renamedFrom` — the scan (DeltaRead) reads
    // those as shadow columns and coalesces per file, so pre-rename
    // files keep serving. Shapes a name-resolved scan CANNOT serve
    // refuse loudly here instead of nulling silently:
    //  - NESTED renames (parquet resolves nested fields by name inside
    //    the column; no per-file shadow is expressible),
    //  - swap-style renames (an old name that is another CURRENT
    //    column's name would pull that column's values),
    //  - rename of a field carrying initial-default (the scan fill
    //    cannot distinguish absent-column files from pre-rename files).
    val schema = IcebergRenames.annotate(schemaWithDefaults,
      curSchemaNode, otherSchemas, tablePath)
    // default partition spec: same rule via `default-spec-id`; v1 carries
    // a singular `partition-spec` (a bare fields array).
    val specNodes: Seq[JsonNode] =
      Option(n.get("partition-specs")).map(_.elements().asScala.toSeq)
        .orElse(Option(n.get("partition-spec")).map { fields =>
          // v1: a bare fields array and no spec ids
          val w = JsonNodeFactory.instance.objectNode()
          w.put("spec-id", 0)
          w.set[JsonNode]("fields", fields)
          Seq(w: JsonNode)
        })
        .getOrElse(Nil)
    val defSpecId = Option(n.get("default-spec-id")).map(_.asInt)
      .orElse(specNodes.headOption.flatMap(s =>
        Option(s.get("spec-id")).map(_.asInt))).getOrElse(0)
    val curSpecNode: Option[JsonNode] = specNodes.find(s =>
        Option(s.get("spec-id")).exists(_.asInt == defSpecId))
      .orElse(specNodes.headOption)
    val otherSpecs = specNodes.filterNot(s => curSpecNode.exists(_ eq s))
      .map(_.toString)
    val specFields = curSpecNode.map(_.get("fields")).toSeq
      .flatMap(_.elements().asScala)
      .map { f =>
        val src = Option(f.get("source-name")).map(_.asText).getOrElse {
          // resolve by source-id
          val id = f.get("source-id").asInt
          IcebergSchemas.leafFields(schema)
            .find(_._1 == id).map(_._2).getOrElse(f.get("name").asText)
        }
        val base = parseTransform(f.get("transform").asText, src)
        Option(f.get("source-format")).map(_.asText) match {
          case fmt @ Some(_) => base.copy(format = fmt)
          case None => base
        }
      }
    IcebergTableMetadata(
      n.get("table-uuid").asText,
      n.get("location").asText,
      n.get("last-sequence-number").asLong,
      n.get("last-updated-ms").asLong,
      n.get("last-column-id").asInt,
      schema,
      specFields,
      Option(n.get("properties")).map(_.properties().asScala
        .map(e => e.getKey -> e.getValue.asText).toMap).getOrElse(Map.empty),
      Option(n.get("current-snapshot-id")).map(_.asLong).getOrElse(-1L),
      Option(n.get("snapshots")).toSeq.flatMap(_.elements().asScala).map { s =>
        IcebergSnapshot(
          s.get("snapshot-id").asLong,
          s.get("sequence-number").asLong,
          s.get("timestamp-ms").asLong,
          s.get("manifest-list").asText,
          Option(s.get("summary"))
            .flatMap(sum => Option(sum.get("graft.source-identifier")))
            .map(_.asText),
          Option(s.get("summary"))
            .flatMap(sum => Option(sum.get("operation")))
            .map(_.asText).getOrElse("append"),
          Option(s.get("parent-snapshot-id")).map(_.asLong),
          firstRowId = Option(s.get("first-row-id")).map(_.asLong))
      },
      Option(n.get("refs")).map(_.properties().asScala.map { e =>
        e.getKey -> IcebergRef(e.getValue.get("snapshot-id").asLong,
          e.getValue.get("type").asText)
      }.toMap).getOrElse(Map.empty),
      currentSchemaId = curSchemaId,
      defaultSpecId = defSpecId,
      otherSchemas = otherSchemas,
      otherSpecs = otherSpecs,
      formatVersion = math.max(fmtVersion, 2),
      nextRowId = Option(n.get("next-row-id")).map(_.asLong).getOrElse(0L))
  }
}

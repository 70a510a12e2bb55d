package graft.formats.delta

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.{HadoopConfs, Jsons}

/** Delta ROW TRACKING write parity (PROTOCOL.md §Row Tracking +
  * §Domain Metadata) — the Delta analog of the engine's Iceberg v3 row
  * lineage plane.
  *
  * The public protocol's model, maintained here:
  *  - every `add` on a rowTracking-supported table carries `baseRowId`
  *    (the file's fresh-row-id base) and `defaultRowCommitVersion`;
  *    a row's id defaults to `baseRowId + position`, its commit version
  *    to `defaultRowCommitVersion`;
  *  - the `delta.rowTracking` DOMAIN METADATA action carries the
  *    `rowIdHighWaterMark` every id assignment advances, in the same
  *    commit as the adds it licenses;
  *  - rewrites that move rows (UPDATE / MERGE / OPTIMIZE) preserve ids
  *    by MATERIALIZING them into the physical columns named by the
  *    `delta.rowTracking.materializedRowIdColumnName` /
  *    `delta.rowTracking.materializedRowCommitVersionColumnName` table
  *    properties; a row's served id/version is
  *    `coalesce(materialized, default)` — delta-spark's own read rule;
  *  - DV re-adds of an existing file keep the file's ORIGINAL base id
  *    and commit version (the rows did not move);
  *  - checkpoints carry the domain actions and the add-level fields
  *    (DeltaSnapshot.writeCheckpoint), so the high-water mark and ids
  *    survive log cleanup.
  *
  * Id-assigning commits CAS strictly — never the conflict-retry path: a
  * re-land after a concurrent id-assigning commit would double-assign
  * the same id range.
  *
  * Reference anchor: the reference's Delta source/target (xtable-core
  * .../delta/DeltaConversionSource.java, DeltaConversionTarget.java)
  * neither reads nor writes row tracking — this surface is net-new,
  * built from the public Delta PROTOCOL.md alone.
  */
object DeltaRowTracking {

  val FeatureName = "rowTracking"
  val Domain = "delta.rowTracking"
  val EnabledProp = "delta.enableRowTracking"
  val MaterializedRowIdProp =
    "delta.rowTracking.materializedRowIdColumnName"
  val MaterializedVersionProp =
    "delta.rowTracking.materializedRowCommitVersionColumnName"

  /** Writer-feature presence: the obligation to maintain ids/high-water
    * mark binds on SUPPORT, not only on the enablement property.
    */
  def isSupported(state: DeltaSnapshot.DeltaLogState): Boolean =
    state.protocol.exists(_.writerFeatures.contains(FeatureName))

  /** The row-id high-water mark (-1 on a table that never assigned). */
  def highWaterMark(state: DeltaSnapshot.DeltaLogState): Long =
    state.domains.get(Domain).filterNot(_.removed)
      .flatMap(d => scala.util.Try(Jsons.mapper.readTree(d.configuration)
        .get("rowIdHighWaterMark").asLong).toOption)
      .getOrElse(-1L)

  /** The `delta.rowTracking` domain action line for a new mark. The
    * configuration is a JSON STRING (spec: domain configuration is an
    * opaque string).
    */
  def domainLine(highWaterMark: Long): String =
    Jsons.toJson(Map("domainMetadata" -> Map(
      "domain" -> Domain,
      "configuration" ->
        Jsons.toJson(Map("rowIdHighWaterMark" -> highWaterMark)),
      "removed" -> false)))

  // ---- id assignment on add lines --------------------------------------

  /** Stamp streamed `(addLine, recordCount)` pairs with consecutive
    * fresh `baseRowId` ranges from `firstBase` and this commit's
    * `defaultRowCommitVersion`, followed by the domain-metadata line
    * carrying the advanced high-water mark (evaluated lazily AFTER the
    * adds drain — iterator order is commit-line order). String surgery
    * on the executor-built JSON keeps the add path single-pass and
    * O(one line) on the driver.
    */
  def stampFreshIds(pairs: Iterator[(String, Long)], firstBase: Long,
      commitVersion: Long): Iterator[String] = {
    var base = firstBase
    val stamped = pairs.map { case (line, recordCount) =>
      val out = injectAdd(line, base, commitVersion)
      base += math.max(0L, recordCount)
      out
    }
    stamped ++ lazyLine(() => domainLine(base - 1))
  }

  /** Insert the two row-tracking fields into an `{"add":{...}}` line. */
  private[delta] def injectAdd(line: String, baseRowId: Long,
      commitVersion: Long): String = {
    require(line.endsWith("}}"), s"not an action line: $line")
    line.dropRight(2) +
      s""","baseRowId":$baseRowId,"defaultRowCommitVersion":$commitVersion}}"""
  }

  /** Decode `"count\tpayload"` strings (the executor-side encoding of
    * (line, recordCount) pairs, so they stream through the String-typed
    * [[graft.util.StreamedLines]]).
    */
  def countedLines(lines: Iterator[String]): Iterator[(String, Long)] =
    lines.map { sline =>
      val cut = sline.indexOf('\t')
      (sline.substring(cut + 1), sline.substring(0, cut).toLong)
    }

  private[delta] def lazyLine(f: () => String): Iterator[String] =
    new Iterator[String] {
      private var done = false
      def hasNext: Boolean = !done
      def next(): String = { done = true; f() }
    }

  // ---- per-file id info (for DV re-adds and lineage reads) -------------

  /** (path, baseRowId, defaultRowCommitVersion) of every LIVE add — the
    * lookup DV re-adds and lineage reads join against. Stays a Dataset;
    * O(live files) rows.
    */
  def liveRowInfo(spark: SparkSession, tablePath: String,
      versions: Seq[Long]): DataFrame = {
    import spark.implicits._
    DeltaSnapshot.liveAdds(spark, tablePath, versions)
      .map(a => (a.path, a.baseRowId, a.defaultRowCommitVersion))
      .toDF("__rt_path", "__rt_base", "__rt_dcv")
  }

  // ---- materialized preservation columns --------------------------------

  /** The physical column names preserved ids ride in; generated (and
    * returned with the config entries to commit) when the table has
    * none yet — delta-spark's own naming scheme.
    */
  def materializedCols(configuration: Map[String, String])
      : (String, String, Map[String, String]) = {
    val rid = configuration.get(MaterializedRowIdProp)
    val rcv = configuration.get(MaterializedVersionProp)
    (rid, rcv) match {
      case (Some(a), Some(b)) => (a, b, Map.empty)
      case _ =>
        val a = rid.getOrElse(
          s"_row-id-col-${java.util.UUID.randomUUID()}")
        val b = rcv.getOrElse(
          s"_row-commit-version-col-${java.util.UUID.randomUUID()}")
        (a, b, Map(MaterializedRowIdProp -> a, MaterializedVersionProp -> b))
    }
  }

  // ---- lineage read -----------------------------------------------------

  /** The snapshot's rows plus `_row_id` and `_row_commit_version` —
    * `coalesce(materialized, default)` per the protocol's read rule. The
    * per-file defaults join is broadcast under the same byte gate the
    * Iceberg lineage read uses; unresolvable lineage (a live file with
    * no baseRowId on a rowTracking table) fails loudly.
    */
  def withRowLineage(spark: SparkSession, tablePath: String): DataFrame = {
    val conf = HadoopConfs.session(spark)
    val versions = DeltaLog.listVersions(tablePath, conf)
    val src = new DeltaConversionSource(spark, tablePath,
      graft.util.PathUtils.canonical(tablePath).stripSuffix("/")
        .split('/').last)
    require(isSupported(src.stateAt(versions)),
      s"withRowLineage needs the rowTracking writer feature; the Delta " +
        s"table at $tablePath does not carry it — enable row tracking " +
        "first (DeltaRowTracking.enable)")
    val meta = src.currentMeta()
    val snap = src.currentSnapshot()
    val (ridCol, rcvCol, missing) = materializedCols(meta.configuration)
    // shadow-read the materialized physical columns (absent from the
    // logical schema; files without them read null) — same mechanism as
    // the Iceberg rename shadows
    val augmented = snap.copy(table = snap.table.copy(schemaJson =
      org.apache.spark.sql.types.StructType(
        snap.table.schema.fields ++
          (if (missing.isEmpty) Seq(
            org.apache.spark.sql.types.StructField(ridCol,
              org.apache.spark.sql.types.LongType, nullable = true),
            org.apache.spark.sql.types.StructField(rcvCol,
              org.apache.spark.sql.types.LongType, nullable = true))
           else Nil)).json))
    val keyed = DeltaRead.toKeyedDataFrame(spark, augmented)
    val info = liveRowInfo(spark, tablePath, versions)
    val nFiles = snap.listing.fetched.count
    val right =
      if (nFiles * 150L <= 64L * 1024 * 1024) broadcast(info) else info
    val matRid: org.apache.spark.sql.Column =
      if (missing.isEmpty) col(ridCol) else lit(null).cast("bigint")
    val matRcv: org.apache.spark.sql.Column =
      if (missing.isEmpty) col(rcvCol) else lit(null).cast("bigint")
    val joined = keyed
      .join(right, col("__scan_path") === col("__rt_path"), "left")
      .withColumn("_row_id",
        coalesce(matRid, col("__rt_base") + col("__scan_pos")))
      .withColumn("_row_id",
        when(col("_row_id").isNotNull, col("_row_id"))
          .otherwise(raise_error(concat(
            lit("row tracking unresolvable for data file "),
            col("__scan_path"),
            lit(" — live add carries no baseRowId and the row has no " +
              "materialized id")))))
      .withColumn("_row_commit_version", coalesce(matRcv, col("__rt_dcv")))
    joined.select(snap.table.schema.fieldNames.toSeq.map(col) ++
      Seq(col("_row_id"), col("_row_commit_version")): _*)
  }

  // ---- enablement -------------------------------------------------------

  /** Enable row tracking on an existing table: ONE commit that raises
    * the protocol to table features with `rowTracking` + its
    * `domainMetadata` dependency, plants the enablement property and the
    * materialized column names, BACKFILLS every live file's add with a
    * fresh `baseRowId`/`defaultRowCommitVersion` (remove + re-add,
    * dataChange=false — rows don't move), and seeds the high-water mark.
    */
  def enable(spark: SparkSession, tablePath: String): Unit = {
    import spark.implicits._
    val conf = HadoopConfs.session(spark)
    val versions = DeltaLog.listVersions(tablePath, conf)
    require(versions.nonEmpty, s"no Delta table at $tablePath")
    val st = DeltaSnapshot.state(spark, tablePath, versions)
    DeltaSnapshot.requireWritable(tablePath, st)
    val meta = st.metaData.getOrElse(throw new IllegalStateException(
      s"no Delta metaData at $tablePath"))
    if (isSupported(st) &&
        meta.configuration.get(EnabledProp).exists(_.equalsIgnoreCase(
          "true"))) return
    val version = versions.last + 1
    val proto = DeltaDeletes.protocolWithWriterFeatures(st.protocol,
      Seq(FeatureName, "domainMetadata"))
    val (ridCol, rcvCol, newProps) = materializedCols(meta.configuration)
    val metaLine = Jsons.toJson(Map("metaData" -> Map(
      "id" -> meta.id,
      "format" -> Map("provider" -> "parquet", "options" -> Map.empty),
      "schemaString" -> meta.schemaString,
      "partitionColumns" -> meta.partitionColumns,
      "configuration" -> (meta.configuration ++ newProps +
        (EnabledProp -> "true")),
      "createdTime" -> meta.createdTime)))
    val header = Iterator(
      Jsons.toJson(Map("protocol" -> proto)),
      metaLine,
      Jsons.toJson(Map("commitInfo" -> Map(
        "timestamp" -> System.currentTimeMillis(),
        "operation" -> "ENABLE ROW TRACKING",
        "operationParameters" -> Map.empty))))
    // backfill: re-add every live file with an assigned base id. The
    // re-add JSON is authored executor-side from the raw live action
    // (stats/DV/partitionValues carried verbatim); counts ride along
    // for the driver's single-pass base assignment.
    val tp = graft.util.PathUtils.canonical(tablePath)
    val now = System.currentTimeMillis()
    val schemaJson = meta.schemaString
    val pairs = DeltaSnapshot.liveAdds(spark, tablePath, versions)
      .mapPartitions { it =>
        val sch = org.apache.spark.sql.types.DataType.fromJson(schemaJson)
          .asInstanceOf[org.apache.spark.sql.types.StructType]
        it.map { a =>
          val (numRecords, _) = DeltaStats.parse(sch, a.stats)
          val rel = graft.util.PathUtils.toDeltaUri(
            graft.util.PathUtils.relativize(tp, a.path))
          val add = Map(
            "path" -> rel,
            "partitionValues" -> a.partitionValues,
            "size" -> a.size,
            "modificationTime" -> a.modificationTime,
            "dataChange" -> false,
            "stats" -> a.stats) ++
            a.dvDescriptor.map(d => Map("deletionVector" -> Map(
              "storageType" -> d.storageType,
              "pathOrInlineDv" -> d.pathOrInlineDv,
              "offset" -> d.offset,
              "sizeInBytes" -> d.sizeInBytes,
              "cardinality" -> d.cardinality))).getOrElse(Map.empty)
          val remove = Jsons.toJson(Map("remove" -> Map(
            "path" -> rel, "deletionTimestamp" -> now,
            "dataChange" -> false)))
          s"$numRecords\t$remove\n${Jsons.toJson(Map("add" -> add))}"
        }
      }
    var base = 0L
    val counted = countedLines(graft.util.StreamedLines.iterate(pairs))
    val lines = counted.flatMap { case (both, n) =>
      val cut = both.indexOf('\n')
      val remove = both.substring(0, cut)
      val add = both.substring(cut + 1)
      val out = Seq(remove, injectAdd(add, base, version))
      base += math.max(0L, n)
      out.iterator
    } ++ lazyLine(() => domainLine(base - 1))
    // strict CAS: an id-assigning commit must never silently re-land
    if (!DeltaLog.writeCommit(tablePath, version, header ++ lines))
      throw new IllegalStateException(
        s"concurrent writer took Delta version $version at $tablePath — " +
          "re-run enable against the new head")
  }
}

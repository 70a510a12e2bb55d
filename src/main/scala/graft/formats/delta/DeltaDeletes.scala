package graft.formats.delta

import java.util.UUID

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

import graft.model.{DvDescriptor, FileEntry, Transform}
import graft.util.{HadoopConfs, Jsons, PathUtils}

/** Row-level DELETE and UPDATE on a Delta table via deletion vectors
  * (PROTOCOL.md §Deletion Vectors) — the write-side twin of the
  * DV-applying read. No matched data file is rewritten: each affected
  * file gets ONE new DV holding the union of its previous DV (if any)
  * and the newly matching rows, and the commit replaces the file's `add`
  * (remove + add-with-DV, both dataChange) while upgrading the protocol
  * to the table-features form with `deletionVectors` flagged — MERGED
  * into the table's existing protocol, never replacing it (a replacement
  * that dropped a live feature would corrupt the table). UPDATE
  * additionally lands the re-written matching rows as NEW data files in
  * the same commit, so the table never shows a state with the rows
  * missing.
  *
  * Scale shape: matching rows and prior DV positions stay distributed;
  * one executor task per affected file builds and writes that file's
  * bitmap; UPDATE's new rows are a plain distributed parquet write. The
  * affected-file set NEVER materializes on the driver: the per-file
  * descriptors are pinned executor-side (localCheckpoint) and the commit
  * add/remove lines stream through `toLocalIterator` one partition at a
  * time — `deleteWhere(lit(true))` on a 10^7-file table holds O(one
  * partition) on the driver, the same bound as the sync commit writer
  * (DeltaConversionTarget.scala:108-137).
  *
  * Concurrency: the commit version is the PLANNED snapshot's version + 1,
  * so a writer that lands between planning and commit makes the
  * atomic-rename CAS fail loudly instead of being silently clobbered.
  */
object DeltaDeletes {

  private[graft] case class DeletePlan(snap: graft.model.TableSnapshot,
      masked: Dataset[(FileEntry, DvDescriptor)], nDeleted: Long)

  /** Delete every live row matching `predicate`; returns the number of
    * newly deleted rows (0 = no match, no commit written).
    */
  def deleteWhere(spark: SparkSession, tablePath: String,
      predicate: Column): Long = {
    import spark.implicits._
    val src = sourceOf(spark, tablePath)
    val snap = src.currentSnapshot()
    val cdf = cdfEnabled(src)
    requireNotAppendOnly(src, "deleteWhere")
    requireCdcWritable(snap, cdf, "deleteWhere")
    // the matched live rows drive BOTH the DV mask and the CDC
    // pre-images — persist them (O(deleted rows), spills past memory)
    // so the table is scanned once, not once per consumer
    val matched = DeltaRead.toKeyedDataFrame(spark, snap, withDv = true)
      .filter(predicate)
    val pinned = if (cdf) matched.persist() else matched
    try {
      planMask(spark, snap, hitsOf(pinned)) match {
        case None => 0L
        case Some(plan) =>
          val cdc =
            if (!cdf) Iterator.empty
            else writeCdcFiles(spark, snap, pinned
              .drop("__scan_path", "__scan_pos", "__scan_dv")
              .withColumn("_change_type", lit("delete")), "delete")
          // the predicate is this commit's READ footprint: on a conflict
          // retry, an intervening append whose rows may match it must
          // fail the re-land (Serializable), not silently escape the
          // delete; stats-provably-missing appends still reconcile
          commit(spark, tablePath, plan, src.stateOf(snap), "DELETE", cdc,
            Some(DeltaConflicts.footprintOf(spark, snap.table.schema,
              predicate)))
          plan.nDeleted
      }
    } finally if (cdf) pinned.unpersist()
  }

  /** Update every live row matching `predicate`: the old rows are masked
    * by DVs and the re-written rows (each `assignments` column replaced)
    * land as new data files — ONE commit, so readers never observe the
    * rows missing. Identity-partitioned and column-mapped tables are
    * supported (replacement files route to their partitions and are
    * written under physical names); transform-partitioned MAPPED tables
    * are refused loudly. Returns the number of updated rows.
    */
  def updateWhere(spark: SparkSession, tablePath: String,
      predicate: Column, assignments: Map[String, Column]): Long = {
    import spark.implicits._
    require(assignments.nonEmpty, "updateWhere needs >= 1 assignment")
    val src = sourceOf(spark, tablePath)
    val snap = src.currentSnapshot()
    requireNotAppendOnly(src, "updateWhere")
    requireRewritable(snap, "updateWhere")
    val schema = snap.table.schema
    val unknown = assignments.keySet -- schema.fieldNames.toSet
    require(unknown.isEmpty, s"unknown update columns: $unknown")
    val cdf = cdfEnabled(src)
    requireCdcWritable(snap, cdf, "updateWhere")
    // row tracking: matched rows KEEP their ids (an update is the same
    // row at a new version) — served ids ride along the scan and land in
    // the replacement files' materialized row-id column
    val rt = rowTrackingCtx(spark, tablePath, snap, src)
    // one table scan: the matched rows feed the DV mask, the rewritten
    // data files, AND the CDC pre/post images (O(updated rows) persist)
    val matched = keyedScanWithIds(spark, snap, rt).filter(predicate)
      .persist()
    try {
      planMask(spark, snap, hitsOf(matched)) match {
        case None => 0L
        case Some(plan) =>
          val rewritten = matched.select(schema.fieldNames.toSeq.map { f =>
            assignments.get(f).map(_.as(f)).getOrElse(col(f))
          } ++ rt.map(c => col(PreservedIdCol).as(c.ridCol)).toSeq: _*)
          DeltaConstraints.enforce(
            rewritten.select(schema.fieldNames.toSeq.map(col): _*),
            src.currentMeta(), "UPDATE")
          val newAdds = stampedDataFiles(spark, snap, rewritten, "update",
            rt, tablePath)
          val cdc =
            if (!cdf) Iterator.empty
            else writeCdcFiles(spark, snap, matched
              .select(schema.fieldNames.toSeq.map(col): _*)
              .withColumn("_change_type", lit("update_preimage"))
              .unionByName(rewritten
                .select(schema.fieldNames.toSeq.map(col): _*)
                .withColumn("_change_type", lit("update_postimage"))),
              "update")
          commit(spark, tablePath, plan, src.stateOf(snap), "UPDATE",
            rt.iterator.flatMap(c => c.metaLine.iterator) ++ newAdds ++ cdc,
            Some(DeltaConflicts.footprintOf(spark, snap.table.schema,
              predicate)))
          plan.nDeleted
      }
    } finally matched.unpersist()
  }

  /** MERGE INTO with upsert semantics — WHEN MATCHED THEN UPDATE SET *,
    * WHEN NOT MATCHED THEN INSERT * — matching target to `source` on
    * equality of `keyCols`. Matched target rows are DV-masked and EVERY
    * source row (updated values and fresh inserts alike) lands as new
    * data files, all in ONE commit. Like delta-spark, refuses a source
    * in which two rows carry the same key (the merge would be
    * ambiguous). Returns (matched, inserted) row counts.
    *
    * Scale shape: the match is a key-equality join the optimizer is free
    * to broadcast (typical CDC batches are small against a 100 TB
    * target); only matched files are re-described, untouched files'
    * `add`s are never rewritten.
    */
  def mergeInto(spark: SparkSession, tablePath: String, source: DataFrame,
      keyCols: Seq[String]): (Long, Long) = {
    import spark.implicits._
    require(keyCols.nonEmpty, "mergeInto needs >= 1 key column")
    val src = new DeltaConversionSource(spark, tablePath,
      PathUtils.canonical(tablePath).stripSuffix("/").split('/').last)
    val snap = src.currentSnapshot()
    requireNotAppendOnly(src, "mergeInto")
    requireRewritable(snap, "mergeInto")
    val schema = snap.table.schema
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

      // matched live target rows: semi-join the keyed scan against the
      // source keys (broadcast-able; existing DVs already masked). ONE
      // table scan: the matched rows (O(matched), persisted) feed the
      // DV mask, the CDC pre-images, and the matched/fresh source split.
      val cdf = cdfEnabled(src)
      requireCdcWritable(snap, cdf, "mergeInto")
      val rt = rowTrackingCtx(spark, tablePath, snap, src)
      val srcKeys = srcProj.select(keyCols.map(col): _*)
      val matched = keyedScanWithIds(spark, snap, rt)
        .join(srcKeys, keyCols, "left_semi")
        .persist()
      try {
        val plan = planMask(spark, snap, hitsOf(matched))
          .getOrElse(DeletePlan(snap, emptyMasked(spark), 0L))
        DeltaConstraints.enforce(srcProj, src.currentMeta(), "MERGE")
        // row tracking: a source row whose key matched a live target row
        // IS that row (id preserved via the materialized column); fresh
        // inserts leave it null and draw baseRowId + position defaults
        val outRows = rt match {
          case None => srcProj
          case Some(c) =>
            val ids = matched.select(keyCols.map(col) :+
              col(PreservedIdCol): _*)
            srcProj.join(ids, keyCols, "left")
              .select(schema.fieldNames.toSeq.map(col) :+
                col(PreservedIdCol).as(c.ridCol): _*)
        }
        val newAdds = stampedDataFiles(spark, snap, outRows, "merge",
          rt, tablePath)
        // CDC rows classify the source by whether its key hit a live
        // target row: matched → update pre/post pair, fresh → insert
        val cdc =
          if (!cdf) Iterator.empty
          else {
            val matchedKeys = matched.select(keyCols.map(col): _*)
            writeCdcFiles(spark, snap, matched
              .select(schema.fieldNames.toSeq.map(col): _*)
              .withColumn("_change_type", lit("update_preimage"))
              .unionByName(srcProj.join(matchedKeys, keyCols, "left_semi")
                .withColumn("_change_type", lit("update_postimage")))
              .unionByName(srcProj.join(matchedKeys, keyCols, "left_anti")
                .withColumn("_change_type", lit("insert"))), "merge")
          }
        commit(spark, tablePath, plan, src.stateOf(snap), "MERGE",
          rt.iterator.flatMap(c => c.metaLine.iterator) ++ newAdds ++ cdc)
        (plan.nDeleted, srcCount - plan.nDeleted)
      } finally matched.unpersist()
    } finally srcProj.unpersist()
  }

  private def emptyMasked(spark: SparkSession)
      : Dataset[(FileEntry, DvDescriptor)] = {
    import spark.implicits._
    spark.emptyDataset[(FileEntry, DvDescriptor)]
  }

  /** Row-tracking context of one DML/rewrite operation (None when the
    * table does not carry the writer feature): the materialized column
    * names (generated — and carried as a metaData action line — when the
    * table has none yet), whether files may already hold them, the
    * current high-water mark, and the planning-time version list.
    */
  private[delta] case class RowTrackingCtx(tablePath: String,
      ridCol: String, rcvCol: String, haveMaterialized: Boolean,
      metaLine: Option[String], highWaterMark: Long, versions: Seq[Long])

  /** Served-id column names rewrites thread through the scan. */
  private[delta] val PreservedIdCol = "__rt_preserved_id"
  private[delta] val PreservedVerCol = "__rt_preserved_ver"

  private[delta] def rowTrackingCtx(spark: SparkSession, tablePath: String,
      snap: graft.model.TableSnapshot, src: DeltaConversionSource)
      : Option[RowTrackingCtx] = {
    val versions =
      DeltaLog.listVersions(tablePath, HadoopConfs.session(spark))
        .filter(_ <= snap.commitId.toLong)
    val st = src.stateAt(versions)
    if (!DeltaRowTracking.isSupported(st)) return None
    val meta = src.currentMeta()
    val (rid, rcv, missing) =
      DeltaRowTracking.materializedCols(meta.configuration)
    val metaLine =
      if (missing.isEmpty) None
      else Some(Jsons.toJson(Map("metaData" -> Map(
        "id" -> meta.id,
        "format" -> Map("provider" -> "parquet", "options" -> Map.empty),
        "schemaString" -> meta.schemaString,
        "partitionColumns" -> meta.partitionColumns,
        "configuration" -> (meta.configuration ++ missing),
        "createdTime" -> meta.createdTime))))
    Some(RowTrackingCtx(tablePath, rid, rcv, missing.isEmpty, metaLine,
      DeltaRowTracking.highWaterMark(st), versions))
  }

  /** The keyed scan, plus — under row tracking — each row's SERVED id
    * and commit version (`coalesce(materialized, default)`, the
    * protocol's read rule) as [[PreservedIdCol]]/[[PreservedVerCol]].
    * The per-file defaults join broadcasts under the same byte gate the
    * lineage reads use.
    */
  private[delta] def keyedScanWithIds(spark: SparkSession,
      snap: graft.model.TableSnapshot, rt: Option[RowTrackingCtx])
      : DataFrame = rt match {
    case None => DeltaRead.toKeyedDataFrame(spark, snap, withDv = true)
    case Some(c) =>
      val scanSnap =
        if (!c.haveMaterialized) snap
        else snap.copy(table = snap.table.copy(schemaJson =
          org.apache.spark.sql.types.StructType(
            snap.table.schema.fields ++ Seq(
              org.apache.spark.sql.types.StructField(c.ridCol,
                org.apache.spark.sql.types.LongType, nullable = true),
              org.apache.spark.sql.types.StructField(c.rcvCol,
                org.apache.spark.sql.types.LongType, nullable = true)))
            .json))
      val keyed = DeltaRead.toKeyedDataFrame(spark, scanSnap, withDv = true)
      val info = DeltaRowTracking.liveRowInfo(spark, c.tablePath,
        c.versions)
      val nFiles = snap.listing.fetched.count
      val right =
        if (nFiles * 150L <= 64L * 1024 * 1024) broadcast(info) else info
      def mat(name: String): Column =
        if (c.haveMaterialized) col(name) else lit(null).cast("bigint")
      keyed.join(right, col("__scan_path") === col("__rt_path"), "left")
        .withColumn(PreservedIdCol,
          coalesce(mat(c.ridCol), col("__rt_base") + col("__scan_pos")))
        .withColumn(PreservedVerCol,
          coalesce(mat(c.rcvCol), col("__rt_dcv")))
        .drop("__rt_path", "__rt_base", "__rt_dcv")
        .drop(c.ridCol, c.rcvCol)
  }

  /** [[writeDataFiles]] plus row-tracking stamping: fresh baseRowId
    * ranges from the high-water mark, this commit's version, and the
    * advanced domain-metadata line after the adds.
    */
  private[delta] def stampedDataFiles(spark: SparkSession,
      snap: graft.model.TableSnapshot, rows: DataFrame, prefix: String,
      rt: Option[RowTrackingCtx], tablePath: String): Iterator[String] =
    rt match {
      case None => writeDataFiles(spark, snap, rows, prefix)
      case Some(c) =>
        val counted = writeDataFiles(spark, snap, rows, prefix,
          counted = true).map { sline =>
          val cut = sline.indexOf('\t')
          (sline.substring(cut + 1), sline.substring(0, cut).toLong)
        }
        DeltaRowTracking.stampFreshIds(counted, c.highWaterMark + 1,
          snap.commitId.toLong + 1)
    }

  /** Replacement-file writes route rows by the physical partition layout:
    * identity transforms ARE the data column, and generated transforms
    * (YEAR/MONTH/DAY/HOUR/DATE_FORMAT/BUCKET) are recomputed from their
    * source column via the SAME generation-expression grammar the sync
    * path writes (`DeltaPartitions.generationExpression`) — so a row an
    * assignment moves across partitions re-routes correctly. On
    * column-mapped tables the replacement files are written under
    * PHYSICAL names ([[DeltaDeletes.writeDataFiles]] renames on the way
    * out); only transform-partitioned mapped tables are refused (the
    * generation grammar speaks logical names).
    */
  private def requireRewritable(snap: graft.model.TableSnapshot,
      op: String): Unit = {
    if (DeltaColumnMapping.isMapped(snap.table.schema))
      require(snap.table.partitionFields
          .forall(_.transform == Transform.Value),
        s"$op on a transform-partitioned column-mapped table is " +
          "unsupported (generation expressions speak logical names) — " +
          "rewrite through the sync path instead")
  }

  /** CDC sidecars are written under logical column names; on a
    * column-mapped table real CDF readers expect physical — refuse the
    * combination loudly rather than author a feed that misreads.
    */
  private def requireCdcWritable(snap: graft.model.TableSnapshot,
      cdf: Boolean, op: String): Unit =
    require(!cdf || !DeltaColumnMapping.isMapped(snap.table.schema),
      s"$op with change-data-feed enabled on a column-mapped table is " +
        "unsupported (CDC sidecars would carry logical names) — disable " +
        "CDF or unmap the table")

  /** Distributed parquet write of `df` under a fresh table-local dir —
    * partition-routed (generated partition columns recomputed from their
    * source columns, then stripped by partitionBy so data files carry
    * exactly the logical schema); returns the commit `add` lines,
    * authored from a DISTRIBUTED footer scan (real column stats, so
    * stat-skipping prunes the replacement files) and streamed to the
    * driver in bounded batches — a merge landing 10^5 new files never
    * loops footers on the driver.
    */
  private def writeDataFiles(spark: SparkSession,
      snap: graft.model.TableSnapshot, df: DataFrame,
      prefix: String, counted: Boolean = false): Iterator[String] = {
    import spark.implicits._
    val tp = snap.table.basePath
    val schema = snap.table.schema
    val specs = snap.table.partitionFields
    val partCols = specs.map(_.partitionColumnName)
    val dataDir = s"$tp/$prefix-${UUID.randomUUID()}"
    val routed = specs.filterNot(_.transform == Transform.Value)
      .foldLeft(df) { (d, s) =>
        if (!schema.fieldNames.contains(s.sourceField)) {
          // generated from a column the logical schema doesn't carry
          // (e.g. the source dir materialized the day string and dropped
          // the timestamp): the partition column itself must then be a
          // real data column, and partitionBy routes it as-is
          require(schema.fieldNames.contains(s.partitionColumnName),
            s"partition ${s.partitionColumnName} is generated from " +
              s"${s.sourceField}, which is absent from the table schema")
          d
        } else d.withColumn(s.partitionColumnName,
          expr(DeltaPartitions.generationExpression(s).get).cast("string"))
      }
    // column-mapped tables store PHYSICAL names in the files (and in the
    // add actions' partitionValues keys): rename + re-nest on the way
    // out — the exact reverse of the read path's logical rename
    val mapped = DeltaColumnMapping.isMapped(schema)
    val physByLogical =
      schema.fields.map(f => f.name -> DeltaColumnMapping.physicalName(f))
        .toMap
    val out = DeltaColumnMapping.renameToPhysical(routed, schema)
    val outPartCols =
      if (!mapped) partCols
      else partCols.map(c => physByLogical.getOrElse(c, c))
    if (outPartCols.isEmpty) out.write.parquet(dataDir)
    else out.write.partitionBy(outPartCols: _*).parquet(dataDir)
    val conf = HadoopConfs.session(spark)
    val listed = graft.sources.ParquetFooters.listFiles(dataDir, conf)
    if (listed.isEmpty) return Iterator.empty
    // stats are keyed the way the files spell columns: physical on
    // mapped tables (the listing parse renames them back to logical)
    val schemaJson =
      if (mapped) DeltaColumnMapping.physicalSchema(schema).json
      else schema.json
    val doCount = counted
    val adds = graft.sources.ParquetFooters
      .fileEntries(spark, dataDir, listed)
      .mapPartitions { it =>
        val sch = DataType.fromJson(schemaJson).asInstanceOf[StructType]
        it.map { fe =>
          val line = Jsons.toJson(Map("add" -> Map(
            "path" -> PathUtils.toDeltaUri(PathUtils.relativize(tp, fe.path)),
            "partitionValues" -> fe.partitionValues
              .map(p => p.field -> p.value).toMap,
            "size" -> fe.fileSizeBytes,
            "modificationTime" -> fe.lastModifiedMillis,
            "dataChange" -> true,
            "stats" -> DeltaStats.toJson(sch, fe.recordCount, fe.columnStats))))
          if (doCount) s"${fe.recordCount}\t$line" else line
        }
      }
    graft.util.StreamedLines.iterate(adds)
  }

  private def sourceOf(spark: SparkSession, tablePath: String)
      : DeltaConversionSource =
    new DeltaConversionSource(spark, tablePath,
      PathUtils.canonical(tablePath).stripSuffix("/").split('/').last)

  /** `delta.appendOnly` (the appendOnly writer feature's obligation): the
    * table licenses appends only — DML that removes or rewrites rows
    * must refuse. Reads through the source's state memo.
    */
  private def requireNotAppendOnly(src: DeltaConversionSource,
      op: String): Unit =
    require(!src.currentMeta().configuration
        .get("delta.appendOnly").exists(_.equalsIgnoreCase("true")),
      s"$op on an append-only table (delta.appendOnly=true) — the " +
        "appendOnly writer feature forbids removing or rewriting rows")

  /** Does the table ask its writers to author CDC (delta-spark's rule:
    * the `delta.enableChangeDataFeed` property keys authoring; readers
    * reconstruct without it). Reads through the source's state memo —
    * no extra log job.
    */
  private def cdfEnabled(src: DeltaConversionSource): Boolean =
    DeltaChanges.isEnabled(src.currentMeta())

  /** CDC sidecar authoring (PROTOCOL.md §Add CDC File): write `rows`
    * (table columns plus `_change_type`) as `_change_data/` parquet —
    * partition-routed exactly like data files — and return the commit's
    * `cdc` action lines.
    */
  private def writeCdcFiles(spark: SparkSession,
      snap: graft.model.TableSnapshot, rows: DataFrame, prefix: String)
      : Iterator[String] = {
    val conf = HadoopConfs.session(spark)
    val tp = snap.table.basePath
    val schema = snap.table.schema
    val specs = snap.table.partitionFields
    val partCols = specs.map(_.partitionColumnName)
    val dataDir =
      s"$tp/${DeltaChanges.ChangeDir}/$prefix-${UUID.randomUUID()}"
    val routed = specs.filterNot(_.transform == Transform.Value)
      .foldLeft(rows) { (d, s) =>
        if (!schema.fieldNames.contains(s.sourceField)) d
        else d.withColumn(s.partitionColumnName,
          expr(DeltaPartitions.generationExpression(s).get).cast("string"))
      }
    if (partCols.isEmpty) routed.write.parquet(dataDir)
    else routed.write.partitionBy(partCols: _*).parquet(dataDir)
    val listed = graft.sources.ParquetFooters.listFiles(dataDir, conf)
    listed.iterator.map { f =>
      val partVals = graft.sources.ParquetFooters
        .partitionValuesFromPath(dataDir, f.path)
      Jsons.toJson(Map("cdc" -> Map(
        "path" -> PathUtils.toDeltaUri(PathUtils.relativize(tp, f.path)),
        "partitionValues" -> partVals.map(p => p.field -> p.value).toMap,
        "size" -> f.length,
        "dataChange" -> false)))
    }
  }

  /** Compute the per-file union DVs for rows matching `predicate`; None
    * when nothing matches.
    */
  private[graft] def planDelete(spark: SparkSession, tablePath: String,
      predicate: Column): Option[DeletePlan] = {
    val src = new DeltaConversionSource(spark, tablePath,
      PathUtils.canonical(tablePath).stripSuffix("/").split('/').last)
    val snap = src.currentSnapshot()
    // existing DV positions are already masked out by the keyed read
    planMask(spark, snap, hitsOf(
      DeltaRead.toKeyedDataFrame(spark, snap, withDv = true)
        .filter(predicate)))
  }

  /** The (file, position, file's current DV) of each row of a keyed scan
    * taken `withDv`.
    */
  private def hitsOf(keyed: DataFrame): Dataset[(String, Long, String)] = {
    import keyed.sparkSession.implicits._
    keyed.select(col("__scan_path"), col("__scan_pos"), col("__scan_dv"))
      .as[(String, Long, String)]
  }

  /** Union each hit file's prior DV (the hit rows carry its descriptor)
    * with its new hit positions and write one DV file per affected data
    * file (executor-side); None when `hits` is empty. The (FileEntry,
    * descriptor) result is PINNED with an eager localCheckpoint AFTER
    * the listing join: the DV-file writes are side
    * effects of exactly one execution, and the count aggregate, the
    * emptiness probe and the commit-line stream all reuse the pinned
    * partitions instead of re-running the join — nothing proportional to
    * the affected-file count ever reaches the driver.
    */
  private[graft] def planMask(spark: SparkSession,
      snap: graft.model.TableSnapshot,
      hits: Dataset[(String, Long, String)]): Option[DeletePlan] = {
    import spark.implicits._
    val tp = snap.table.basePath
    val bconf = HadoopConfs.broadcastSession(spark)
    val listing = snap.listing.dataset

    // one bitmap per affected data file, ONE DV FILE per write task
    // (delta-spark's shape: descriptors share the file, differ by
    // offset) — a delete touching 10^6 files writes ~32 DV files. The
    // spec's random-prefix directory spreads object-store key prefixes.
    // The new DV holds the UNION of the new hits and the file's prior DV
    // (the new add replaces the old one wholesale): every hit row of a
    // file carries that prior descriptor, decoded here in the write task
    // — the table is scanned once.
    val newDvs: Dataset[(String, DvDescriptor)] = hits
      .toDF("path", "pos", "dv")
      .repartition(col("path"))
      .sortWithinPartitions("path", "pos")
      .as[(String, Long, String)]
      .mapPartitions { it =>
        val buf = it.buffered
        if (!buf.hasNext) Iterator.empty
        else {
          val uuid = UUID.randomUUID()
          val groups = new Iterator[(String, Array[Long])] {
            def hasNext: Boolean = buf.hasNext
            def next(): (String, Array[Long]) = {
              val (path, _, prior) = buf.head
              val arr = Array.newBuilder[Long]
              while (buf.hasNext && buf.head._1 == path)
                arr += buf.next()._2
              if (prior != null)
                arr ++= DeletionVectors.deletedPositions(bconf.value.value,
                  tp, DeletionVectors.fromScanField(prior))
              (path, arr.result())
            }
          }
          DeletionVectors.writeDvFileGrouped(bconf.value.value, tp,
            uuid.toString.take(2), uuid, groups)
        }
      }
    // DataFrame-shaped join + ONE .as[] at the boundary instead of the
    // former joinWith + map: two encoder-heavy nodes fewer in the tree
    // the lazy-checkpoint physical planning below has to analyze and
    // codegen (the localCheckpoint call plans the whole DML subtree —
    // measured ~0.3-0.5 s of driver time per row-level DML)
    val masked: Dataset[(FileEntry, DvDescriptor)] = listing
      .join(newDvs.toDF("__dvPath", "__dv"),
        col("path") === col("__dvPath"), "inner")
      .select(struct(listing.columns.map(col): _*).as("_1"),
        col("__dv").as("_2"))
      .as[(FileEntry, DvDescriptor)]
      // lazy pin: the cardinality aggregate below materializes it and
      // doubles as the emptiness probe (count==0) — two jobs saved per
      // row-level delete plan
      .localCheckpoint(eager = false)
    val agg = masked.toDF("fe", "dv")
      .agg(count(lit(1)),
        coalesce(sum(col("dv.cardinality")), lit(0L)),
        coalesce(sum(col("fe.deletionVector.cardinality")), lit(0L)))
      .head()
    if (agg.getLong(0) == 0L) return None
    Some(DeletePlan(snap, masked, agg.getLong(1) - agg.getLong(2)))
  }

  /** Implied legacy features when upgrading a pre-table-features protocol
    * (PROTOCOL.md §Table Features: upgrading MUST enumerate every feature
    * the old min versions implied, or readers would stop honoring them).
    */
  private def legacyReaderFeatures(minReader: Int): Seq[String] =
    if (minReader >= 2) Seq("columnMapping") else Nil

  private def legacyWriterFeatures(minWriter: Int): Seq[String] = {
    val ladder = Seq(
      2 -> Seq("appendOnly", "invariants"),
      3 -> Seq("checkConstraints"),
      4 -> Seq("generatedColumns", "changeDataFeed"),
      5 -> Seq("columnMapping"),
      6 -> Seq("identityColumns"))
    ladder.collect { case (v, fs) if minWriter >= v => fs }.flatten
  }

  /** The table's protocol upgraded to carry a READER-WRITER table
    * feature, merged with (never replacing) whatever protocol the log
    * already holds — the legacy min-version features are enumerated on
    * the way up (PROTOCOL.md §Table Features).
    */
  private[graft] def protocolWithFeature(
      protocol: Option[DeltaSnapshot.ProtocolInfo],
      feature: String): Map[String, Any] = {
    val existing =
      protocol.getOrElse(DeltaSnapshot.ProtocolInfo(1, 2, Nil, Nil))
    val onFeatures = existing.minReaderVersion >= 3
    val readerF =
      (if (onFeatures) existing.readerFeatures
       else legacyReaderFeatures(existing.minReaderVersion)) :+ feature
    val writerF =
      (if (existing.minWriterVersion >= 7) existing.writerFeatures
       else legacyWriterFeatures(existing.minWriterVersion)) :+ feature
    Map(
      "minReaderVersion" -> math.max(existing.minReaderVersion, 3),
      "minWriterVersion" -> math.max(existing.minWriterVersion, 7),
      "readerFeatures" -> readerF.distinct.sorted,
      "writerFeatures" -> writerF.distinct.sorted)
  }

  /** WRITER-ONLY feature raise (rowTracking, domainMetadata, …): the
    * writer side escalates to the features form, the reader side stays
    * exactly as it was — adding a writer-only name to readerFeatures
    * would make every real reader refuse the table for a feature that
    * demands nothing of reads.
    */
  private[graft] def protocolWithWriterFeatures(
      protocol: Option[DeltaSnapshot.ProtocolInfo],
      features: Seq[String]): Map[String, Any] = {
    val existing =
      protocol.getOrElse(DeltaSnapshot.ProtocolInfo(1, 2, Nil, Nil))
    val writerF =
      (if (existing.minWriterVersion >= 7) existing.writerFeatures
       else legacyWriterFeatures(existing.minWriterVersion)) ++ features
    Map(
      "minReaderVersion" -> existing.minReaderVersion,
      "minWriterVersion" -> math.max(existing.minWriterVersion, 7)) ++
      (if (existing.minReaderVersion >= 3 &&
          existing.readerFeatures.nonEmpty)
        Map("readerFeatures" -> existing.readerFeatures.distinct.sorted)
       else Map.empty) +
      ("writerFeatures" -> writerF.distinct.sorted)
  }

  /** Commits `plan` against `st`, the log state its snapshot was taken
    * at.
    */
  private[graft] def commit(spark: SparkSession, tablePath: String,
      plan: DeletePlan, st: DeltaSnapshot.DeltaLogState, operation: String,
      extraLines: Iterator[String],
      read: Option[DeltaConflicts.ReadFootprint] = None): Unit = {
    import spark.implicits._
    val tp = plan.snap.table.basePath
    val now = System.currentTimeMillis()
    val schemaJson = plan.snap.table.schema.json
    val versions =
      DeltaLog.listVersions(tablePath, HadoopConfs.session(spark))
        .filter(_ <= plan.snap.commitId.toLong)
    DeltaSnapshot.requireWritable(tablePath, st)
    val header = Iterator(
      // DVs require the table-features protocol with the reader feature
      // flagged (PROTOCOL.md §Deletion Vectors)
      Jsons.toJson(Map("protocol" ->
        protocolWithFeature(st.protocol, "deletionVectors"))),
      Jsons.toJson(Map("commitInfo" -> Map(
        "timestamp" -> now, "operation" -> operation,
        "operationParameters" -> Map.empty))))
    // add/remove per affected file, authored executor-side and STREAMED
    // to the commit writer — the driver holds one partition's lines max.
    // Row tracking: a DV re-add re-describes an UNMOVED file, so its
    // original baseRowId/defaultRowCommitVersion carry over verbatim
    // (left-joined from the live action state; O(touched files) rows)
    val rowTracking = DeltaRowTracking.isSupported(st)
    // DataFrame-shaped id attach (former joinWith + map): the masked pin
    // is already a LogicalRDD here, so this keeps the commit-side plan a
    // flat select instead of two encoder round-trips per branch
    val maskedDf = plan.masked.toDF("fe", "dv")
    val withIdsDf =
      if (!rowTracking)
        maskedDf.select(col("fe"), col("dv"),
          lit(null).cast("string").as("__rp"),
          lit(-1L).as("__rb"), lit(-1L).as("__rd"))
      else {
        val info = DeltaSnapshot.liveAdds(spark, tablePath, versions)
          .flatMap(a => a.baseRowId.map(b =>
            (a.path, b, a.defaultRowCommitVersion.getOrElse(-1L))))
          .toDF("__rp", "__rb", "__rd")
        maskedDf.join(info, col("fe.path") === col("__rp"), "left_outer")
          .select(col("fe"), col("dv"), col("__rp"),
            coalesce(col("__rb"), lit(-1L)).as("__rb"),
            coalesce(col("__rd"), lit(-1L)).as("__rd"))
      }
    val withIds: Dataset[(FileEntry, DvDescriptor, String, Long, Long)] =
      withIdsDf.as[(FileEntry, DvDescriptor, String, Long, Long)]
    val dvLines = withIds.mapPartitions { it =>
      val sch = DataType.fromJson(schemaJson).asInstanceOf[StructType]
      it.flatMap { case (fe, d, riPath, riBase, riDcv) =>
        val rel = PathUtils.toDeltaUri(PathUtils.relativize(tp, fe.path))
        val rtFields: Map[String, Any] =
          if (riPath == null) Map.empty
          else Map("baseRowId" -> riBase) ++
            (if (riDcv >= 0)
              Map("defaultRowCommitVersion" -> riDcv) else Map.empty)
        Iterator(
          Jsons.toJson(Map("add" -> (Map(
            "path" -> rel,
            "partitionValues" -> fe.partitionValues
              .map(p => p.field -> p.value).toMap,
            "size" -> fe.fileSizeBytes,
            "modificationTime" -> fe.lastModifiedMillis,
            "dataChange" -> true,
            "stats" -> DeltaStats.toJson(sch, fe.recordCount, fe.columnStats),
            "deletionVector" -> Map(
              "storageType" -> d.storageType,
              "pathOrInlineDv" -> d.pathOrInlineDv,
              "offset" -> d.offset,
              "sizeInBytes" -> d.sizeInBytes,
              "cardinality" -> d.cardinality)) ++ rtFields))),
          Jsons.toJson(Map("remove" -> Map(
            "path" -> rel,
            "deletionTimestamp" -> now,
            "dataChange" -> true))))
      }
    }
    val dvIt = graft.util.StreamedLines.iterate(dvLines)

    // CAS against the version observed at PLANNING time; a commit that
    // landed since triggers the ConflictChecker-style retry — disjoint
    // intervening commits re-land automatically, true conflicts (shared
    // files, metadata/protocol change) still fail loudly. Row-tracking
    // tables CAS strictly: a re-land could double-assign id ranges a
    // concurrent id-assigning commit took.
    val version = plan.snap.commitId.toLong + 1
    if (rowTracking) {
      if (!DeltaLog.writeCommit(tablePath, version,
          header ++ dvIt ++ extraLines))
        throw new IllegalStateException(
          s"concurrent writer took Delta version $version at $tablePath " +
            "— re-run the operation against the new head")
    } else
      DeltaConflicts.commitWithRetry(spark, tablePath, version,
        header ++ dvIt ++ extraLines, read)
  }
}

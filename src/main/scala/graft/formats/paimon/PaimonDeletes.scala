package graft.formats.paimon

import java.util.UUID

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.FilesDelta
import graft.spi.SyncMetadata
import graft.util.PathUtils

/** Row-level DELETE on a Paimon table — **beyond the reference** (Paimon
  * is source-only there), completing the row-level matrix across all
  * four formats. Paimon's copy-on-write shape: the files holding
  * matching rows are REWRITTEN without them, and one snapshot commits
  * the swap as delta-manifest DELETE(victims) + ADD(replacements) —
  * the same whole-file semantics its change feed replays.
  *
  * Scale shape: victims come from a keyed scan filtered to matching
  * rows (one distributed semi-join on `__scan_path`), survivors write
  * as one distributed parquet job routed by the table's partition
  * columns, and the commit goes through the Paimon target's streamed
  * manifest authoring — no row set or file list ever sits on the
  * driver.
  */
object PaimonDeletes {

  /** Delete every row matching `predicate`; returns the deleted count. */
  def deleteWhere(spark: SparkSession, tablePath: String,
      predicate: Column): Long =
    rewriteMatching(spark, tablePath, predicate, None)

  /** Row-level UPDATE — the same copy-on-write file swap, with the
    * matching rows rewritten under `assignments` instead of dropped.
    * Returns the updated count.
    */
  def updateWhere(spark: SparkSession, tablePath: String,
      predicate: Column, assignments: Map[String, Column]): Long = {
    require(assignments.nonEmpty, "updateWhere needs >= 1 assignment")
    rewriteMatching(spark, tablePath, predicate, Some(assignments))
  }

  /** MERGE INTO by key: matched target rows take the source row's
    * values (whole-row update), unmatched source rows insert — the
    * upsert contract of Delta/Iceberg `mergeInto` here. Same
    * copy-on-write shape as delete/update: only files holding matched
    * keys rewrite (their unmatched rows carried over), the source rows
    * land with them in one distributed write, and one snapshot commits
    * the swap CAS'd against the planning snapshot. Returns
    * (matchedRows, insertedRows).
    */
  def mergeInto(spark: SparkSession, tablePath: String,
      source: org.apache.spark.sql.DataFrame,
      keyCols: Seq[String]): (Long, Long) = {
    import spark.implicits._
    require(keyCols.nonEmpty, "mergeInto needs >= 1 key column")
    val src = new PaimonConversionSource(spark, tablePath,
      PathUtils.canonical(tablePath).stripSuffix("/").split('/').last)
    val table = src.currentTable()
    table.partitionFields.foreach(p => require(
      p.transform == graft.model.Transform.Value,
      s"paimon mergeInto supports value-partitioned tables; " +
        s"${p.partitionColumnName} uses ${p.transform}"))
    val schema = table.schema
    val missing = schema.fieldNames.toSet -- source.columns.toSet
    require(missing.isEmpty, s"source lacks table columns: $missing")
    require(keyCols.forall(schema.fieldNames.contains),
      s"key columns must exist in the table schema: $keyCols")
    val snap = src.currentSnapshot()
    val keyed = graft.formats.delta.DeltaRead.toKeyedDataFrame(spark, snap)
      .persist()
    val srcProj = source.select(schema.fieldNames.toSeq.map(col): _*)
      .persist()
    try {
      // one grouped aggregate answers count + duplicate-key refusal
      val srcCount = graft.util.MergeChecks.countNoDupKeys(srcProj, keyCols)
      if (srcCount == 0L) return (0L, 0L)
      val srcKeys = srcProj.select(keyCols.map(col): _*)
      val matchedRows = keyed.join(srcKeys, keyCols, "left_semi")
      val matched = matchedRows.count()
      val victims = matchedRows.select(col("__scan_path")).distinct()
      val carried = keyed.join(victims, Seq("__scan_path"), "left_semi")
        .join(srcKeys, keyCols, "left_anti")
        .select(schema.fieldNames.toSeq.map(col): _*)
      val outRows = carried.unionByName(srcProj)

      val outDir = s"${PathUtils.canonical(tablePath)}/data" +
        s"/merge-${UUID.randomUUID()}"
      val partCols = table.partitionFields.map(_.partitionColumnName)
      if (partCols.isEmpty) outRows.write.parquet(outDir)
      else outRows.write.partitionBy(partCols: _*).parquet(outDir)

      val conf = graft.util.HadoopConfs.session(spark)
      val added = graft.sources.ParquetFooters.fileEntries(spark, outDir,
        graft.sources.ParquetFooters.listFiles(outDir, conf))
      val listing = snap.listing.dataset
      val removed = listing
        .join(victims, listing("path") === victims("__scan_path"),
          "left_semi")
        .as[graft.model.FileEntry]

      val tgt = new PaimonConversionTarget(spark, tablePath)
      tgt.beginSync(table)
      tgt.expectBaseSnapshot(snap.commitId.toLong)
      tgt.syncMetadata(SyncMetadata(snap.commitId, Nil,
        graft.model.TableFormats.Paimon, table.basePath))
      tgt.syncSchema(table.schema)
      tgt.syncPartitionSpec(table.partitionFields)
      tgt.syncFilesForDiff(FilesDelta(added, removed))
      tgt.completeSync()
      (matched, srcCount - matched)
    } finally {
      keyed.unpersist(); srcProj.unpersist()
    }
  }

  private def rewriteMatching(spark: SparkSession, tablePath: String,
      predicate: Column,
      assignments: Option[Map[String, Column]]): Long = {
    import spark.implicits._
    val src = new PaimonConversionSource(spark, tablePath,
      PathUtils.canonical(tablePath).stripSuffix("/").split('/').last)
    val table = src.currentTable()
    table.partitionFields.foreach(p => require(
      p.transform == graft.model.Transform.Value,
      s"paimon deleteWhere supports value-partitioned tables; " +
        s"${p.partitionColumnName} uses ${p.transform}"))
    val snap = src.currentSnapshot()
    val keyed = graft.formats.delta.DeltaRead.toKeyedDataFrame(spark, snap)
      .persist()
    try {
      val victims = keyed.filter(predicate)
        .select(col("__scan_path")).distinct()
      val deleted = keyed.filter(predicate).count()
      if (deleted == 0L) return 0L

      assignments.foreach { as =>
        val unknown = as.keySet -- table.schema.fieldNames.toSet
        require(unknown.isEmpty, s"unknown update columns: $unknown")
      }
      // rewrite rows of the victim files only — untouched files stay
      // as-is; deletes drop the matches, updates transform them in place
      val victimRows = keyed.join(victims, Seq("__scan_path"), "left_semi")
      val matchedCond = coalesce(predicate, lit(false))
      val survivors = assignments match {
        case None => victimRows.filter(!matchedCond)
          .select(table.schema.fieldNames.toSeq.map(col): _*)
        case Some(as) => victimRows.select(
          table.schema.fieldNames.toSeq.map { f =>
            as.get(f)
              .map(a => when(matchedCond, a).otherwise(col(f)).as(f))
              .getOrElse(col(f))
          }: _*)
      }
      val outDir = s"${PathUtils.canonical(tablePath)}/data" +
        s"/delete-${UUID.randomUUID()}"
      val partCols = table.partitionFields.map(_.partitionColumnName)
      if (partCols.isEmpty) survivors.write.parquet(outDir)
      else survivors.write.partitionBy(partCols: _*).parquet(outDir)

      val conf = graft.util.HadoopConfs.session(spark)
      val added = graft.sources.ParquetFooters.fileEntries(spark, outDir,
        graft.sources.ParquetFooters.listFiles(outDir, conf))
      val listing = snap.listing.dataset
      val removed = listing
        .join(victims, listing("path") === victims("__scan_path"),
          "left_semi")
        .as[graft.model.FileEntry]

      val tgt = new PaimonConversionTarget(spark, tablePath)
      tgt.beginSync(table)
      // CAS against the PLANNING snapshot: victims were scanned at
      // `snap`; a commit landing before ours must fail the swap loudly
      // (never silently rebase — a concurrent rewrite of a victim file
      // would resurrect deleted rows), mirroring the Delta/Iceberg paths
      tgt.expectBaseSnapshot(snap.commitId.toLong)
      tgt.syncMetadata(SyncMetadata(snap.commitId, Nil,
        graft.model.TableFormats.Paimon, table.basePath))
      tgt.syncSchema(table.schema)
      tgt.syncPartitionSpec(table.partitionFields)
      tgt.syncFilesForDiff(FilesDelta(added, removed))
      tgt.completeSync()
      deleted
    } finally keyed.unpersist()
  }
}

package graft.formats.paimon

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.FileEntry
import graft.plans.Placement.Placed
import graft.util.PathUtils

/** Row-level change feed over a Paimon table — the Paimon twin of
  * [[graft.formats.delta.DeltaChanges]] /
  * [[graft.formats.iceberg.IcebergChanges]] (beyond the reference,
  * which reads Paimon as a sync source only). Paimon's per-snapshot
  * DELTA manifest lists record exactly the commit's ADD/DELETE file
  * entries, so each step's diff needs no two-sided listing join: rows
  * of added files feed as `insert`, rows of deleted files as `delete`,
  * and an update surfaces as its delete+insert pair — the
  * reconstruction contract shared by all three feeds. Each step reads
  * ONLY the files the commit touched.
  */
object PaimonChanges {

  /** Changes committed by snapshots in `(fromId, toId]`, tagged
    * `_change_type` and `_commit_version`.
    */
  def changesBetween(spark: SparkSession, tablePath: String,
      fromId: Long, toId: Long): DataFrame = {
    require(fromId >= 0 && fromId < toId,
      s"need 0 <= fromId < toId, got $fromId..$toId")
    val ids = PaimonFormat.listSnapshotIds(tablePath)
      .filter(id => id > fromId && id <= toId).sorted
    require(ids.nonEmpty,
      s"no Paimon snapshots in ($fromId, $toId] at $tablePath")
    val src = new PaimonConversionSource(spark, tablePath,
      PathUtils.canonical(tablePath).stripSuffix("/").split('/').last)
    val table = src.currentTable()
    val cols = table.schema.fieldNames.toSeq.map(col)
    val parts = ids.map { id =>
      val change = src.changeForCommit(id.toString)
      def readTagged(files: Placed[FileEntry], tag: String): DataFrame =
        graft.formats.delta.DeltaRead.toDataFrame(spark,
          graft.plans.SnapshotFileIndex.snapshot(spark, table, id.toString,
            files))
          .select(cols :+ lit(tag).as("_change_type"): _*)
      readTagged(change.diff.added, "insert")
        .unionByName(readTagged(change.diff.removed, "delete"))
        .withColumn("_commit_version", lit(id))
    }
    parts.reduce(_ unionByName _)
  }
}

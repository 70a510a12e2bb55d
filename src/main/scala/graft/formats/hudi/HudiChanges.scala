package graft.formats.hudi

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{FileEntry, PartitionMember}
import graft.util.PathUtils

/** Hudi incremental query (read-optimized): the rows ADDED in the
  * instant range `(from, to]`, served at file-group granularity — the
  * files written by in-range commits that are still live at `to`
  * (file groups replaced later in the range never surface, matching how
  * a read-optimized view at `to` would serve them). Each row carries
  * `_commit_instant`, the instant that wrote its file.
  *
  * MOR deltacommits (log-file writes) in the range are ROW-level changes
  * a read-optimized incremental cannot represent — they refuse loudly,
  * exactly like the real-time-view refusal: silently dropping them would
  * under-report the feed.
  */
object HudiChanges {

  def incrementalRead(spark: SparkSession, tablePath: String,
      fromInstant: String, toInstant: String): DataFrame = {
    import spark.implicits._
    val src = new HudiConversionSource(spark, tablePath,
      HudiTimeline.tableName(tablePath).getOrElse("table"))
    // refuse only LIVE (unabsorbed) log files written in the range: a
    // later in-range compaction absorbs them into a base file the feed
    // serves; anything still pending is a row-level change a
    // read-optimized incremental cannot represent
    val liveLogs = src.liveLogFiles(toInstant)
      .collect { case (_, _, instant)
        if instant > fromInstant && instant <= toInstant => instant }
      .distinct
    require(liveLogs.isEmpty,
      s"incremental range ($fromInstant, $toInstant] contains MOR " +
        s"deltacommit(s) ${liveLogs.mkString(", ")} with unabsorbed log " +
        "files whose row-level changes a read-optimized incremental " +
        "cannot serve — compact first, or consume through the sync diff " +
        "path")

    val table = src.currentTable()
    val added = src.liveStats(toInstant)
      .filter { case (_, _, instant) => instant > fromInstant }
    val perInstant = added.groupBy(_._3).toSeq.sortBy(_._1).map {
      case (instant, group) =>
        val entries = group.map { case (part, s, _) =>
          val pv =
            if (part.isEmpty) Nil
            else part.split('/').toSeq.map { seg =>
              val i = seg.indexOf('=')
              PartitionMember(seg.substring(0, i), seg.substring(i + 1))
            }
          FileEntry(PathUtils.resolve(tablePath, s.path),
            s.fileSizeInBytes, s.numWrites, "parquet", pv, Nil,
            HudiTimeline.instantMillis(instant))
        }
        graft.formats.delta.DeltaRead.toDataFrame(spark,
          graft.plans.SnapshotFileIndex.snapshot(spark, table, instant,
            Left(entries.toIndexedSeq)))
          .withColumn("_commit_instant", lit(instant))
    }
    perInstant.reduceOption(_ unionByName _).getOrElse {
      spark.createDataFrame(spark.sparkContext.emptyRDD[
          org.apache.spark.sql.Row],
        table.schema.add("_commit_instant",
          org.apache.spark.sql.types.StringType))
    }
  }
}

package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.formats.delta._

/** Delta row tracking write parity (PROTOCOL.md §Row Tracking): fresh
  * baseRowId assignment, the delta.rowTracking high-water-mark domain
  * action, id preservation through DV deletes / UPDATE / MERGE /
  * OPTIMIZE via the materialized row-id column, lineage served through
  * `withRowLineage`, and survival through checkpoints.
  */
class DeltaRowTrackingSpec extends SparkSuite {

  import spark.implicits._

  private def mkTable(prefix: String, n: Int = 40): String = {
    val dir = tmpDir(prefix)
    DeltaWrite.write(spark, dir,
      (0 until n).map(i => (i.toLong, s"v$i")).toDF("k", "v")
        .repartition(4), overwrite = false)
    dir
  }

  private def lineage(dir: String): Map[Long, (Long, Long)] =
    spark.read.format("graft").option("withRowLineage", "true").load(dir)
      .select(col("k"), col("_row_id"), col("_row_commit_version"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap

  private def versionsOf(dir: String): Seq[Long] =
    DeltaLog.listVersions(dir, graft.util.HadoopConfs.session(spark))

  test("enable backfills every live file; appends draw fresh ids; the " +
    "high-water mark advances in the same commits") {
    val dir = mkTable("rt_enable")
    DeltaRowTracking.enable(spark, dir)

    // protocol: writer-only features — the reader side must NOT gain
    // rowTracking (real readers would refuse a feature that demands
    // nothing of reads)
    val p = DeltaSnapshot.protocolInfo(spark, dir, versionsOf(dir)).get
    assert(p.writerFeatures.contains("rowTracking") &&
      p.writerFeatures.contains("domainMetadata"), p.toString)
    assert(!p.readerFeatures.contains("rowTracking"), p.toString)
    assert(p.minWriterVersion == 7)

    // backfill: 40 rows → ids exactly 0..39, hwm 39
    val l1 = lineage(dir)
    assert(l1.size == 40)
    assert(l1.values.map(_._1).toSeq.sorted == (0L until 40L), l1.toString)
    assert(DeltaRowTracking.highWaterMark(
      DeltaSnapshot.state(spark, dir, versionsOf(dir))) == 39L)
    // idempotent
    DeltaRowTracking.enable(spark, dir)
    assert(DeltaRowTracking.highWaterMark(
      DeltaSnapshot.state(spark, dir, versionsOf(dir))) == 39L)

    // a fresh append draws ids past the mark — in the append commit
    DeltaWrite.write(spark, dir,
      Seq((100L, "x"), (101L, "y")).toDF("k", "v"), overwrite = false)
    val l2 = lineage(dir)
    assert(l2.size == 42)
    assert(l2.values.map(_._1).toSeq.distinct.size == 42, "ids must be unique")
    assert(l2(100L)._1 >= 40L && l2(101L)._1 >= 40L)
    assert(DeltaRowTracking.highWaterMark(
      DeltaSnapshot.state(spark, dir, versionsOf(dir))) == 41L)
    // existing rows kept their ids
    assert(l2.filter(_._1 < 40L) == l1)
  }

  test("DV delete keeps surviving ids; UPDATE preserves the updated " +
    "row's id and bumps only its commit version") {
    val dir = mkTable("rt_dml")
    DeltaRowTracking.enable(spark, dir)
    val before = lineage(dir)

    assert(DeltaDeletes.deleteWhere(spark, dir, col("k") % 10 === 3) == 4L)
    val afterDel = lineage(dir)
    assert(afterDel.size == 36)
    // a DV masks rows in place: every surviving row's (id, version) is
    // bit-identical — the re-added file kept its baseRowId
    assert(afterDel == before.filter { case (k, _) => k % 10 != 3 })

    val updated = DeltaDeletes.updateWhere(spark, dir,
      col("k") === 8L, Map("v" -> lit("updated")))
    assert(updated == 1L)
    val afterUpd = lineage(dir)
    assert(afterUpd.size == 36)
    // the updated row KEEPS its id (materialized into the replacement
    // file) and carries the new commit version; everything else is
    // untouched
    assert(afterUpd(8L)._1 == before(8L)._1)
    assert(afterUpd(8L)._2 > before(8L)._2)
    assert(afterUpd - 8L == afterDel - 8L)
    // data correctness via the DV-masking DataFrame path (format("graft")
    // 1:1 relations refuse DV tables by design)
    assert(new DeltaConversionSource(spark, dir, "t").toDataFrame
      .filter(col("v") === "updated").count() == 1L)
  }

  test("MERGE preserves matched ids, inserts draw fresh; OPTIMIZE " +
    "preserves both id and commit version across the rewrite") {
    val dir = mkTable("rt_merge")
    DeltaRowTracking.enable(spark, dir)
    val before = lineage(dir)

    val (m, i) = DeltaDeletes.mergeInto(spark, dir,
      Seq((5L, "merged"), (200L, "fresh")).toDF("k", "v"), Seq("k"))
    assert(m == 1L && i == 1L)
    val afterMerge = lineage(dir)
    assert(afterMerge.size == 41)
    assert(afterMerge(5L)._1 == before(5L)._1, "matched row must keep its id")
    assert(afterMerge(200L)._1 > before.values.map(_._1).max,
      "insert must draw a fresh id")
    assert(afterMerge.values.map(_._1).toSeq.distinct.size == 41)

    // OPTIMIZE: bytes move, rows don't — (id, commit version) invariant
    val res = DeltaOptimize.compact(spark, dir,
      targetFileBytes = 1L << 30, minFileBytes = 1L << 20)
    assert(res.rewrote > 0, res.toString)
    val afterOpt = lineage(dir)
    assert(afterOpt == afterMerge,
      "OPTIMIZE must preserve every row's id AND commit version")
  }

  test("stream sink batches on a rowTracking table draw fresh ids") {
    val dir = mkTable("rt_sink")
    DeltaRowTracking.enable(spark, dir)
    assert(DeltaStreamSink.appendBatch(spark, dir,
      Seq((200L, "s0"), (201L, "s1")).toDF("k", "v"), "app", 0L))
    assert(DeltaStreamSink.appendBatch(spark, dir,
      Seq((202L, "s2")).toDF("k", "v"), "app", 1L))
    val l = lineage(dir)
    assert(l.size == 43)
    assert(l.values.map(_._1).toSeq.distinct.size == 43, "ids must be unique")
    assert(DeltaRowTracking.highWaterMark(
      DeltaSnapshot.state(spark, dir, versionsOf(dir))) == 42L)
    // a replayed batch is still skipped
    assert(!DeltaStreamSink.appendBatch(spark, dir,
      Seq((202L, "s2")).toDF("k", "v"), "app", 1L))
  }

  test("ids, versions and the high-water mark survive checkpoints") {
    val dir = mkTable("rt_ckpt", n = 12)
    DeltaRowTracking.enable(spark, dir)
    DeltaDeletes.updateWhere(spark, dir, col("k") === 2L,
      Map("v" -> lit("u")))
    val before = lineage(dir)
    val versions = versionsOf(dir)
    val meta = DeltaSnapshot.metadata(spark, dir, versions).get
    DeltaSnapshot.writeCheckpoint(spark, dir, versions.last, meta.schema)
    // replay THROUGH the checkpoint: domain metadata and add-level ids
    // must be carried. hwm: 0..11 backfilled + 1 fresh base for the
    // update's replacement file (its materialized id preserves the row)
    assert(DeltaRowTracking.highWaterMark(
      DeltaSnapshot.state(spark, dir, versions)) == 12L)
    val fromCkpt = DeltaSnapshot.liveAdds(spark, dir, versions).collect()
    assert(fromCkpt.forall(_.baseRowId.isDefined),
      fromCkpt.map(a => a.path -> a.baseRowId).mkString(","))
    assert(lineage(dir) == before)
    // and the next append continues numbering past the checkpointed mark
    DeltaWrite.write(spark, dir, Seq((300L, "z")).toDF("k", "v"),
      overwrite = false)
    val after = lineage(dir)
    assert(after(300L)._1 == 13L, after(300L).toString)
  }

  test("withRowLineage refuses tables without the feature; plain reads " +
    "never see the materialized columns") {
    val dir = mkTable("rt_refuse", n = 5)
    val e = intercept[Exception] {
      lineage(dir)
    }
    assert(e.getMessage.contains("rowTracking"), e.getMessage)
    DeltaRowTracking.enable(spark, dir)
    DeltaDeletes.updateWhere(spark, dir, col("k") === 1L,
      Map("v" -> lit("u")))
    // the materialized physical column stays OUT of the logical surface
    val viaSrc = new DeltaConversionSource(spark, dir, "t").toDataFrame
    assert(viaSrc.columns.toSeq == Seq("k", "v"))
    assert(viaSrc.count() == 5)
    assert(viaSrc.filter(col("v") === "u").count() == 1)
  }
}

package graft

import org.apache.spark.sql.functions._

import graft.formats.delta._
import graft.formats.iceberg.IcebergConversionTarget
import graft.sources.ParquetDirectorySource
import graft.sync.{ConversionController, TableFormatSync}

/** A deleteWhere commit replaces a data file's add with an add-with-DV of
  * the SAME path. The incremental diff must surface that as a file-level
  * change — reconciling it to an empty diff lets a target advance its
  * sync point while still serving the deleted rows (silent phantom rows,
  * the exact wrong-answer class RFC-2 calls out in the reference).
  */
class DvIncrementalSyncSpec extends SparkSuite {

  test("incremental sync of a DV commit must not silently advance past it") {
    val dataDir = tmpDir("dvinc_data")
    spark.read.parquet(sf("sf0.001") + "/nation.parquet")
      .repartition(2).write.mode("overwrite").parquet(dataDir)
    val table = tmpDir("dvinc_delta")
    val src0 = new ParquetDirectorySource(spark, dataDir, "nation")
    val out = TableFormatSync.syncSnapshot(
      Seq(new DeltaConversionTarget(spark, table)),
      src0.currentSnapshot(), src0.sourceFormat)
    assert(out.forall(_.status == "SUCCESS"))

    val ice = tmpDir("dvinc_ice")
    val dsrc = new DeltaConversionSource(spark, table, "nation")
    val controller = new ConversionController
    val r1 = controller.sync(dsrc, Seq(new IcebergConversionTarget(spark, ice)))
    assert(r1.forall(_.status == "SUCCESS"), r1.mkString(";"))

    val n = DeltaDeletes.deleteWhere(spark, table, col("n_regionkey") === 1)
    assert(n > 0)

    // the DV commit's diff names the rewritten file on BOTH sides (same
    // path: the add carries the DV, the remove retires the DV-less entry)
    val change = dsrc.changeForCommit("1")
    val addPaths = placedRows(change.diff.added).map(_.path).toSeq.sorted
    val removePaths = placedRows(change.diff.removed).map(_.path).toSeq.sorted
    assert(addPaths.nonEmpty && addPaths == removePaths,
      s"adds=$addPaths removes=$removePaths")
    assert(placedRows(change.diff.added).forall(_.deletionVector.isDefined))

    // incremental sync must NOT advance the target past the DV commit
    // while its rows still include the deleted ones: until position-delete
    // conversion lands, that means a loud refusal
    val err = intercept[Exception] {
      controller.sync(dsrc, Seq(new IcebergConversionTarget(spark, ice)))
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(err).exists(
      _.isInstanceOf[graft.model.DeletionVectorsUnsupported]),
      s"expected a DV refusal, got: $err")
    // the target's synced rows are stale-but-honest: still at commit 0
    val iceRows = new graft.formats.iceberg.IcebergConversionSource(
      spark, ice, "nation").toDataFrame.count()
    assert(iceRows == spark.read.parquet(sf("sf0.001") + "/nation.parquet")
      .count())
  }
}

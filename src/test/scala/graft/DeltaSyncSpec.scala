package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._

import graft.formats.delta._
import graft.model._
import graft.sources.ParquetDirectorySource
import graft.spi.SyncMode
import graft.sync.{ConversionController, TableFormatSync}

class DeltaSyncSpec extends SparkSuite {

  private def syncFull(srcPath: String, name: String, targetDir: String) = {
    val src = new ParquetDirectorySource(spark, srcPath, name)
    val tgt = new DeltaConversionTarget(spark, targetDir)
    val outcomes = TableFormatSync.syncSnapshot(
      Seq(tgt), src.currentSnapshot(), src.sourceFormat)
    assert(outcomes.forall(_.status == "SUCCESS"), outcomes.mkString(";"))
    tgt
  }

  test("full snapshot sync parquet->delta round-trips rows") {
    val target = tmpDir("delta_li")
    syncFull(sf("sf0.001/lineitem.parquet"), "lineitem", target)
    val back = new DeltaConversionSource(spark, target, "lineitem").toDataFrame
    val direct = spark.read.parquet(sf("sf0.001/lineitem.parquet"))
    assert(back.count() == direct.count())
    val a = back.agg(sum(col("l_quantity").cast("decimal(25,6)"))).head.getDecimal(0)
    val b = direct.agg(sum(col("l_quantity").cast("decimal(25,6)"))).head.getDecimal(0)
    assert(a == b)
  }

  test("re-running full sync is a no-op on the live set") {
    val target = tmpDir("delta_idem")
    syncFull(sf("sf0.001/nation.parquet"), "nation", target)
    val v0Files = new DeltaConversionSource(spark, target, "nation")
      .currentSnapshot().files.collect().map(_.path).sorted.toSeq
    syncFull(sf("sf0.001/nation.parquet"), "nation", target)
    val src2 = new DeltaConversionSource(spark, target, "nation")
    val v1Files = src2.currentSnapshot().files.collect().map(_.path).sorted.toSeq
    assert(v0Files == v1Files)
    // second commit exists but adds/removes nothing
    val change = src2.changeForCommit("1")
    assert(placedRows(change.diff.added).isEmpty &&
      placedRows(change.diff.removed).isEmpty)
  }

  test("footer stats survive the delta stats JSON round trip") {
    val target = tmpDir("delta_stats")
    syncFull(sf("sf0.001/orders.parquet"), "orders", target)
    val snap = new DeltaConversionSource(spark, target, "orders").currentSnapshot()
    val fromDelta = snap.files.collect().flatMap(_.columnStats)
      .filter(_.field == "o_totalprice")
    assert(fromDelta.nonEmpty)
    val srcStats = new ParquetDirectorySource(
      spark, sf("sf0.001/orders.parquet"), "orders")
      .currentSnapshot().files.collect().flatMap(_.columnStats)
      .filter(_.field == "o_totalprice")
    assert(fromDelta.flatMap(_.min).map(_.toDouble).min ==
      srcStats.flatMap(_.min).map(_.toDouble).min)
    assert(fromDelta.flatMap(_.max).map(_.toDouble).max ==
      srcStats.flatMap(_.max).map(_.toDouble).max)
  }

  test("incremental sync applies only new commits") {
    val dataDir = tmpDir("inc_data")
    val target = tmpDir("inc_delta")
    val srcFile = Paths.get(sf("sf0.001/nation.parquet"))
    Files.copy(srcFile, Paths.get(dataDir, "f1.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    Paths.get(dataDir, "f1.parquet").toFile.setLastModified(1000000L)

    val controller = new ConversionController
    def src = new ParquetDirectorySource(spark, dataDir, "nation")
    def tgt = new DeltaConversionTarget(spark, target)

    val r1 = controller.sync(src, Seq(tgt))       // no metadata yet → full
    assert(r1.head.status == "SUCCESS" && r1.head.mode == SyncMode.Full)

    Files.copy(srcFile, Paths.get(dataDir, "f2.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    Paths.get(dataDir, "f2.parquet").toFile.setLastModified(2000000L)

    val r2 = controller.sync(src, Seq(tgt))       // has metadata → incremental
    assert(r2.head.status == "SUCCESS", r2.mkString(";"))
    assert(r2.head.mode == SyncMode.Incremental)

    val back = new DeltaConversionSource(spark, target, "nation")
    val live = back.currentSnapshot().files.collect()
    assert(live.length == 2, live.map(_.path).mkString(","))
    assert(back.toDataFrame.count() ==
      2 * spark.read.parquet(srcFile.toString).count())

    // third run: nothing new → no-op, still incremental, live set unchanged
    val r3 = controller.sync(src, Seq(tgt))
    assert(r3.head.status == "SUCCESS")
    assert(new DeltaConversionSource(spark, target, "nation")
      .currentSnapshot().files.count() == 2)
  }

  test("a resync never downgrades an upgraded protocol") {
    val srcDir = tmpDir("proto_src")
    spark.read.parquet(sf("sf0.001/nation.parquet")).coalesce(1)
      .write.mode("overwrite").parquet(srcDir)
    val target = tmpDir("proto_delta")
    syncFull(srcDir, "nation", target)
    // ADD CONSTRAINT raises the writer version (3, or feature-listed 7)
    DeltaConstraints.addCheck(spark, target, "pos_key",
      "n_nationkey >= 0")
    val conf = graft.util.HadoopConfs.session(spark)
    def proto() = DeltaSnapshot.protocolInfo(spark, target,
      DeltaLog.listVersions(target, conf)).get
    val raised = proto()
    assert(raised.minWriterVersion >= 3, raised.toString)
    // new source file → resync writes another commit; the protocol line
    // it carries must restate the raise, not the (1,2) creation floor
    spark.read.parquet(sf("sf0.001/region.parquet"))
      .select((col("r_regionkey") + 100).cast("int").as("n_nationkey"),
        col("r_name").as("n_name"), lit(0).cast("int").as("n_regionkey"))
      .coalesce(1).write.mode("append").parquet(srcDir)
    syncFull(srcDir, "nation", target)
    val after = proto()
    assert(after.minWriterVersion == raised.minWriterVersion &&
      after.writerFeatures == raised.writerFeatures,
      s"resync downgraded $raised to $after")
    // and the constraint still enforces on writes
    intercept[Exception] {
      DeltaWrite.write(spark, target,
        spark.read.parquet(srcDir).limit(1)
          .withColumn("n_nationkey", lit(-5L)), overwrite = false)
    }
  }
}

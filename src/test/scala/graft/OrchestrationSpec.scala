package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.formats.delta._
import graft.formats.hudi._
import graft.formats.iceberg._
import graft.sources.ParquetDirectorySource
import graft.sync._

class OrchestrationSpec extends SparkSuite {

  test("multi-target fan-out syncs delta+iceberg+hudi from one source") {
    val d = tmpDir("fan_delta"); val i = tmpDir("fan_ice"); val h = tmpDir("fan_hudi")
    val src = new ParquetDirectorySource(spark,
      sf("sf0.001/customer.parquet"), "customer")
    val outcomes = new ConversionController().sync(src, Seq(
      new DeltaConversionTarget(spark, d),
      new IcebergConversionTarget(spark, i),
      new HudiConversionTarget(spark, h)))
    assert(outcomes.size == 3 && outcomes.forall(_.status == "SUCCESS"),
      outcomes.mkString(";"))
    val n = spark.read.parquet(sf("sf0.001/customer.parquet")).count()
    assert(new DeltaConversionSource(spark, d, "customer").toDataFrame.count() == n)
    assert(new IcebergConversionSource(spark, i, "customer").toDataFrame.count() == n)
    assert(new HudiConversionSource(spark, h, "customer").toDataFrame.count() == n)
  }

  test("targets at the same instant share one incremental-safety check " +
    "per sync") {
    val data = tmpDir("safe_data")
    val srcFile = Paths.get(sf("sf0.001/nation.parquet"))
    Files.copy(srcFile, Paths.get(data, "f1.parquet"))
    Paths.get(data, "f1.parquet").toFile.setLastModified(1000000L)
    val i = tmpDir("safe_ice"); val h = tmpDir("safe_hudi")
    val targets = Seq(new IcebergConversionTarget(spark, i),
      new HudiConversionTarget(spark, h))
    val src = new ParquetDirectorySource(spark, data, "nation")
    val asked = new java.util.concurrent.atomic.AtomicInteger
    val counting = new graft.spi.ConversionSource {
      def sourceFormat: String = src.sourceFormat
      def currentTable() = src.currentTable()
      def currentSnapshot() = src.currentSnapshot()
      def changeForCommit(commit: String) = src.changeForCommit(commit)
      def commitsBacklog(lastSynced: String) = src.commitsBacklog(lastSynced)
      def isIncrementalSyncSafeFrom(commit: String): Boolean = {
        asked.incrementAndGet(); src.isIncrementalSyncSafeFrom(commit)
      }
    }
    val controller = new ConversionController
    val full = controller.sync(counting, targets)
    assert(full.forall(o => o.status == "SUCCESS" &&
      o.mode == graft.spi.SyncMode.Full), full.mkString(";"))
    Files.copy(srcFile, Paths.get(data, "f2.parquet"))
    Paths.get(data, "f2.parquet").toFile.setLastModified(2000000L)
    asked.set(0)
    val inc = controller.sync(counting, targets)
    assert(inc.forall(o => o.status == "SUCCESS" &&
      o.mode == graft.spi.SyncMode.Incremental), inc.mkString(";"))
    assert(asked.get == 1)
  }

  test("schema evolution: column added at source appears in target, old files read null") {
    import spark.implicits._
    val dataDir = tmpDir("evo_data")
    val target = tmpDir("evo_delta")
    Seq((1L, "a"), (2L, "b")).toDF("id", "name")
      .coalesce(1).write.mode("append").parquet(dataDir)
    val controller = new ConversionController
    def src = new ParquetDirectorySource(spark, dataDir, "evo")
    assert(controller.sync(src, Seq(new DeltaConversionTarget(spark, target)))
      .forall(_.status == "SUCCESS"))

    Thread.sleep(1100)  // distinct mtime commit
    Seq((3L, "c", 30.0)).toDF("id", "name", "score")
      .coalesce(1).write.mode("append").parquet(dataDir)
    val r2 = controller.sync(src, Seq(new DeltaConversionTarget(spark, target)))
    assert(r2.forall(_.status == "SUCCESS"), r2.mkString(";"))

    val back = new DeltaConversionSource(spark, target, "evo").toDataFrame
    assert(back.columns.contains("score"))
    assert(back.count() == 3)
    assert(back.filter(col("score").isNull).count() == 2)
    assert(back.agg(sum("score")).head.getDouble(0) == 30.0)
  }

  test("continuous sync picks up new files within ticks") {
    val dataDir = tmpDir("cont_data")
    val target = tmpDir("cont_delta")
    Files.copy(Paths.get(sf("sf0.001/region.parquet")),
      Paths.get(dataDir, "f1.parquet"))
    Paths.get(dataDir, "f1.parquet").toFile.setLastModified(1000000L)
    val src = new ParquetDirectorySource(spark, dataDir, "region")
    val cs = new ContinuousSync(src,
      Seq(new DeltaConversionTarget(spark, target)), intervalMillis = 300).start()
    try {
      assert(cs.awaitTicks(1), "first tick never completed")
      Files.copy(Paths.get(sf("sf0.001/region.parquet")),
        Paths.get(dataDir, "f2.parquet"))
      Paths.get(dataDir, "f2.parquet").toFile.setLastModified(2000000L)
      val target2 = cs.tickCount + 2
      assert(cs.awaitTicks(target2), "ticks stalled")
      assert(new DeltaConversionSource(spark, target, "region")
        .currentSnapshot().files.count() == 2)
    } finally cs.stop()
  }

  test("catalog sync registers converted table for SQL access") {
    val src = new ParquetDirectorySource(spark,
      sf("sf0.001/nation.parquet"), "nation")
    val fq = CatalogSync.syncTable(spark, "graft_cat", src.currentTable())
    val viaSql = spark.sql(s"SELECT count(*) FROM $fq").head.getLong(0)
    assert(viaSql == spark.read.parquet(sf("sf0.001/nation.parquet")).count())
    CatalogSync.dropTable(spark, fq)
  }
}

package graft

import java.nio.file.{Files, Paths}

import graft.formats.iceberg._
import graft.formats.paimon._
import graft.model._
import graft.spi.SyncMetadata
import graft.sources.ParquetDirectorySource
import graft.sync.ConversionController

class CompactionSpec extends SparkSuite {

  private def driveCommits(target: String, fmt: String, n: Int): Unit = {
    val dataDir = tmpDir(s"${fmt}_cmp_data")
    val srcFile = Paths.get(sf("sf0.001/region.parquet"))
    val controller = new ConversionController
    for (i <- 1 to n) {
      Files.copy(srcFile, Paths.get(dataDir, s"f$i.parquet"))
      Paths.get(dataDir, s"f$i.parquet").toFile.setLastModified(i * 1000000L)
      val src = new ParquetDirectorySource(spark, dataDir, "region")
      val tgt = graft.RunSync.buildTarget(spark, fmt, target)
      val r = controller.sync(src, Seq(tgt))
      assert(r.forall(_.status == "SUCCESS"), s"commit $i: ${r.mkString(";")}")
    }
  }

  test("iceberg manifests compact past the threshold") {
    val target = tmpDir("ice_compact")
    driveCommits(target, "ICEBERG", 20)
    val src = new IcebergConversionSource(spark, target, "region")
    assert(src.currentSnapshot().files.count() == 20)
    val meta = IcebergMetadata.read(target,
      IcebergMetadata.currentVersion(target).get)
    val manifests = IcebergManifests.readManifestList(
      meta.currentSnapshot.get.manifestList)
    assert(manifests.size <= IcebergConversionTarget.CompactionThreshold + 1,
      s"${manifests.size} manifests after 20 commits")
  }

  test("iceberg remove-sync rewrites affected manifests cluster-parallel") {
    val target = tmpDir("ice_par_rw")
    val dataDir = tmpDir("ice_par_rw_data")
    val srcFile = Paths.get(sf("sf0.001/region.parquet"))
    val controller = new ConversionController
    // 12 commits → 12 single-file manifests (below the compaction
    // threshold, above the driver-side cutoff of 4)
    for (i <- 1 to 12) {
      Files.copy(srcFile, Paths.get(dataDir, s"f$i.parquet"))
      Paths.get(dataDir, s"f$i.parquet").toFile.setLastModified(i * 1000000L)
      val src = new ParquetDirectorySource(spark, dataDir, "region")
      val r = controller.sync(src,
        Seq(new IcebergConversionTarget(spark, target)))
      assert(r.forall(_.status == "SUCCESS"), r.mkString(";"))
    }
    val before = IcebergManifests.readManifestList(
      IcebergMetadata.read(target, IcebergMetadata.currentVersion(target).get)
        .currentSnapshot.get.manifestList)
    assert(before.size == 12, s"${before.size} manifests before remove")

    // drop half the files externally; a FULL resync routes the removals
    // through the distributed carry-forward (6 manifests rewritten away,
    // 6 carried unchanged)
    for (i <- 1 to 6) Files.delete(Paths.get(dataDir, s"f$i.parquet"))
    val src = new ParquetDirectorySource(spark, dataDir, "region")
    val r = controller.sync(src,
      Seq(new IcebergConversionTarget(spark, target)), graft.spi.SyncMode.Full)
    assert(r.forall(_.status == "SUCCESS"), r.mkString(";"))

    val back = new IcebergConversionSource(spark, target, "region")
    val files = back.currentSnapshot().files.collect()
    assert(files.length == 6, files.map(_.path).mkString(","))
    assert(files.forall(f => (7 to 12).exists(i => f.path.endsWith(s"f$i.parquet"))))
  }

  test("1e5+ removes stay executor-side via the anti-join carry-forward") {
    import spark.implicits._
    val target = tmpDir("ice_big_rm")
    val n = 120000L
    val nRemoved = 105000L         // > Placement.MaxRows (65 536)
    val schema = spark.read.parquet(sf("sf0.001/region.parquet")).schema
    def entry(i: Long) = FileEntry(s"/data/p=${i % 100}/f$i.parquet",
      1000L + i, 100L, "parquet",
      Seq(PartitionMember("p", (i % 100).toString)), Nil, 1000000L)
    val desc = TableDescriptor("big", TableFormats.Iceberg, target, schema,
      Seq(PartitionFieldSpec("p", Transform.Value)),
      Layout.HivePartitioned, 0L)
    def drive(tgt: graft.formats.iceberg.IcebergConversionTarget,
        instant: String)(files: graft.formats.iceberg.IcebergConversionTarget => Unit): Unit = {
      tgt.beginSync(desc)
      tgt.syncMetadata(SyncMetadata(instant, Nil, TableFormats.Parquet, target))
      tgt.syncSchema(schema)
      tgt.syncPartitionSpec(Seq(PartitionFieldSpec("p", Transform.Value)))
      files(tgt)
      tgt.completeSync()
    }
    drive(new graft.formats.iceberg.IcebergConversionTarget(spark, target),
      "1")(_.syncFilesForSnapshot(
      spark.range(n).map(i => entry(i)).toDF().as[FileEntry]))
    assert(graft.formats.iceberg.IcebergConversionTarget
      .lastCarryForwardMode == "driver-set")

    drive(new graft.formats.iceberg.IcebergConversionTarget(spark, target),
      "2")(_.syncFilesForDiff(FilesDelta(
      spark.emptyDataset[FileEntry],
      spark.range(nRemoved).map(i => entry(i)).toDF().as[FileEntry])))
    assert(graft.formats.iceberg.IcebergConversionTarget
      .lastCarryForwardMode == "distributed-anti-join")

    val back = new graft.formats.iceberg.IcebergConversionSource(
      spark, target, "big")
    val live = back.currentSnapshot().files
    assert(live.count() == n - nRemoved)
    // every survivor is from the non-removed tail
    import org.apache.spark.sql.functions._
    val minId = live.select(min(regexp_extract(col("path"),
      "f(\\d+)\\.parquet", 1).cast("long"))).head.getLong(0)
    assert(minId == nRemoved, minId.toString)
  }

  test("paimon base manifest list compacts past the threshold") {
    val target = tmpDir("paimon_compact")
    driveCommits(target, "PAIMON", 20)
    val src = new PaimonConversionSource(spark, target, "region")
    assert(src.currentSnapshot().files.count() == 20)
    val snap = PaimonFormat.readSnapshot(target,
      PaimonFormat.latestSnapshotId(target).get)
    val base = PaimonFormat.readManifestList(snap.baseManifestList)
    assert(base.size <= 17, s"${base.size} base manifests after 20 commits")
  }
}

package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.formats.hudi._
import graft.model._
import graft.sources.ParquetDirectorySource
import graft.spi.SyncMode
import graft.sync.{ConversionController, TableFormatSync}

class HudiSyncSpec extends SparkSuite {

  private def fullSync(src: graft.spi.ConversionSource,
      tgt: graft.spi.ConversionTarget): Unit = {
    val o = TableFormatSync.syncSnapshot(Seq(tgt), src.currentSnapshot(),
      src.sourceFormat)
    assert(o.forall(_.status == "SUCCESS"), o.mkString(";"))
  }

  test("parquet -> hudi full sync round-trips rows") {
    val target = tmpDir("hudi_part")
    fullSync(new ParquetDirectorySource(spark, sf("sf0.001/part.parquet"),
      "part"), new HudiConversionTarget(spark, target))
    val back = new HudiConversionSource(spark, target, "part")
    val direct = spark.read.parquet(sf("sf0.001/part.parquet"))
    assert(back.toDataFrame.count() == direct.count())
    // footer-stat enrichment present
    val stats = back.currentSnapshot().files.collect()
      .flatMap(_.columnStats).filter(_.field == "p_retailprice")
    assert(stats.nonEmpty)
    assert(stats.flatMap(_.max).map(_.toDouble).max ==
      direct.agg(max("p_retailprice")).head.getDouble(0))
  }

  test("hudi incremental sync with replace semantics") {
    val dataDir = tmpDir("hudi_inc_data")
    val target = tmpDir("hudi_inc")
    val srcFile = Paths.get(sf("sf0.001/region.parquet"))
    Files.copy(srcFile, Paths.get(dataDir, "f1.parquet"))
    Paths.get(dataDir, "f1.parquet").toFile.setLastModified(1000000L)
    val controller = new ConversionController
    def src = new ParquetDirectorySource(spark, dataDir, "region")
    val r1 = controller.sync(src, Seq(new HudiConversionTarget(spark, target)))
    assert(r1.head.status == "SUCCESS" && r1.head.mode == SyncMode.Full,
      r1.mkString(";"))

    Files.copy(srcFile, Paths.get(dataDir, "f2.parquet"))
    Paths.get(dataDir, "f2.parquet").toFile.setLastModified(2000000L)
    val r2 = controller.sync(src, Seq(new HudiConversionTarget(spark, target)))
    assert(r2.head.status == "SUCCESS" && r2.head.mode == SyncMode.Incremental,
      r2.mkString(";"))
    assert(new HudiConversionSource(spark, target, "region")
      .currentSnapshot().files.count() == 2)

    // external delete + full resync → replacecommit drops the file group
    Files.delete(Paths.get(dataDir, "f2.parquet"))
    val r3 = controller.sync(src, Seq(new HudiConversionTarget(spark, target)),
      SyncMode.Full)
    assert(r3.head.status == "SUCCESS")
    val live = new HudiConversionSource(spark, target, "region")
      .currentSnapshot().files.collect()
    assert(live.length == 1, live.map(_.path).mkString(","))
    // timeline now has a replacecommit
    val instants = HudiTimeline.listInstants(target)
    val last = HudiTimeline.readCommit(target, instants.last)
    assert(last.action == "replacecommit")
  }

  test("archival bounds the active timeline but keeps snapshots complete") {
    val dataDir = tmpDir("hudi_arc_data")
    val target = tmpDir("hudi_arc")
    val srcFile = Paths.get(sf("sf0.001/region.parquet"))
    val controller = new ConversionController
    def src = new ParquetDirectorySource(spark, dataDir, "region")
    for (i <- 1 to 4) {
      Files.copy(srcFile, Paths.get(dataDir, s"f$i.parquet"))
      Paths.get(dataDir, s"f$i.parquet").toFile.setLastModified(i * 1000000L)
      val r = controller.sync(src, Seq(new HudiConversionTarget(spark, target)))
      assert(r.forall(_.status == "SUCCESS"), r.mkString(";"))
    }
    val before = HudiTimeline.listInstants(target)
    assert(before.size == 4)

    val archived = HudiTimeline.archiveInstants(target, retainLast = 1)
    assert(archived == before.dropRight(1))
    assert(HudiTimeline.listInstants(target) == before.takeRight(1))
    assert(HudiTimeline.archivedInstants(target) == archived)

    // snapshot replay still sees every file group (archive is readable)
    val hudi = new HudiConversionSource(spark, target, "region")
    assert(hudi.currentSnapshot().files.count() == 4)

    // incremental from BEFORE the archive horizon is refused (commits
    // between the sync point and the active window are gone)...
    assert(!hudi.isIncrementalSyncSafeFrom(archived.head))
    // ...but from the horizon itself or later the backlog is fully active
    assert(hudi.isIncrementalSyncSafeFrom(archived.last))
    assert(hudi.isIncrementalSyncSafeFrom(before.last))
  }

  test("controller falls back to full sync past an archived timeline") {
    val dataDir = tmpDir("hudi_fb_data")
    val hudiDir = tmpDir("hudi_fb")
    val deltaDir = tmpDir("hudi_fb_delta")
    val srcFile = Paths.get(sf("sf0.001/region.parquet"))
    val controller = new ConversionController
    def parquetSrc = new ParquetDirectorySource(spark, dataDir, "region")
    def hudiSrc = new HudiConversionSource(spark, hudiDir, "region")

    // commit 1 into hudi, then sync hudi -> delta (records instant 1)
    Files.copy(srcFile, Paths.get(dataDir, "f1.parquet"))
    Paths.get(dataDir, "f1.parquet").toFile.setLastModified(1000000L)
    assert(controller.sync(parquetSrc,
      Seq(new HudiConversionTarget(spark, hudiDir)))
      .forall(_.status == "SUCCESS"))
    assert(controller.sync(hudiSrc,
      Seq(new graft.formats.delta.DeltaConversionTarget(spark, deltaDir)))
      .forall(_.status == "SUCCESS"))

    // two more hudi commits, then archive past the delta sync point
    for (i <- 2 to 3) {
      Files.copy(srcFile, Paths.get(dataDir, s"f$i.parquet"))
      Paths.get(dataDir, s"f$i.parquet").toFile.setLastModified(i * 1000000L)
      assert(controller.sync(parquetSrc,
        Seq(new HudiConversionTarget(spark, hudiDir)))
        .forall(_.status == "SUCCESS"))
    }
    HudiTimeline.archiveInstants(hudiDir, retainLast = 1)

    // incremental would need archived instants → controller must fall back
    // to FULL and still converge
    val r = controller.sync(hudiSrc,
      Seq(new graft.formats.delta.DeltaConversionTarget(spark, deltaDir)))
    assert(r.head.status == "SUCCESS" && r.head.mode == SyncMode.Full,
      r.mkString(";"))
    assert(new graft.formats.delta.DeltaConversionSource(
      spark, deltaDir, "region").currentSnapshot().files.count() == 3)
  }

  test("metadata index serves stats without opening data-file footers") {
    val dataDir = tmpDir("hudi_idx_data")
    val hudiDir = tmpDir("hudi_idx")
    Files.copy(Paths.get(sf("sf0.001/part.parquet")),
      Paths.get(dataDir, "f1.parquet"))
    fullSync(new ParquetDirectorySource(spark, dataDir, "part"),
      new HudiConversionTarget(spark, hudiDir))
    assert(HudiMetadataIndex.exists(hudiDir))

    // prove stats come from the index: remove the data files — footer
    // reads would now fail, but the index still answers
    Files.delete(Paths.get(dataDir, "f1.parquet"))
    val viaIndex = new HudiConversionSource(spark, hudiDir, "part")
      .currentSnapshot().files.collect()
    assert(viaIndex.length == 1)
    assert(viaIndex.head.recordCount > 0)
    assert(viaIndex.head.columnStats.exists(_.field == "p_retailprice"))

    // and prove the fallback is real: drop the index and the same read
    // must attempt (and fail) the footer open
    def deleteRecursively(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      if (Files.isDirectory(p))
        Files.list(p).iterator().asScala.toSeq.foreach(c => deleteRecursively(c))
      Files.deleteIfExists(p)
    }
    deleteRecursively(Paths.get(HudiMetadataIndex.indexDir(hudiDir))
      .getParent)
    intercept[Exception] {
      new HudiConversionSource(spark, hudiDir, "part")
        .currentSnapshot().files.collect()
    }
  }

  test("metadata index merges parquet deltas with small-commit sidecars") {
    import spark.implicits._
    val hudiDir = tmpDir("hudi_idx_mix")
    def entry(path: String, records: Long, ts: Long) =
      graft.model.FileEntry(path, 10L, records, "parquet", Nil,
        Seq(graft.model.FileColumnStat("c", Some("1"), Some("9"), 0,
          records, 10L)), ts)
    // instant 100: distributed parquet delta (the large-commit path)
    HudiMetadataIndex.write(spark, hudiDir, "100",
      spark.createDataset(Seq(entry("/t/a.parquet", 5, 100L),
        entry("/t/b.parquet", 7, 100L))))
    // instant 200: driver-side JSON sidecar updating one path (small path)
    HudiMetadataIndex.writeSmall(hudiDir, "200",
      Seq(entry("/t/a.parquet", 6, 200L)))
    val merged = HudiMetadataIndex.read(spark, hudiDir).collect()
      .map(f => f.path -> f).toMap
    assert(merged.size == 2)
    assert(merged("/t/a.parquet").recordCount == 6)   // sidecar wins (newer)
    assert(merged("/t/b.parquet").recordCount == 7)
    assert(merged("/t/a.parquet").columnStats.head.max.contains("9"))

    // a small commit through the TARGET writes a sidecar, not a parquet job
    val dataDir = tmpDir("hudi_idx_mix_data")
    Files.copy(Paths.get(sf("sf0.001/region.parquet")),
      Paths.get(dataDir, "f1.parquet"))
    val hudi2 = tmpDir("hudi_idx_small")
    fullSync(new ParquetDirectorySource(spark, dataDir, "region"),
      new HudiConversionTarget(spark, hudi2))
    val idxFiles = java.nio.file.Files.list(
      Paths.get(HudiMetadataIndex.indexDir(hudi2))).toArray.map(_.toString)
    assert(idxFiles.exists(_.endsWith(".json")), idxFiles.mkString(","))
    assert(!idxFiles.exists(p => java.nio.file.Files.isDirectory(Paths.get(p))))
  }

  test("MOR timeline serves read-optimized view; compaction supersedes base") {
    val hudiDir = tmpDir("hudi_mor")
    val srcFile = Paths.get(sf("sf0.001/region.parquet"))
    Files.copy(srcFile, Paths.get(hudiDir, "base1.parquet"))
    val nRows = spark.read.parquet(s"$hudiDir/base1.parquet").count()
    val size = Files.size(Paths.get(hudiDir, "base1.parquet"))
    val schemaJson = spark.read.parquet(s"$hudiDir/base1.parquet").schema.json
    val fid = HudiTimeline.fileId(s"$hudiDir/base1.parquet")

    HudiTimeline.writeProperties(hudiDir, "region", "MERGE_ON_READ")
    assert(HudiTimeline.tableType(hudiDir) == "MERGE_ON_READ")

    // commit 100: one base file
    assert(HudiTimeline.writeCommit(HudiTimeline.CommitMeta("100", "commit",
      Map("" -> Seq(HudiTimeline.WriteStat(fid, "base1.parquet", nRows, size))),
      Map.empty, Map("schema" -> schemaJson)), hudiDir))

    // deltacommit 200: log-only write into the same file group (the log
    // file on disk is NOT parquet — reading it would blow up, which is
    // the point: the RO view must never touch it)
    val logName = s".${fid}_100.log.1_0-1-1"
    Files.write(Paths.get(hudiDir, logName),
      "avro-log-block".getBytes("UTF-8"))
    assert(HudiTimeline.writeCommit(HudiTimeline.CommitMeta("200",
      "deltacommit",
      Map("" -> Seq(HudiTimeline.WriteStat(fid, logName, 2, 14))),
      Map.empty, Map("schema" -> schemaJson)), hudiDir))

    val src = new HudiConversionSource(spark, hudiDir, "region")
    val snap = src.currentSnapshot()
    val files = snap.files.collect()
    assert(files.length == 1 && files.head.path.endsWith("base1.parquet"))
    assert(src.toDataFrame.count() == nRows)

    // real-time view with unmerged logs refuses loudly
    val rt = new HudiConversionSource(spark, hudiDir, "region", "snapshot")
    val ex = intercept[UnsupportedOperationException](rt.currentSnapshot())
    assert(ex.getMessage.contains("read_optimized"))

    // commit 300: compaction — a NEW base path for the same file group
    Files.copy(srcFile, Paths.get(hudiDir, "base1_c.parquet"))
    assert(HudiTimeline.writeCommit(HudiTimeline.CommitMeta("300", "commit",
      Map("" -> Seq(HudiTimeline.WriteStat(fid, "base1_c.parquet", nRows,
        size))),
      Map.empty, Map("schema" -> schemaJson)), hudiDir))

    val src2 = new HudiConversionSource(spark, hudiDir, "region")
    val diff = src2.changeForCommit("300").diff
    assert(placedRows(diff.added).map(_.path).toSeq
      == Seq(s"$hudiDir/base1_c.parquet"))
    assert(placedRows(diff.removed).map(_.path).toSeq
      == Seq(s"$hudiDir/base1.parquet"))
    val after = src2.currentSnapshot().files.collect()
    assert(after.length == 1 && after.head.path.endsWith("base1_c.parquet"))

    // compaction absorbed the logs → real-time view is servable again
    assert(new HudiConversionSource(spark, hudiDir, "region", "snapshot")
      .currentSnapshot().files.count() == 1)

    // cross-format: MOR read-optimized → Delta reads identical rows
    val deltaDir = tmpDir("hudi_mor_delta")
    fullSync(src2, new graft.formats.delta.DeltaConversionTarget(
      spark, deltaDir))
    assert(new graft.formats.delta.DeltaConversionSource(
      spark, deltaDir, "region").toDataFrame.count() == nRows)
  }

  test("hudi -> delta cross-format sync") {
    val hudiDir = tmpDir("hudi_x")
    val deltaDir = tmpDir("hudi_x_delta")
    fullSync(new ParquetDirectorySource(spark, sf("sf0.001/supplier.parquet"),
      "supplier"), new HudiConversionTarget(spark, hudiDir))
    fullSync(new HudiConversionSource(spark, hudiDir, "supplier"),
      new graft.formats.delta.DeltaConversionTarget(spark, deltaDir))
    val back = new graft.formats.delta.DeltaConversionSource(
      spark, deltaDir, "supplier").toDataFrame
    assert(back.count() ==
      spark.read.parquet(sf("sf0.001/supplier.parquet")).count())
  }
}

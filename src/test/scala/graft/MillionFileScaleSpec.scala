package graft

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types.{LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.formats.delta.{DeltaConversionSource, DeltaConversionTarget}
import graft.model._
import graft.spi.SyncMetadata

/** The 10^6-file probe: the cheapest in-sandbox proof of the 100 TB design
  * claims (a 100 TB table at 100 MB/file IS a million files). Everything
  * here is metadata-plane — synthetic FileEntry listings, no physical
  * parquet — exercising exactly the structures that must stay distributed:
  * full sync, incremental commit, pruned FileIndex planning, and Iceberg
  * manifest carry-forward. Wall-time bounds are generous (they guard
  * against accidental O(n²)/driver-loop regressions, not benchmark noise);
  * measured numbers are recorded in SCALE.md per round.
  */
class MillionFileScaleSpec extends SparkSuite {

  private val n = 1000000L           // 1000 partitions × 1000 files

  private def entries(from: Long, until: Long) = {
    import spark.implicits._
    spark.range(from, until).map { i =>
      FileEntry(s"/data/p=${i % 1000}/f$i.parquet", 1000L + i, 100L,
        "parquet", Seq(PartitionMember("p", (i % 1000).toString)),
        Seq(FileColumnStat("r_regionkey", Some((i % 5).toString),
          Some(((i % 5) + 1).toString), 0L, 100L, 64L)),
        1000000L)
    }
  }

  private def drive(tgt: graft.spi.ConversionTarget, desc: TableDescriptor,
      instant: String)(files: graft.spi.ConversionTarget => Unit): Double = {
    val schema = desc.schema
    val t0 = System.nanoTime()
    tgt.beginSync(desc)
    tgt.syncMetadata(SyncMetadata(instant, Nil, TableFormats.Parquet,
      desc.basePath))
    tgt.syncSchema(schema)
    tgt.syncPartitionSpec(desc.partitionFields)
    files(tgt)
    tgt.completeSync()
    (System.nanoTime() - t0) / 1e9
  }

  test("1M files: delta full sync, incremental commit, pruned planning") {
    import spark.implicits._
    val target = tmpDir("mm_delta")
    val schema = spark.read.parquet(sf("sf0.001/region.parquet")).schema
    val desc = TableDescriptor("mm", TableFormats.Delta, target, schema,
      Seq(PartitionFieldSpec("p", Transform.Value)),
      Layout.HivePartitioned, 0L)

    val fullSec = drive(new DeltaConversionTarget(spark, target), desc, "1")(
      _.syncFilesForSnapshot(entries(0L, n).toDF().as[FileEntry]))
    val back = new DeltaConversionSource(spark, target, "mm")
    assert(back.currentSnapshot().files.count() == n)

    // incremental commit touching 0.1% of the table
    val incSec = drive(new DeltaConversionTarget(spark, target), desc, "2")(
      _.syncFilesForDiff(FilesDelta(
        entries(n, n + 1000L).toDF().as[FileEntry],
        spark.emptyDataset[FileEntry])))
    assert(new DeltaConversionSource(spark, target, "mm")
      .currentSnapshot().files.count() == n + 1000L)

    // pruned planning: a one-partition query must touch 0.1% of the
    // listing and return only those files to the driver
    val index = new graft.plans.SnapshotFileIndex(spark,
      new DeltaConversionSource(spark, target, "mm").currentSnapshot())
    val p = AttributeReference("p", StringType)()
    val t0 = System.nanoTime()
    val oneDir = index.listFiles(
      Seq(EqualTo(p, Literal(UTF8String.fromString("7"), StringType))), Nil)
    val planSec = (System.nanoTime() - t0) / 1e9
    assert(oneDir.map(_.files.size).sum == 1001)   // 1000 full + 1 inc
    // stats skipping composes on top of partition pruning
    val k = AttributeReference("r_regionkey", LongType)()
    val skipped = index.listFiles(
      Seq(EqualTo(p, Literal(UTF8String.fromString("7"), StringType))),
      Seq(GreaterThan(k, Literal(100L, LongType))))
    // every file (bounds ≤ 5) proves excludable against > 100
    assert(skipped.map(_.files.size).sum == 0)

    info(f"delta 1M: full $fullSec%.1fs, incremental $incSec%.1fs, " +
      f"pruned planning $planSec%.1fs")
    assert(fullSec < 300, s"full sync too slow: $fullSec")
    assert(incSec < 120, s"incremental too slow: $incSec")
    assert(planSec < 60, s"pruned planning too slow: $planSec")

    // change-feed CLASSIFICATION over the 1M-action commit: the range
    // scan must land one flag per version on the driver, never one mark
    // per action — the returned feed plan is lazy, so this times only
    // the classification pass
    val t1 = System.nanoTime()
    graft.formats.delta.DeltaChanges.changesBetween(spark, target, -1L, 1L)
    val cdfSec = (System.nanoTime() - t1) / 1e9
    info(f"delta 1M: change-feed classification $cdfSec%.1fs")
    assert(cdfSec < 60, s"classification too slow: $cdfSec")
  }

  test("1M files: deleteWhere-scale DV mask and streamed commit") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val target = tmpDir("mm_delta_del")
    val schema = spark.read.parquet(sf("sf0.001/region.parquet")).schema
    val desc = TableDescriptor("mm", TableFormats.Delta, target, schema,
      Seq(PartitionFieldSpec("p", Transform.Value)),
      Layout.HivePartitioned, 0L)
    drive(new DeltaConversionTarget(spark, target), desc, "1")(
      _.syncFilesForSnapshot(entries(0L, n).toDF().as[FileEntry]))

    // one matching row in EVERY file — the deleteWhere(lit(true)) shape
    // that used to collect the whole affected-file set on the driver.
    // Synthetic hits stand in for the predicate scan (the listing has no
    // physical parquet); planMask + commit are exactly the deleteWhere
    // path after the scan.
    val snap = new DeltaConversionSource(spark, target, "mm")
      .currentSnapshot()
    val hits = spark.range(0, n)
      .map(i => (s"/data/p=${i % 1000}/f$i.parquet", 0L, null: String))
    val t0 = System.nanoTime()
    val plan = graft.formats.delta.DeltaDeletes
      .planMask(spark, snap, hits).get
    assert(plan.nDeleted == n)
    graft.formats.delta.DeltaDeletes.commit(spark, target, plan,
      graft.formats.delta.DeltaSnapshot.state(spark, target,
        graft.formats.delta.DeltaLog.listVersions(target,
          graft.util.HadoopConfs.session(spark))), "DELETE", Iterator.empty)
    val delSec = (System.nanoTime() - t0) / 1e9

    // every file is still live, now carrying a cardinality-1 DV
    val after = new DeltaConversionSource(spark, target, "mm")
      .currentSnapshot()
    val row = after.files
      .agg(count(lit(1)), sum(expr("deletionVector.cardinality"))).head()
    assert(row.getLong(0) == n && row.getLong(1) == n)

    info(f"delta 1M: deleteWhere-scale mask+commit $delSec%.1fs")
    assert(delSec < 600, s"delete too slow: $delSec")

    // VACUUM keep-set planning at this scale: 1M live refs + 1M DV refs
    // + a 2M-line log parsed for tombstones, anti-joined against the
    // walk — all distributed. (The synthetic listing points outside the
    // table dir, so the sweep itself finds nothing to delete — the cost
    // being measured is exactly the planning the 100 TB table pays.)
    val t1 = System.nanoTime()
    val vac = graft.formats.delta.DeltaVacuum.vacuum(spark, target,
      retentionMillis = 0L)
    val vacSec = (System.nanoTime() - t1) / 1e9
    assert(vac.deleted == 0L, vac.toString)
    info(f"delta 1M: vacuum keep-set planning $vacSec%.1fs")
    assert(vacSec < 300, s"vacuum planning too slow: $vacSec")

    // RESTORE across all 10^6 files: the diff re-adds every original
    // (DV-less) description and removes every DV'd one — 2M streamed
    // commit lines, listings never collected (verifyExists off: the
    // synthetic listing has no physical parquet)
    val t2 = System.nanoTime()
    val res = graft.formats.delta.DeltaRestore.restoreTo(spark, target,
      version = 0L, verifyExists = false)
    val resSec = (System.nanoTime() - t2) / 1e9
    assert(res.readded == n && res.removed == n, res.toString)
    val restored = new DeltaConversionSource(spark, target, "mm")
      .currentSnapshot()
    val rrow = restored.files
      .agg(count(lit(1)),
        sum(when(col("deletionVector").isNotNull, 1L).otherwise(0L))).head()
    assert(rrow.getLong(0) == n && rrow.getLong(1) == 0L)
    info(f"delta 1M: full-table restore diff+commit $resSec%.1fs")
    assert(resSec < 600, s"restore too slow: $resSec")
  }

  test("1M files: iceberg full sync and streaming manifest carry-forward") {
    import spark.implicits._
    val target = tmpDir("mm_ice")
    val schema = spark.read.parquet(sf("sf0.001/region.parquet")).schema
    val desc = TableDescriptor("mm", TableFormats.Iceberg, target, schema,
      Seq(PartitionFieldSpec("p", Transform.Value)),
      Layout.HivePartitioned, 0L)

    val fullSec = drive(
      new graft.formats.iceberg.IcebergConversionTarget(spark, target),
      desc, "1")(
      _.syncFilesForSnapshot(entries(0L, n).toDF().as[FileEntry]))
    val back = new graft.formats.iceberg.IcebergConversionSource(
      spark, target, "mm")
    assert(back.currentSnapshot().files.count() == n)

    // incremental commit: the 10^6-entry previous manifest carries forward
    // STREAMED (count pass + reader→writer rewrite pass, never a Seq)
    val incSec = drive(
      new graft.formats.iceberg.IcebergConversionTarget(spark, target),
      desc, "2")(
      _.syncFilesForDiff(FilesDelta(
        entries(n, n + 1000L).toDF().as[FileEntry],
        spark.emptyDataset[FileEntry])))
    assert(new graft.formats.iceberg.IcebergConversionSource(
      spark, target, "mm").currentSnapshot().files.count() == n + 1000L)

    // v2→v3 UPGRADE at the 10^6-file tier: per-manifest streaming
    // lineage rewrite, one executor task per manifest — never an
    // O(files) driver list
    val tUp = System.nanoTime()
    assert(graft.formats.iceberg.IcebergDeletes.upgradeToV3(spark, target))
    val upSec = (System.nanoTime() - tUp) / 1e9
    val mUp = graft.formats.iceberg.IcebergMetadata.read(target,
      graft.formats.iceberg.IcebergMetadata.currentVersion(target).get)
    assert(mUp.formatVersion == 3)
    assert(mUp.nextRowId == (n + 1000L) * 100L, mUp.nextRowId)

    // sync INTO v3 stays O(delta): carried manifests keep their ids
    // verbatim, only the added files draw from the watermark
    val incV3 = drive(
      new graft.formats.iceberg.IcebergConversionTarget(spark, target),
      desc, "3")(
      _.syncFilesForDiff(FilesDelta(
        entries(n + 1000L, n + 2000L).toDF().as[FileEntry],
        spark.emptyDataset[FileEntry])))
    val mV3 = graft.formats.iceberg.IcebergMetadata.read(target,
      graft.formats.iceberg.IcebergMetadata.currentVersion(target).get)
    assert(mV3.formatVersion == 3, "sync must not downgrade v3")
    assert(mV3.nextRowId == mUp.nextRowId + 1000L * 100L, mV3.nextRowId)

    info(f"iceberg 1M: full $fullSec%.1fs, incremental $incSec%.1fs, " +
      f"v3 upgrade $upSec%.1fs, incremental-into-v3 $incV3%.1fs")
    assert(fullSec < 300, s"full sync too slow: $fullSec")
    assert(incSec < 120, s"incremental too slow: $incSec")
    assert(upSec < 300, s"v3 upgrade too slow: $upSec")
    assert(incV3 < 120, s"incremental into v3 too slow: $incV3")
  }

  test("1M files: hudi full sync with streamed commit write-stats") {
    import spark.implicits._
    val target = tmpDir("mm_hudi")
    val schema = spark.read.parquet(sf("sf0.001/region.parquet")).schema
    val desc = TableDescriptor("mm", TableFormats.Hudi, target, schema,
      Seq(PartitionFieldSpec("p", Transform.Value)),
      Layout.HivePartitioned, 0L)

    // the commit JSON lists every write stat — authored executor-side,
    // partition-sorted, streamed in bounded batches; the driver holds one
    // partition name + one batch, never 10^6 WriteStat objects
    val fullSec = drive(
      new graft.formats.hudi.HudiConversionTarget(spark, target), desc, "1")(
      _.syncFilesForSnapshot(entries(0L, n).toDF().as[FileEntry]))
    val back = new graft.formats.hudi.HudiConversionSource(
      spark, target, "mm")
    assert(back.currentSnapshot().files.count() == n)

    // replacecommit path: removes also stream (replaced fileIds grouped
    // by partition) — 1000 files swap for 1000 new ones
    val incSec = drive(
      new graft.formats.hudi.HudiConversionTarget(spark, target), desc, "2")(
      _.syncFilesForDiff(FilesDelta(
        entries(n, n + 1000L).toDF().as[FileEntry],
        entries(0L, 1000L).toDF().as[FileEntry])))
    assert(new graft.formats.hudi.HudiConversionSource(
      spark, target, "mm").currentSnapshot().files.count() == n)

    info(f"hudi 1M: full $fullSec%.1fs, replace-incremental $incSec%.1fs")
    assert(fullSec < 300, s"full sync too slow: $fullSec")
    assert(incSec < 120, s"incremental too slow: $incSec")
  }

  test("1M files: hudi streaming sink appends O(delta), replay check streams") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val target = tmpDir("mm_hudi_sink")
    val schema = spark.read.parquet(sf("sf0.001/region.parquet")).schema
    val desc = TableDescriptor("mm", TableFormats.Hudi, target, schema,
      Seq(PartitionFieldSpec("p", Transform.Value)),
      Layout.HivePartitioned, 0L)
    drive(new graft.formats.hudi.HudiConversionTarget(spark, target),
      desc, "1")(
      _.syncFilesForSnapshot(entries(0L, n).toDF().as[FileEntry]))

    // a micro-batch append must be O(batch), NOT O(table): schema/spec
    // resolve from commit extraMetadata via the streaming parse (the
    // 10^6-stat arrays are token-skipped, never materialized), and the
    // commit writes only the batch's own stats
    val batch = spark.read.parquet(sf("sf0.001/region.parquet"))
      .withColumn("p", col("r_regionkey").cast("string"))
    val t0 = System.nanoTime()
    assert(graft.formats.hudi.HudiStreamSink.appendBatch(
      spark, target, batch, "mmapp", 0L))
    val appendSec = (System.nanoTime() - t0) / 1e9

    val t1 = System.nanoTime()
    assert(!graft.formats.hudi.HudiStreamSink.appendBatch(
      spark, target, batch, "mmapp", 0L))   // replay skips
    val replaySec = (System.nanoTime() - t1) / 1e9
    assert(graft.formats.hudi.HudiStreamSink.lastTxnVersion(
      spark, target, "mmapp").contains(0L))

    info(f"hudi 1M sink: append $appendSec%.1fs, replay check $replaySec%.1fs")
    assert(appendSec < 120, s"append too slow: $appendSec")
    assert(replaySec < 30, s"replay check too slow: $replaySec")
  }

  test("1M files: shallow clone streams adds, zero data IO") {
    import spark.implicits._
    val srcTable = tmpDir("mm_clone_src")
    val schema = spark.read.parquet(sf("sf0.001/region.parquet")).schema
    val desc = TableDescriptor("mm", TableFormats.Delta, srcTable, schema,
      Seq(PartitionFieldSpec("p", Transform.Value)),
      Layout.HivePartitioned, 0L)
    drive(new DeltaConversionTarget(spark, srcTable), desc, "1")(
      _.syncFilesForSnapshot(entries(0L, n).toDF().as[FileEntry]))

    val dst = tmpDir("mm_clone_dst") + "/t"
    val t0 = System.nanoTime()
    val res = graft.formats.delta.DeltaClone.shallowClone(spark,
      srcTable, dst)
    val cloneSec = (System.nanoTime() - t0) / 1e9
    assert(res.files == n)
    assert(new DeltaConversionSource(spark, dst, "mm")
      .currentSnapshot().files.count() == n)
    info(f"delta 1M: shallow clone $cloneSec%.1fs")
    assert(cloneSec < 120, s"clone too slow: $cloneSec")
  }

  test("1M files: paimon sync with executor-side manifests and compaction") {
    import spark.implicits._
    val target = tmpDir("mm_paimon")
    val schema = spark.read.parquet(sf("sf0.001/region.parquet")).schema
    val desc = TableDescriptor("mm", TableFormats.Paimon, target, schema,
      Seq(PartitionFieldSpec("p", Transform.Value)),
      Layout.HivePartitioned, 0L)

    // full sync: 10^6 adds author ~20 delta manifests, one task each —
    // the driver never iterates the file list
    val fullSec = drive(
      new graft.formats.paimon.PaimonConversionTarget(spark, target),
      desc, "1")(
      _.syncFilesForSnapshot(entries(0L, n).toDF().as[FileEntry]))
    val back = new graft.formats.paimon.PaimonConversionSource(
      spark, target, "mm")
    assert(back.currentSnapshot().files.count() == n)

    // incremental with deletes: snapshot 2 inherits >16 manifests, so
    // the base COMPACTS distributed (per-manifest read tasks + anti-join
    // + executor-side merged-manifest writes)
    val incSec = drive(
      new graft.formats.paimon.PaimonConversionTarget(spark, target),
      desc, "2")(
      _.syncFilesForDiff(FilesDelta(
        entries(n, n + 1000L).toDF().as[FileEntry],
        entries(0L, 1000L).toDF().as[FileEntry])))
    assert(new graft.formats.paimon.PaimonConversionSource(
      spark, target, "mm").currentSnapshot().files.count() == n)

    info(f"paimon 1M: full $fullSec%.1fs, compacting incremental $incSec%.1fs")
    assert(fullSec < 300, s"full sync too slow: $fullSec")
    assert(incSec < 180, s"incremental too slow: $incSec")
  }

  test("1M files: hudi metadata table appendCommit streams one HFile " +
      "log block; compaction rewrites the full listing") {
    import graft.formats.hudi.HudiMetadataTable
    val dir = tmpDir("mm_hudi_meta")
    HudiMetadataTable.bootstrap(dir, "mm")
    // 1000 partitions x 1000 files, streamed in unsigned-byte partition
    // order — driver state is one partition's delta + the block buffer
    val parts = (0 until 1000).map(i => s"p=$i").sorted
    def deltas = parts.iterator.flatMap { p =>
      (0 until 1000).iterator.map(f =>
        (p, f"f$f%04d.parquet", 1000L + f, false))
    }
    val t0 = System.nanoTime()
    HudiMetadataTable.appendCommit(dir, "20260101000000100", deltas, parts)
    val appendSec = (System.nanoTime() - t0) / 1e9

    val t1 = System.nanoTime()
    val (ps, files) = HudiMetadataTable.readFiles(dir)
    val readSec = (System.nanoTime() - t1) / 1e9
    assert(ps.size == 1000)
    assert(files.values.map(_.size.toLong).sum == 1000000L)
    assert(files("p=999")("f0999.parquet") == 1999L)

    val t2 = System.nanoTime()
    HudiMetadataTable.compact(dir, "20260101000000100001")
    val compactSec = (System.nanoTime() - t2) / 1e9
    val (ps2, files2) = HudiMetadataTable.readFiles(dir)
    assert(ps2.size == 1000)
    assert(files2.values.map(_.size.toLong).sum == 1000000L)

    info(f"hudi metadata 1M: append $appendSec%.1fs, merged read " +
      f"$readSec%.1fs, compact $compactSec%.1fs")
    assert(appendSec < 120, s"metadata append too slow: $appendSec")
    assert(readSec < 120, s"metadata read too slow: $readSec")
    assert(compactSec < 180, s"metadata compact too slow: $compactSec")
  }
}

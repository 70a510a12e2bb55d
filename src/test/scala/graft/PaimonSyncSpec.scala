package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.formats.paimon._
import graft.sources.ParquetDirectorySource
import graft.spi.SyncMode
import graft.sync.{ConversionController, TableFormatSync}

class PaimonSyncSpec extends SparkSuite {

  test("parquet -> paimon full sync round-trips rows and stats") {
    val target = tmpDir("paimon_nat")
    val src = new ParquetDirectorySource(spark,
      sf("sf0.001/nation.parquet"), "nation")
    val r = TableFormatSync.syncSnapshot(
      Seq(new PaimonConversionTarget(spark, target)),
      src.currentSnapshot(), src.sourceFormat)
    assert(r.forall(_.status == "SUCCESS"), r.mkString(";"))
    val back = new PaimonConversionSource(spark, target, "nation")
    val direct = spark.read.parquet(sf("sf0.001/nation.parquet"))
    assert(back.toDataFrame.count() == direct.count())
    val stats = back.currentSnapshot().files.collect()
      .flatMap(_.columnStats).filter(_.field == "n_nationkey")
    assert(stats.flatMap(_.max).map(_.toInt).max ==
      direct.agg(max("n_nationkey")).head.getInt(0))
    // schema round-trips through Flink-SQL type strings
    assert(back.currentTable().schema.fieldNames.toSeq ==
      direct.schema.fieldNames.toSeq)
  }

  test("paimon incremental snapshots + controller + format detection") {
    val dataDir = tmpDir("paimon_inc_data")
    val target = tmpDir("paimon_inc")
    val srcFile = Paths.get(sf("sf0.001/region.parquet"))
    Files.copy(srcFile, Paths.get(dataDir, "f1.parquet"))
    Paths.get(dataDir, "f1.parquet").toFile.setLastModified(1000000L)
    val controller = new ConversionController
    def src = new ParquetDirectorySource(spark, dataDir, "region")
    val r1 = controller.sync(src, Seq(new PaimonConversionTarget(spark, target)))
    assert(r1.head.status == "SUCCESS" && r1.head.mode == SyncMode.Full,
      r1.mkString(";"))

    Files.copy(srcFile, Paths.get(dataDir, "f2.parquet"))
    Paths.get(dataDir, "f2.parquet").toFile.setLastModified(2000000L)
    val r2 = controller.sync(src, Seq(new PaimonConversionTarget(spark, target)))
    assert(r2.head.status == "SUCCESS" && r2.head.mode == SyncMode.Incremental,
      r2.mkString(";"))
    val paimonSrc = new PaimonConversionSource(spark, target, "region")
    assert(paimonSrc.currentSnapshot().files.count() == 2)
    // per-snapshot diff readable back
    val change = paimonSrc.changeForCommit("2")
    assert(placedRows(change.diff.added).size == 1 &&
      placedRows(change.diff.removed).isEmpty)
    assert(graft.sources.CatalogConversionSource.detectFormat(target) == "PAIMON")
  }

  test("paimon -> iceberg cross-format sync") {
    val paimonDir = tmpDir("paimon_x")
    val iceDir = tmpDir("paimon_x_ice")
    val src = new ParquetDirectorySource(spark,
      sf("sf0.001/supplier.parquet"), "supplier")
    TableFormatSync.syncSnapshot(Seq(new PaimonConversionTarget(spark, paimonDir)),
      src.currentSnapshot(), src.sourceFormat)
    val psrc = new PaimonConversionSource(spark, paimonDir, "supplier")
    val r = TableFormatSync.syncSnapshot(
      Seq(new graft.formats.iceberg.IcebergConversionTarget(spark, iceDir)),
      psrc.currentSnapshot(), psrc.sourceFormat)
    assert(r.forall(_.status == "SUCCESS"), r.mkString(";"))
    assert(new graft.formats.iceberg.IcebergConversionSource(
      spark, iceDir, "supplier").toDataFrame.count() ==
      spark.read.parquet(sf("sf0.001/supplier.parquet")).count())
  }

  test("deleteWhere on a partitioned paimon table rewrites only victims") {
    val dataDir = tmpDir("paimon_del_data")
    val direct = spark.read.parquet(sf("sf0.001/supplier.parquet"))
    direct.write.mode("overwrite").partitionBy("s_nationkey")
      .parquet(dataDir)
    val target = tmpDir("paimon_del")
    val src = new ParquetDirectorySource(spark, dataDir, "supplier")
    val r = TableFormatSync.syncSnapshot(
      Seq(new PaimonConversionTarget(spark, target)),
      src.currentSnapshot(), src.sourceFormat)
    assert(r.forall(_.status == "SUCCESS"), r.mkString(";"))
    val before = new PaimonConversionSource(spark, target, "supplier")
    val filesBefore = before.currentSnapshot().files.collect()
      .map(_.path).toSet

    val want = direct.filter(!(col("s_suppkey") % 3 === 0)).count()
    val deleted = PaimonDeletes.deleteWhere(spark, target,
      col("s_suppkey") % 3 === 0)
    assert(deleted == direct.count() - want && deleted > 0)

    val after = new PaimonConversionSource(spark, target, "supplier")
    val got = after.toDataFrame
    assert(got.count() == want)
    assert(got.filter(col("s_suppkey") % 3 === 0).isEmpty)
    // partition routing survives: per-nation counts match the oracle
    val expect = direct.filter(!(col("s_suppkey") % 3 === 0))
      .groupBy("s_nationkey").count().collect()
      .map(r0 => r0.getInt(0) -> r0.getLong(1)).toMap
    val actual = got.groupBy("s_nationkey").count().collect()
      .map(r0 => r0.get(0).toString.toInt -> r0.getLong(1)).toMap
    assert(actual == expect)
    // files WITHOUT victims were not rewritten
    val filesAfter = after.currentSnapshot().files.collect().map(_.path).toSet
    assert(filesBefore.intersect(filesAfter).nonEmpty,
      "every file was rewritten — deleteWhere must touch victims only")
    // deleting nothing is a no-op (no new snapshot)
    val snapBefore = PaimonFormat.latestSnapshotId(target)
    assert(PaimonDeletes.deleteWhere(spark, target,
      col("s_suppkey") < -1) == 0L)
    assert(PaimonFormat.latestSnapshotId(target) == snapBefore)
  }

  test("paimon tags: named snapshots serve through branch reads and SQL") {
    val dataDir = tmpDir("paimon_tag_data")
    val direct = spark.read.parquet(sf("sf0.001/region.parquet"))
    direct.write.mode("overwrite").parquet(dataDir)
    val target = tmpDir("paimon_tag")
    def sync(): Unit = {
      val src = new ParquetDirectorySource(spark, dataDir, "region")
      val r = TableFormatSync.syncSnapshot(
        Seq(new PaimonConversionTarget(spark, target)),
        src.currentSnapshot(), src.sourceFormat)
      assert(r.forall(_.status == "SUCCESS"), r.mkString(";"))
    }
    sync()
    // tag snapshot 1, then advance the table
    PaimonFormat.createTag(target, "v1", 1L)
    direct.withColumn("r_regionkey", col("r_regionkey") + 100)
      .write.mode("append").parquet(dataDir)
    sync()
    assert(PaimonFormat.latestSnapshotId(target).contains(2L))

    // the tag serves the OLD state through the unified reader
    val tagged = spark.read.format("graft").option("branch", "v1")
      .load(target)
    assert(tagged.count() == direct.count())
    assert(spark.read.format("graft").load(target).count() ==
      2 * direct.count())
    assert(PaimonFormat.listTags(target) == Seq("v1" -> 1L))

    // SQL surface routes by format: CREATE TAG + DROP on paimon
    val gs = graft.sql.GraftSql.session(spark)
    gs.sql(s"GRAFT CREATE TAG v2 ON '$target'").collect()
    assert(PaimonFormat.readTag(target, "v2").contains(2L))
    val e = intercept[Exception] {
      gs.sql(s"GRAFT CREATE BRANCH b1 ON '$target'").collect()
    }
    assert(e.getMessage.contains("TAG"), e.getMessage)
    gs.sql(s"GRAFT DROP TAG v2 ON '$target'").collect()
    assert(PaimonFormat.readTag(target, "v2").isEmpty)
    // unknown tag refuses loudly
    val e2 = intercept[IllegalArgumentException] {
      spark.read.format("graft").option("branch", "nope").load(target).count()
    }
    assert(e2.getMessage.contains("no Paimon tag"), e2.getMessage)
  }

  test("paimon copy-on-write commit CAS: stale planning snapshot fails loudly") {
    // a deleteWhere plans its victim set against snapshot N; if another
    // writer lands N+1 before the swap commits, the commit must FAIL —
    // a silent rebase could resurrect rows a concurrent commit rewrote
    val dataDir = tmpDir("paimon_cas_data")
    val direct = spark.read.parquet(sf("sf0.001/region.parquet"))
    direct.write.mode("overwrite").parquet(dataDir)
    val target = tmpDir("paimon_cas")
    val src = new ParquetDirectorySource(spark, dataDir, "region")
    val r = TableFormatSync.syncSnapshot(
      Seq(new PaimonConversionTarget(spark, target)),
      src.currentSnapshot(), src.sourceFormat)
    assert(r.forall(_.status == "SUCCESS"), r.mkString(";"))

    val planned = PaimonFormat.latestSnapshotId(target).get
    val tgt = new PaimonConversionTarget(spark, target)
    val table = new PaimonConversionSource(spark, target, "region")
      .currentTable()
    tgt.beginSync(table)
    tgt.expectBaseSnapshot(planned - 1)   // stale: someone advanced us
    tgt.syncSchema(table.schema)
    tgt.syncPartitionSpec(table.partitionFields)
    tgt.syncFilesForDiff(graft.model.FilesDelta(
      spark.emptyDataset[graft.model.FileEntry](
        org.apache.spark.sql.Encoders.product[graft.model.FileEntry]),
      spark.emptyDataset[graft.model.FileEntry](
        org.apache.spark.sql.Encoders.product[graft.model.FileEntry])))
    val e = intercept[IllegalStateException](tgt.completeSync())
    assert(e.getMessage.contains("concurrent writer"), e.getMessage)
    // the happy path (matching snapshot) still commits via deleteWhere
    assert(PaimonDeletes.deleteWhere(spark, target,
      col("r_regionkey") === 0) == 1L)
  }
  test("expire + orphan sweep: prefix-only expiration, tag pin, live " +
    "files untouched, incremental sync falls back to full") {
    import spark.implicits._
    val target = tmpDir("paimon_vac")
    val region = spark.read.parquet(sf("sf0.001/region.parquet"))
    val src0 = new ParquetDirectorySource(spark,
      sf("sf0.001/region.parquet"), "region")
    val r = TableFormatSync.syncSnapshot(
      Seq(new PaimonConversionTarget(spark, target)),
      src0.currentSnapshot(), src0.sourceFormat)
    require(r.forall(_.status == "SUCCESS"), r.mkString(";"))
    // snap 2 + 3: appends; snap 4: a delete rewrite stranding victims
    region.withColumn("r_regionkey", col("r_regionkey") + 10)
      .write.format("graft").option("tableFormat", "paimon")
      .mode("append").save(target)
    region.withColumn("r_regionkey", col("r_regionkey") + 20)
      .write.format("graft").option("tableFormat", "paimon")
      .mode("append").save(target)
    require(PaimonDeletes.deleteWhere(spark, target,
      col("r_regionkey") % 2 === 0) > 0)
    val before = spark.read.format("graft").load(target)
      .select("r_regionkey").as[Long].collect().sorted.toSeq

    // a tag pins snapshot 2: expiration must stop BEFORE it (prefix
    // rule), even with retainLast=1
    PaimonFormat.createTag(target, "pinned", 2L)
    val expired = PaimonMaintenance.expireSnapshots(target, retainLast = 1)
    assert(expired == Seq(1L), s"prefix rule violated: $expired")
    assert(PaimonFormat.listSnapshotIds(target) == Seq(2L, 3L, 4L))
    // tag still serves (it resolves through the retained snapshot file)
    assert(spark.read.format("graft").option("branch", "pinned")
      .load(target).count() == 10)

    // drop the tag -> the rest of the prefix expires
    PaimonFormat.dropTag(target, "pinned")
    assert(PaimonMaintenance.expireSnapshots(target, retainLast = 1)
      == Seq(2L, 3L))
    assert(PaimonFormat.listSnapshotIds(target) == Seq(4L))

    val sweep = PaimonMaintenance.removeOrphanFiles(spark, target)
    assert(sweep.deleted >= 1, s"sweep removed nothing: $sweep")
    // live rows byte-identical through the sweep
    val after = spark.read.format("graft").load(target)
      .select("r_regionkey").as[Long].collect().sorted.toSeq
    assert(after == before, "sweep touched a referenced file")
    // a second sweep is a no-op (idempotent)
    assert(PaimonMaintenance.removeOrphanFiles(spark, target).deleted == 0)

    // expired history: time travel refuses, incremental falls back full
    intercept[Exception] {
      spark.read.format("graft").option("versionAsOf", "1").load(target)
        .count()
    }
    val paimonSrc = new PaimonConversionSource(spark, target, "region")
    assert(!paimonSrc.isIncrementalSyncSafeFrom("1"),
      "expired history must force fallback-to-full")
    val delta = tmpDir("paimon_vac_delta")
    val out = new ConversionController().sync(paimonSrc,
      Seq(new graft.formats.delta.DeltaConversionTarget(spark, delta)))
    assert(out.forall(_.status == "SUCCESS"), out.mkString(";"))
    assert(new graft.formats.delta.DeltaConversionSource(
      spark, delta, "region").toDataFrame.count() == before.size)
  }
}

package graft

import org.apache.spark.sql.functions._

import graft.formats.delta.DeltaConversionTarget
import graft.formats.iceberg._
import graft.model.DeletionVectorsUnsupported
import graft.sources.ParquetDirectorySource
import graft.sync.TableFormatSync

/** Iceberg v2 row-level deletes: position-delete commits, delete-aware
  * reads, and the loud refusals on every file-level path (spec §Row-level
  * Deletes; the Delta analog is DeletionVectorSpec).
  */
class IcebergDeletesSpec extends SparkSuite {

  import spark.implicits._

  /** nation synced to a fresh Iceberg table; returns (tablePath, the one
    * data file's canonical path, row count). Single sorted data file so
    * position i holds the i-th smallest n_nationkey.
    */
  private def freshTable(srcSubdir: Option[String] = None)
      : (String, String, Long) = {
    val parquetDir = srcSubdir match {
      case None => tmpDir("ice_del_src")
      case Some(sub) =>
        val d = new java.io.File(tmpDir("ice_del_src"), sub)
        d.mkdirs(); d.toString
    }
    spark.read.parquet(sf("sf0.001/nation.parquet"))
      .repartition(1).sortWithinPartitions("n_nationkey")
      .write.mode("overwrite").parquet(parquetDir)
    val target = tmpDir("ice_del_tbl")
    val src = new ParquetDirectorySource(spark, parquetDir, "nation")
    val outcomes = TableFormatSync.syncSnapshot(
      Seq(new IcebergConversionTarget(spark, target)),
      src.currentSnapshot(), src.sourceFormat)
    assert(outcomes.forall(_.status == "SUCCESS"), outcomes.mkString(";"))
    val back = new IcebergConversionSource(spark, target, "nation")
    val files = back.currentSnapshot().files.collect()
    assert(files.length == 1)
    (target, files(0).path, files(0).recordCount)
  }

  test("position-delete commit masks deleted rows on toDataFrame") {
    val (table, dataFile, n) = freshTable()
    // delete positions 0, 3, 6, ... (every third row)
    val positions = (0L until n by 3).toSeq
    IcebergDeletes.appendPositionDeletes(spark, table,
      positions.map(p => (dataFile, p)).toDF("file_path", "pos"))

    val src = new IcebergConversionSource(spark, table, "nation")
    val keys = src.toDataFrame.select("n_nationkey")
      .as[Long].collect().sorted
    // sorted single file: position == rank of n_nationkey
    val allKeys = spark.read.parquet(sf("sf0.001/nation.parquet"))
      .select("n_nationkey").as[Long].collect().sorted
    val expected = allKeys.zipWithIndex
      .collect { case (k, i) if i % 3 != 0 => k }
    assert(keys.toSeq == expected.toSeq)
    // second read identical (no state leaked between reads)
    assert(src.toDataFrame.count() == expected.length.toLong)
  }

  test("position deletes mask under URI-encodable table paths") {
    // a space in the data-file dir makes `_metadata.file_path` (%-encoded
    // URI form) differ from the manifest-spelled canonical path — the same
    // wrong-answer class the Delta DV join closed (ADVICE r6)
    val (table, dataFile, n) = freshTable(Some("ware house/t 1"))
    assert(dataFile.contains("ware house/t 1"))
    IcebergDeletes.appendPositionDeletes(spark, table,
      (0L until n by 2).map(p => (dataFile, p)).toDF("file_path", "pos"))
    val got = new IcebergConversionSource(spark, table, "nation")
      .toDataFrame.count()
    assert(got == n - (n + 1) / 2, s"expected half masked of $n, got $got")
  }

  test("delete manifests never flow into the data plane as data files") {
    val (table, dataFile, n) = freshTable()
    IcebergDeletes.appendPositionDeletes(spark, table,
      Seq((dataFile, 0L)).toDF("file_path", "pos"))
    val m = IcebergMetadata.read(table,
      IcebergMetadata.currentVersion(table).get)
    val listPath = m.currentSnapshot.get.manifestList
    // the data-manifest view must still see exactly the one data file
    val dataManifests = IcebergManifests.readManifestList(listPath)
    val entries = dataManifests.flatMap(
      IcebergManifests.readManifest(_, graft.util.HadoopConfs.session(spark)))
    assert(entries.size == 1)
    assert(entries.head.get("data_file")
      .asInstanceOf[org.apache.avro.generic.GenericRecord]
      .get("file_path").toString == dataFile)
    // and the delete view sees exactly the delete file
    val refs = IcebergManifests.liveDeleteFiles(listPath)
    assert(refs.size == 1 && refs.head.content == 1 &&
      refs.head.recordCount == 1L)
  }

  test("file-level paths refuse loudly while deletes are live") {
    val (table, dataFile, _) = freshTable()
    IcebergDeletes.appendPositionDeletes(spark, table,
      Seq((dataFile, 1L)).toDF("file_path", "pos"))
    val src = new IcebergConversionSource(spark, table, "nation")
    // snapshot listing (sync source / catalog)
    intercept[DeletionVectorsUnsupported](src.currentSnapshot())
    // per-commit replay whose window covers the delete commit
    intercept[DeletionVectorsUnsupported](src.changeForCommit("2"))
    // 1:1 relation scan
    val e = intercept[Exception](
      spark.read.format("graft").load(table).count())
    def hasDv(t: Throwable): Boolean =
      t != null && (t.isInstanceOf[DeletionVectorsUnsupported] || hasDv(t.getCause))
    assert(hasDv(e), s"expected a DeletionVectorsUnsupported cause: $e")
    // sync target whose current snapshot carries delete manifests
    val tgt = new IcebergConversionTarget(spark, table)
    tgt.beginSync(new ParquetDirectorySource(spark,
      sf("sf0.001/region.parquet"), "region").currentTable())
    intercept[DeletionVectorsUnsupported](
      tgt.syncFilesForSnapshot(new ParquetDirectorySource(spark,
        sf("sf0.001/region.parquet"), "region").currentSnapshot().files))
  }

  test("equality deletes mask matching rows, null-safe") {
    val (table, _, n) = freshTable()
    val keys = spark.read.parquet(sf("sf0.001/nation.parquet"))
      .filter(col("n_nationkey") % 3 === 0).select("n_nationkey")
    val nDeleted = keys.count()
    IcebergDeletes.appendEqualityDeletes(spark, table, keys,
      Seq("n_nationkey"))
    val src = new IcebergConversionSource(spark, table, "nation")
    val got = src.toDataFrame
    assert(got.count() == n - nDeleted)
    assert(got.filter(col("n_nationkey") % 3 === 0).count() == 0)
    // file-level surfaces refuse equality deletes exactly like position
    intercept[DeletionVectorsUnsupported](src.currentSnapshot())
  }

  test("equality deletes are sequence-ordered: later appends survive") {
    val (table, _, n) = freshTable()
    val all = spark.read.parquet(sf("sf0.001/nation.parquet"))
    IcebergDeletes.appendEqualityDeletes(spark, table,
      all.filter(col("n_nationkey") % 3 === 0).select("n_nationkey"),
      Seq("n_nationkey"))
    // re-insert multiples of 5 AFTER the delete: their data-file sequence
    // is higher, so the delete must NOT touch them — even keys like 0 or
    // 15 that match the deleted key set
    val reDir = tmpDir("ice_del_reinsert")
    all.filter(col("n_nationkey") % 5 === 0)
      .write.mode("overwrite").parquet(reDir)
    IcebergDeletes.appendDataFiles(spark, table, reDir)
    val got = new IcebergConversionSource(spark, table, "nation")
      .toDataFrame.groupBy()
      .agg(count(lit(1)).as("cnt"), sum("n_nationkey").as("s")).head()
    val keys = all.select("n_nationkey").as[Long].collect()
    val want = keys.filter(_ % 3 != 0) ++ keys.filter(_ % 5 == 0)
    assert(got.getLong(0) == want.length.toLong)
    assert(got.getLong(1) == want.sum)
  }

  test("position and equality deletes compose on one table") {
    val (table, dataFile, n) = freshTable()
    // position-delete positions 0 and 1 (the two smallest keys), then
    // equality-delete the LARGEST key
    IcebergDeletes.appendPositionDeletes(spark, table,
      Seq((dataFile, 0L), (dataFile, 1L)).toDF("file_path", "pos"))
    val all = spark.read.parquet(sf("sf0.001/nation.parquet"))
      .select("n_nationkey").as[Long].collect().sorted
    IcebergDeletes.appendEqualityDeletes(spark, table,
      Seq(all.last).toDF("n_nationkey"), Seq("n_nationkey"))
    val got = new IcebergConversionSource(spark, table, "nation")
      .toDataFrame.select("n_nationkey").as[Long].collect().sorted
    assert(got.toSeq == all.drop(2).dropRight(1).toSeq)
  }

  test("rewriteWithDeletes purges deletes and reopens file-level paths") {
    val (table, dataFile, n) = freshTable()
    IcebergDeletes.appendPositionDeletes(spark, table,
      Seq((dataFile, 0L)).toDF("file_path", "pos"))
    val all = spark.read.parquet(sf("sf0.001/nation.parquet"))
    IcebergDeletes.appendEqualityDeletes(spark, table,
      all.filter(col("n_nationkey") % 3 === 0).select("n_nationkey"),
      Seq("n_nationkey"))
    val src = new IcebergConversionSource(spark, table, "nation")
    val expectRows = src.toDataFrame.count()
    intercept[DeletionVectorsUnsupported](src.currentSnapshot())

    assert(IcebergDeletes.rewriteWithDeletes(spark, table))
    // file-level surfaces work again and see the delete-applied rows
    val snap = new IcebergConversionSource(spark, table, "nation")
      .currentSnapshot()
    assert(snap.files.collect().forall(_.path.contains("/data/compact-")))
    assert(spark.read.format("graft").load(table).count() == expectRows)
    assert(expectRows < n)
    // idempotent: nothing left to rewrite
    assert(!IcebergDeletes.rewriteWithDeletes(spark, table))
  }

  test("delete-aware read plans as broadcast anti-joins, no sort-merge") {
    val (table, dataFile, _) = freshTable()
    IcebergDeletes.appendPositionDeletes(spark, table,
      Seq((dataFile, 0L)).toDF("file_path", "pos"))
    IcebergDeletes.appendEqualityDeletes(spark, table,
      Seq(7L).toDF("n_nationkey"), Seq("n_nationkey"))
    val df = new IcebergConversionSource(spark, table, "nation").toDataFrame
    val plan = df.queryExecution.executedPlan.toString
    val anti = "LeftAnti".r.findAllIn(plan).size
    assert(anti >= 2, s"expected pos+eq anti-joins, got $anti:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("change feed reconstructs position deletes, replace is invisible") {
    import spark.implicits._
    val (table, dataFile, n) = freshTable()
    IcebergDeletes.appendPositionDeletes(spark, table,
      (0L until n by 3).map(p => (dataFile, p)).toDF("file_path", "pos"))

    // feed across the delete step: exactly the masked rows, as deletes
    val feed = IcebergChanges.changesBetween(spark, table, 1L, 2L)
    val byType = feed.groupBy("_change_type").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(byType == Map("delete" -> ((n + 2) / 3)), byType.toString)
    val allKeys = spark.read.parquet(sf("sf0.001/nation.parquet"))
      .select("n_nationkey").as[Long].collect().sorted
    val expectDeleted = allKeys.zipWithIndex
      .collect { case (k, i) if i % 3 == 0 => k }.toSet
    assert(feed.filter(col("_change_type") === "delete")
      .select("n_nationkey").as[Long].collect().toSet == expectDeleted)

    // compaction: REPLACE snapshot — the widened feed must be identical
    assert(IcebergDeletes.rewriteWithDeletes(spark, table))
    val m = IcebergMetadata.read(table,
      IcebergMetadata.currentVersion(table).get)
    assert(m.currentSnapshot.get.operation == "replace")
    val widened = IcebergChanges.changesBetween(spark, table, 1L,
      m.lastSequenceNumber)
    assert(widened.groupBy("_change_type").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap == byType)
  }

  test("clustered rewrite: zorder during compaction, stats written, rows same") {
    import spark.implicits._
    // a multi-file table via a larger fixture
    val parquetDir = tmpDir("ice_z_src")
    spark.read.parquet(sf("sf0.001/customer.parquet"))
      .repartition(6).write.mode("overwrite").parquet(parquetDir)
    val target = tmpDir("ice_z_tbl")
    val src0 = new ParquetDirectorySource(spark, parquetDir, "customer")
    val outcomes = TableFormatSync.syncSnapshot(
      Seq(new IcebergConversionTarget(spark, target)),
      src0.currentSnapshot(), src0.sourceFormat)
    assert(outcomes.forall(_.status == "SUCCESS"))
    val want = new IcebergConversionSource(spark, target, "customer")
      .toDataFrame.select("c_custkey").as[Long].collect().sorted.toSeq

    // no deletes live — the rewrite happens because clustering was asked
    assert(IcebergDeletes.rewriteWithDeletes(spark, target,
      zorderBy = Seq("c_custkey", "c_acctbal"),
      targetFileBytes = 2L << 10))
    val back = new IcebergConversionSource(spark, target, "customer")
    val got = back.toDataFrame.select("c_custkey").as[Long]
      .collect().sorted.toSeq
    assert(got == want)

    // rewritten files carry column bounds and they are SELECTIVE: the
    // file whose range holds the min custkey is not the one holding max
    val files = back.currentSnapshot().files.collect()
    assert(files.length > 1, s"expected multiple clustered files")
    val keyStats = files.flatMap(_.columnStats.find(_.field == "c_custkey"))
    assert(keyStats.length == files.length, "missing custkey bounds")
    val mins = keyStats.flatMap(_.min).map(_.toLong)
    val maxs = keyStats.flatMap(_.max).map(_.toLong)
    assert(mins.max > maxs.min,
      s"clustered ranges should be disjoint-ish: mins=${mins.toSeq} maxs=${maxs.toSeq}")
  }

  test("delete-free tables are unaffected end-to-end") {
    val (table, _, n) = freshTable()
    val src = new IcebergConversionSource(spark, table, "nation")
    assert(src.toDataFrame.count() == n)
    assert(spark.read.format("graft").load(table).count() == n)
    // still syncs onward
    val deltaDir = tmpDir("ice_del_chain")
    val outcomes = TableFormatSync.syncSnapshot(
      Seq(new DeltaConversionTarget(spark, deltaDir)),
      src.currentSnapshot(), src.sourceFormat)
    assert(outcomes.forall(_.status == "SUCCESS"), outcomes.mkString(";"))
  }

  test("empty delete sets are a no-op, not a zero-entry delete manifest") {
    val (table, dataFile, _) = freshTable()
    val versionsBefore = IcebergMetadata.currentVersion(table).get
    IcebergDeletes.appendPositionDeletes(spark, table,
      Seq.empty[(String, Long)].toDF("file_path", "pos"))
    IcebergDeletes.appendEqualityDeletes(spark, table,
      spark.read.parquet(sf("sf0.001/nation.parquet"))
        .filter(lit(false)).select("n_nationkey"), Seq("n_nationkey"))
    // no snapshot was committed...
    assert(IcebergMetadata.currentVersion(table).get == versionsBefore)
    // ...and the file-level paths still work (no phantom delete manifest)
    val src = new IcebergConversionSource(spark, table, "nation")
    val deltaDir = tmpDir("ice_noop_chain")
    val outcomes = TableFormatSync.syncSnapshot(
      Seq(new DeltaConversionTarget(spark, deltaDir)),
      src.currentSnapshot(), src.sourceFormat)
    assert(outcomes.forall(_.status == "SUCCESS"), outcomes.mkString(";"))
  }

  test("updateWhere row delta: one snapshot, replacements survive the delete") {
    val (table, _, _) = freshTable()
    val vBefore = IcebergMetadata.currentVersion(table).get
    val keys = spark.read.parquet(sf("sf0.001/nation.parquet"))
      .select("n_nationkey").as[Long].collect().toSeq
    val n = IcebergDeletes.updateWhere(spark, table,
      col("n_nationkey") % 4 === 0,
      Map("n_nationkey" -> (col("n_nationkey") + 1000)))
    assert(n == keys.count(_ % 4 == 0).toLong)
    // ONE metadata version for mask + re-insert
    assert(IcebergMetadata.currentVersion(table).get == vBefore + 1)
    val got = new IcebergConversionSource(spark, table, "nation")
      .toDataFrame.select("n_nationkey").as[Long].collect().sorted.toSeq
    assert(got == keys.map(k => if (k % 4 == 0) k + 1000 else k).sorted)

    // a second update matching rows in the update-written files
    val n2 = IcebergDeletes.updateWhere(spark, table,
      col("n_nationkey") >= 1000,
      Map("n_nationkey" -> (col("n_nationkey") - 1000)))
    assert(n2 == n)
    assert(new IcebergConversionSource(spark, table, "nation")
      .toDataFrame.select("n_nationkey").as[Long].collect().sorted.toSeq
      == keys.sorted)
  }

  test("mergeInto upserts in one snapshot and refuses duplicate keys") {
    val (table, _, _) = freshTable()
    val nation = spark.read.parquet(sf("sf0.001/nation.parquet"))
    val keys = nation.select("n_nationkey").as[Long].collect().toSeq
    val source = nation.filter(col("n_nationkey") % 3 === 0)
      .withColumn("n_regionkey", col("n_regionkey") + 100)
      .unionByName(nation.filter(col("n_nationkey") % 5 === 0)
        .withColumn("n_nationkey", col("n_nationkey") + 500))
    val vBefore = IcebergMetadata.currentVersion(table).get
    val (m, i) = IcebergDeletes.mergeInto(spark, table, source,
      Seq("n_nationkey"))
    assert(m == keys.count(_ % 3 == 0).toLong)
    assert(i == keys.count(_ % 5 == 0).toLong)
    assert(IcebergMetadata.currentVersion(table).get == vBefore + 1)
    val got = new IcebergConversionSource(spark, table, "nation")
      .toDataFrame.select("n_nationkey", "n_regionkey")
      .as[(Long, Long)].collect().toMap
    val regions = nation.select("n_nationkey", "n_regionkey")
      .as[(Long, Long)].collect().toMap
    assert(got.size == keys.size + keys.count(_ % 5 == 0))
    for ((k, r) <- regions)
      assert(got(k) == (if (k % 3 == 0) r + 100 else r), s"key $k")
    for (k <- keys if k % 5 == 0) assert(got(k + 500) == regions(k))

    intercept[IllegalArgumentException] {
      IcebergDeletes.mergeInto(spark, table,
        source.unionByName(source), Seq("n_nationkey"))
    }
  }
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.formats.delta._
import graft.sources.ParquetDirectorySource
import graft.sync.TableFormatSync

/** Table-maintenance and change-feed operations as driver-gate queries:
  * OPTIMIZE (bin-packing), OPTIMIZE ZORDER, VACUUM and the row-level
  * change feed — each runs the real operation on a real Delta table and
  * reads the result back through the engine against a DuckDB oracle.
  */
object MaintenanceQueries {

  private def syncTable(s: SparkSession, srcDir: String, name: String,
      nFiles: Int, prefix: String): String = {
    val dataDir = graft.util.TempDirs.create(s"${prefix}_data")
    s.read.parquet(srcDir).repartition(nFiles)
      .write.mode("overwrite").parquet(dataDir)
    val target = graft.util.TempDirs.create(s"${prefix}_delta")
    val src = new ParquetDirectorySource(s, dataDir, name)
    val outcomes = TableFormatSync.syncSnapshot(
      Seq(new DeltaConversionTarget(s, target)),
      src.currentSnapshot(), src.sourceFormat)
    require(outcomes.forall(_.status == "SUCCESS"), outcomes.mkString(";"))
    target
  }

  /** DELETE leaves deletion vectors; OPTIMIZE must retire them and fold
    * the 8 small files, changing no rows — the read-back aggregates the
    * surviving rows only.
    */
  def deltaOptimizeCompact(s: SparkSession, dir: String): DataFrame = {
    val table = syncTable(s, s"$dir/customer.parquet", "customer", 8,
      "graft_opt")
    require(DeltaDeletes.deleteWhere(s, table, col("c_acctbal") < 0) > 0)
    val res = DeltaOptimize.compact(s, table)
    require(res.rewrote == 8 && res.wrote < 8, res.toString)
    val src = new DeltaConversionSource(s, table, "customer")
    val listing = src.currentSnapshot().files
    require(listing.collect().forall(_.deletionVector.isEmpty),
      "OPTIMIZE left live deletion vectors")
    src.toDataFrame
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("cnt"),
        Gate.sumMeasure(col("c_acctbal")).as("sum_bal"))
      .orderBy("c_mktsegment")
  }

  val deltaOptimizeCompactSql: String =
    s"""SELECT c_mktsegment, count(*) AS cnt,
       |  ${Gate.sumMeasureSql("c_acctbal")} AS sum_bal
       |FROM customer WHERE NOT (c_acctbal < 0)
       |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** ZORDER clusters (l_orderkey, l_partkey); rows must be identical
    * through the rewrite and the filtered read exercises the stat-skipping
    * the clustering exists for.
    */
  def deltaZorderRead(s: SparkSession, dir: String): DataFrame = {
    // phase-split for the bench: this is the most expensive gate on the
    // board and historically the noisiest (±40%) — the per-phase numbers
    // let a drift be attributed to sync vs rewrite vs read
    val table = graft.util.PhaseTimer.time("delta_zorder_read.sync") {
      syncTable(s, s"$dir/lineitem.parquet", "lineitem", 8, "graft_zorder")
    }
    val res = graft.util.PhaseTimer.time("delta_zorder_read.rewrite") {
      DeltaOptimize.zorderBy(s, table,
        Seq("l_orderkey", "l_partkey"), targetFileBytes = 256L << 10)
    }
    require(res.rewrote == 8 && res.wrote >= 1, res.toString)
    new DeltaConversionSource(s, table, "lineitem").toDataFrame
      .filter(col("l_partkey") <= 200)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("cnt"),
        Gate.sumMeasure(col("l_quantity")).as("sum_qty"))
      .orderBy("l_returnflag")
  }

  val deltaZorderReadSql: String =
    s"""SELECT l_returnflag, count(*) AS cnt,
       |  ${Gate.sumMeasureSql("l_quantity")} AS sum_qty
       |FROM lineitem WHERE l_partkey <= 200
       |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** SHALLOW CLONE independence: the clone reads the source's files
    * zero-copy, then a DELETE on the clone must leave the source's
    * row count untouched while the clone serves the post-delete state.
    */
  def deltaShallowClone(s: SparkSession, dir: String): DataFrame = {
    val table = syncTable(s, s"$dir/orders.parquet", "orders", 4,
      "graft_clone")
    val cloneDir = graft.util.TempDirs.create("graft_clone_dst")
    val res = graft.formats.delta.DeltaClone.shallowClone(s, table, cloneDir)
    require(res.files == 4, res.toString)
    val full = new DeltaConversionSource(s, table, "orders")
      .toDataFrame.count()
    require(DeltaDeletes.deleteWhere(s, cloneDir,
      col("o_orderstatus") === "F") > 0)
    require(new DeltaConversionSource(s, table, "orders")
      .toDataFrame.count() == full, "clone delete leaked into the source")
    new DeltaConversionSource(s, cloneDir, "orders").toDataFrame
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("cnt"),
        Gate.sumMeasure(col("o_totalprice")).as("sum_price"))
      .orderBy("o_orderstatus")
  }

  val deltaShallowCloneSql: String =
    s"""SELECT o_orderstatus, count(*) AS cnt,
       |  ${Gate.sumMeasureSql("o_totalprice")} AS sum_price
       |FROM orders WHERE o_orderstatus <> 'F'
       |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** Iceberg clustered rewrite (z-order REPLACE): after the rewrite a
    * point-range predicate must prune files via the manifests' column
    * bounds, and the rows must still match the oracle exactly.
    */
  def icebergZorderRead(s: SparkSession, dir: String): DataFrame = {
    val dataDir = graft.util.TempDirs.create("graft_icez_data")
    s.read.parquet(s"$dir/lineitem.parquet").repartition(8)
      .write.mode("overwrite").parquet(dataDir)
    val ice = graft.util.TempDirs.create("graft_icez")
    graft.util.PhaseTimer.time("iceberg_zorder_read.sync") {
      val src0 = new ParquetDirectorySource(s, dataDir, "lineitem")
      val outcomes = TableFormatSync.syncSnapshot(
        Seq(new graft.formats.iceberg.IcebergConversionTarget(s, ice)),
        src0.currentSnapshot(), src0.sourceFormat)
      require(outcomes.forall(_.status == "SUCCESS"), outcomes.mkString(";"))
    }
    graft.util.PhaseTimer.time("iceberg_zorder_read.rewrite") {
      require(graft.formats.iceberg.IcebergDeletes.rewriteWithDeletes(s, ice,
        zorderBy = Seq("l_orderkey", "l_partkey"),
        targetFileBytes = 256L << 10))
    }
    val back = new graft.formats.iceberg.IcebergConversionSource(
      s, ice, "lineitem")
    val snap = back.currentSnapshot()
    // the clustered layout must make bounds selective: a small l_partkey
    // range excludes at least one rewritten file by min/max
    val listing = snap.files.collect()
    val hit = listing.count(_.columnStats.exists(c =>
      c.field == "l_partkey" && c.min.exists(_.toLong <= 200)))
    require(listing.size > 1 && hit < listing.size,
      s"no bounds selectivity: $hit of ${listing.size}")
    back.toDataFrame
      .filter(col("l_partkey") <= 200)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("cnt"),
        Gate.sumMeasure(col("l_quantity")).as("sum_qty"))
      .orderBy("l_returnflag")
  }

  val icebergZorderReadSql: String =
    s"""SELECT l_returnflag, count(*) AS cnt,
       |  ${Gate.sumMeasureSql("l_quantity")} AS sum_qty
       |FROM lineitem WHERE l_partkey <= 200
       |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** The full maintenance cycle: DELETE → OPTIMIZE → ZORDER → VACUUM(0).
    * The sweep must remove the superseded in-table files (first rewrite's
    * data files + the DV files) and the final read must still match the
    * oracle — a vacuum that touches a referenced file cannot pass.
    */
  def deltaVacuumRead(s: SparkSession, dir: String): DataFrame = {
    val table = syncTable(s, s"$dir/customer.parquet", "customer", 4,
      "graft_vac")
    require(DeltaDeletes.deleteWhere(s, table, col("c_acctbal") < 0) > 0)
    val compacted = DeltaOptimize.compact(s, table)
    require(compacted.rewrote == 4, compacted.toString)
    val clustered = DeltaOptimize.zorderBy(s, table, Seq("c_custkey"))
    require(clustered.rewrote == compacted.wrote, clustered.toString)
    val swept = DeltaVacuum.vacuum(s, table, retentionMillis = 0L)
    require(swept.deleted >= compacted.wrote + 1, swept.toString)
    new DeltaConversionSource(s, table, "customer").toDataFrame
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("cnt"),
        Gate.sumMeasure(col("c_acctbal")).as("sum_bal"))
      .orderBy("c_mktsegment")
  }

  val deltaVacuumReadSql: String = deltaOptimizeCompactSql

  /** Hudi maintenance end-to-end: MOR upsert + delete + compaction leave
    * a superseded base file and absorbed logs; clean() must retire
    * exactly those, record a `.clean` instant, and the cleaned table must
    * still sync to Delta and read back the merged rows.
    */
  def hudiCleanSync(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import graft.formats.hudi._
    val hudiDir = graft.util.TempDirs.create("graft_hudi_clean")
    val deltaDir = graft.util.TempDirs.create("graft_hudi_clean_delta")
    Files.copy(Paths.get(s"$dir/nation.parquet"),
      Paths.get(hudiDir, "base1.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val base = s"$hudiDir/base1.parquet"
    val nation = s.read.parquet(base)
    HudiTimeline.writeProperties(hudiDir, "nation", "MERGE_ON_READ")
    require(HudiTimeline.writeCommit(HudiTimeline.CommitMeta("100", "commit",
      Map("" -> Seq(HudiTimeline.WriteStat(HudiTimeline.fileId(base),
        "base1.parquet", nation.count(), Files.size(Paths.get(base))))),
      Map.empty, Map("schema" -> nation.schema.json)), hudiDir))

    val source = nation.filter(col("n_nationkey") % 3 === 0)
      .withColumn("n_regionkey", col("n_regionkey") + 100)
      .unionByName(nation.filter(col("n_nationkey") % 5 === 0)
        .withColumn("n_nationkey", col("n_nationkey") + 500))
    HudiLogFiles.upsert(s, hudiDir, source, Seq("n_nationkey"))
    HudiLogFiles.deleteWhere(s, hudiDir, col("n_nationkey") % 2 === 0)
    require(HudiLogFiles.compact(s, hudiDir) > 0, "compaction was a no-op")

    val res = HudiMaintenance.clean(s, hudiDir, retainInstants = 1)
    require(res.deleted >= 2, res.toString)   // superseded base + logs
    require(!Files.exists(Paths.get(base)),
      "clean must retire the superseded base file")

    val src = new HudiConversionSource(s, hudiDir, "nation")
    val outcomes = TableFormatSync.syncSnapshot(
      Seq(new DeltaConversionTarget(s, deltaDir)), src.currentSnapshot(),
      src.sourceFormat)
    require(outcomes.forall(_.status == "SUCCESS"), outcomes.mkString(";"))
    new DeltaConversionSource(s, deltaDir, "nation").toDataFrame
      .agg(count(lit(1)).cast("long").as("cnt"),
        sum(col("n_nationkey")).cast("long").as("sum_key"),
        sum(col("n_regionkey")).cast("long").as("sum_region"))
  }

  val hudiCleanSyncSql: String = SyncQueries.hudiCompactSyncSql

  /** Iceberg maintenance end-to-end: two sync commits, expire all but the
    * newest snapshot, sweep orphans (expired manifest lists become
    * unreferenced), read the table back — the sweep must never touch a
    * file the retained snapshot references.
    */
  def icebergMaintenanceSweep(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val dataDir = graft.util.TempDirs.create("graft_iceorp_data")
    val ice = graft.util.TempDirs.create("graft_iceorp")
    val srcFile = Paths.get(s"$dir/customer.parquet")
    val controller = new graft.sync.ConversionController
    for (i <- 1 to 2) {
      Files.copy(srcFile, Paths.get(dataDir, s"f$i.parquet"))
      Paths.get(dataDir, s"f$i.parquet").toFile
        .setLastModified(i * 1000000L)
      val out = controller.sync(
        new ParquetDirectorySource(s, dataDir, "customer"),
        Seq(new graft.formats.iceberg.IcebergConversionTarget(s, ice)))
      require(out.forall(_.status == "SUCCESS"), out.mkString(";"))
    }
    val expired = graft.formats.iceberg.IcebergMaintenance
      .expireSnapshots(ice, retainLast = 1)
    require(expired.size == 1, expired.toString)
    val swept = graft.formats.iceberg.IcebergMaintenance
      .removeOrphanFiles(s, ice)
    require(swept.deleted >= 1, swept.toString)
    new graft.formats.iceberg.IcebergConversionSource(s, ice, "customer")
      .toDataFrame
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("cnt"),
        Gate.sumMeasure(col("c_acctbal")).as("sum_bal"))
      .orderBy("c_mktsegment")
  }

  val icebergMaintenanceSweepSql: String =
    s"""SELECT c_mktsegment, count(*) AS cnt,
       |  ${Gate.sumMeasureSql("c_acctbal")} AS sum_bal
       |FROM (SELECT * FROM customer UNION ALL SELECT * FROM customer)
       |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** Row-level change feed across a DELETE and a MERGE: the feed between
    * v0 and HEAD must reconstruct exactly the deletes (pre-images), the
    * merge's delete+insert pairs for matched keys, and the fresh inserts —
    * aggregated per _change_type so the oracle recomputes it in SQL.
    */
  def deltaChangesFeed(s: SparkSession, dir: String): DataFrame = {
    val table = syncTable(s, s"$dir/customer.parquet", "customer", 4,
      "graft_cdf")
    // CDF on: DELETE/MERGE below author _change_data sidecars and the
    // feed reads those (one scan for the whole range); the enable
    // commit itself is metaData-only and contributes nothing
    val v0 = DeltaChanges.enableChangeDataFeed(s, table)
    require(DeltaDeletes.deleteWhere(s, table, col("c_acctbal") < 0) > 0)
    // merge source: matched keys get c_acctbal+100, fresh keys appended
    val live = new DeltaConversionSource(s, table, "customer").toDataFrame
    val updates = live.filter(col("c_custkey") % 10 === 0)
      .withColumn("c_acctbal", col("c_acctbal") + 100.0)
    val freshInserts = live.filter(col("c_custkey") % 10 === 1)
      .withColumn("c_custkey", col("c_custkey") + 10000000L)
    DeltaDeletes.mergeInto(s, table, updates.unionByName(freshInserts),
      Seq("c_custkey"))
    val head = new DeltaConversionSource(s, table, "customer")
      .currentSnapshot().commitId.toLong
    DeltaChanges.changesBetween(s, table, v0, head)
      .groupBy("_change_type")
      .agg(count(lit(1)).as("cnt"),
        Gate.sumMeasure(col("c_acctbal")).as("sum_bal"))
      .orderBy("_change_type")
  }

  /** Iceberg row-level change feed across an UPDATE (equality-delete row
    * delta) and a REPLACE compaction: the feed must show exactly the
    * update's delete+insert pairs, and the compaction — a layout-only
    * REPLACE snapshot — must contribute NOTHING (feed before and after
    * compaction is identical).
    */
  def icebergChangesFeed(s: SparkSession, dir: String): DataFrame = {
    val dataDir = graft.util.TempDirs.create("graft_icecdf_data")
    s.read.parquet(s"$dir/customer.parquet").repartition(4)
      .write.mode("overwrite").parquet(dataDir)
    val ice = graft.util.TempDirs.create("graft_icecdf")
    val src0 = new ParquetDirectorySource(s, dataDir, "customer")
    val outcomes = TableFormatSync.syncSnapshot(
      Seq(new graft.formats.iceberg.IcebergConversionTarget(s, ice)),
      src0.currentSnapshot(), src0.sourceFormat)
    require(outcomes.forall(_.status == "SUCCESS"), outcomes.mkString(";"))
    val updated = graft.formats.iceberg.IcebergDeletes.updateWhere(s, ice,
      col("c_custkey") % 10 === 0,
      Map("c_acctbal" -> (col("c_acctbal") + 100.0)))
    require(updated > 0)
    // pin both 2-row aggregates: each feed pipeline (snapshot diff reads)
    // runs ONCE, not once per exceptAll side plus once for the result
    val feed = graft.formats.iceberg.IcebergChanges
      .changesBetween(s, ice, 1L, 2L)
      .groupBy("_change_type")
      .agg(count(lit(1)).as("cnt"),
        Gate.sumMeasure(col("c_acctbal")).as("sum_bal"))
      .localCheckpoint(eager = false)   // lazy pin: exceptAll materializes
    // compaction rewrites every file; the feed must not change
    require(graft.formats.iceberg.IcebergDeletes.rewriteWithDeletes(s, ice))
    val m = graft.formats.iceberg.IcebergMetadata.read(ice,
      graft.formats.iceberg.IcebergMetadata.currentVersion(ice).get)
    val afterCompact = graft.formats.iceberg.IcebergChanges
      .changesBetween(s, ice, 1L, m.lastSequenceNumber)
      .groupBy("_change_type")
      .agg(count(lit(1)).as("cnt"),
        Gate.sumMeasure(col("c_acctbal")).as("sum_bal"))
      .localCheckpoint(eager = false)   // lazy pin: exceptAll materializes
    require(afterCompact.exceptAll(feed).isEmpty &&
      feed.exceptAll(afterCompact).isEmpty,
      "REPLACE compaction leaked into the change feed")
    afterCompact.orderBy("_change_type")
  }

  val icebergChangesFeedSql: String =
    s"""WITH feed AS (
       |  SELECT 'delete' AS _change_type, c_acctbal FROM customer
       |  WHERE c_custkey % 10 = 0
       |  UNION ALL
       |  SELECT 'insert' AS _change_type, c_acctbal + 100 AS c_acctbal
       |  FROM customer WHERE c_custkey % 10 = 0)
       |SELECT _change_type, count(*) AS cnt,
       |  ${Gate.sumMeasureSql("c_acctbal")} AS sum_bal
       |FROM feed GROUP BY _change_type ORDER BY _change_type""".stripMargin

  /** Paimon change feed through the unified reader: snapshot 1 holds
    * files A (odd custkeys) + B (even custkeys); snapshot 2 swaps B for
    * B' (the same even-custkey rows with c_acctbal + 100) via a diff
    * sync. The `(1, head]` feed must replay exactly B's rows as deletes
    * and B''s as inserts — whole-file ADD/DELETE replay from the delta
    * manifests, the Paimon reconstruction contract.
    */
  def paimonChangesFeed(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.ParquetFooters
    val conf = graft.util.HadoopConfs.session(s)
    val customer = s.read.parquet(s"$dir/customer.parquet")
    def stage(name: String, df: DataFrame): String = {
      val d = graft.util.TempDirs.create(s"graft_pcdf_$name")
      df.coalesce(2).write.mode("overwrite").parquet(d)
      d
    }
    val dirA = stage("a", customer.filter(col("c_custkey") % 2 === 1))
    val dirB = stage("b", customer.filter(col("c_custkey") % 2 === 0))
    val dirB2 = stage("b2", customer.filter(col("c_custkey") % 2 === 0)
      .withColumn("c_acctbal", col("c_acctbal") + 100.0))
    def entriesOf(d: String) =
      ParquetFooters.fileEntries(s, d, ParquetFooters.listFiles(d, conf))
    val table = graft.util.TempDirs.create("graft_pcdf_paimon")
    val tgt = new graft.formats.paimon.PaimonConversionTarget(s, table)
    val schema = customer.schema
    val desc = graft.model.TableDescriptor("customer",
      graft.model.TableFormats.Paimon, table, schema, Nil,
      graft.model.Layout.Flat, 0L)
    def commit(f: graft.formats.paimon.PaimonConversionTarget => Unit)
        : Unit = {
      tgt.beginSync(desc)
      tgt.syncMetadata(graft.spi.SyncMetadata("1", Nil,
        graft.model.TableFormats.Parquet, dirA))
      tgt.syncSchema(schema)
      tgt.syncPartitionSpec(Nil)
      f(tgt)
      tgt.completeSync()
    }
    commit(_.syncFilesForSnapshot(entriesOf(dirA).union(entriesOf(dirB))))
    commit(_.syncFilesForDiff(graft.model.FilesDelta(
      entriesOf(dirB2), entriesOf(dirB))))
    s.read.format("graft")
      .option("readChangeFeed", "true").option("startingVersion", "1")
      .load(table)
      .groupBy("_change_type")
      .agg(count(lit(1)).as("cnt"),
        Gate.sumMeasure(col("c_acctbal")).as("sum_bal"))
      .orderBy("_change_type")
  }

  /** Paimon row-level DELETE (copy-on-write file swap): sync customer
    * to Paimon, delete the negative balances, read back through the
    * unified reader — the committed file swap must serve exactly the
    * surviving rows.
    */
  def paimonDeleteWhere(s: SparkSession, dir: String): DataFrame = {
    val dataDir = graft.util.TempDirs.create("graft_pdel_data")
    s.read.parquet(s"$dir/customer.parquet").repartition(4)
      .write.mode("overwrite").parquet(dataDir)
    val target = graft.util.TempDirs.create("graft_pdel_paimon")
    val src0 = new ParquetDirectorySource(s, dataDir, "customer")
    val outcomes = TableFormatSync.syncSnapshot(
      Seq(new graft.formats.paimon.PaimonConversionTarget(s, target)),
      src0.currentSnapshot(), src0.sourceFormat)
    require(outcomes.forall(_.status == "SUCCESS"), outcomes.mkString(";"))
    require(graft.formats.paimon.PaimonDeletes.deleteWhere(s, target,
      col("c_acctbal") < 0) > 0)
    s.read.format("graft").load(target)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("cnt"),
        Gate.sumMeasure(col("c_acctbal")).as("sum_bal"))
      .orderBy("c_mktsegment")
  }

  val paimonDeleteWhereSql: String =
    s"""SELECT c_mktsegment, count(*) AS cnt,
       |  ${Gate.sumMeasureSql("c_acctbal")} AS sum_bal
       |FROM customer WHERE NOT (c_acctbal < 0)
       |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** Paimon VACUUM (snapshot expiration + orphan sweep): sync (snap 1),
    * batch append (snap 2), row-level delete whose rewrite strands the
    * victim files (snap 3), then `GRAFT VACUUM ... RETAIN 0 HOURS`
    * expires to the head snapshot and sweeps every file no retained
    * snapshot references. The read-back after the sweep is the proof no
    * live file was touched; the in-gate requires pin that files WERE
    * deleted and that expired history is gone.
    */
  def paimonVacuumRead(s: SparkSession, dir: String): DataFrame = {
    val region = s.read.parquet(s"$dir/region.parquet")
    val target = graft.util.TempDirs.create("graft_pvac_paimon")
    val src0 = new ParquetDirectorySource(s, s"$dir/region.parquet",
      "region")
    val outcomes = TableFormatSync.syncSnapshot(
      Seq(new graft.formats.paimon.PaimonConversionTarget(s, target)),
      src0.currentSnapshot(), src0.sourceFormat)
    require(outcomes.forall(_.status == "SUCCESS"), outcomes.mkString(";"))
    region.withColumn("r_regionkey", col("r_regionkey") + 10)
      .write.format("graft").option("tableFormat", "paimon")
      .mode("append").save(target)
    require(graft.formats.paimon.PaimonDeletes.deleteWhere(s, target,
      col("r_regionkey") % 2 === 0) > 0)

    val gs = graft.sql.GraftSql.session(s)
    val deleted = gs.sql(s"GRAFT VACUUM '$target' RETAIN 0 HOURS")
      .head().getLong(0)
    require(deleted >= 1, s"vacuum deleted nothing at $target")
    require(graft.formats.paimon.PaimonFormat.listSnapshotIds(target)
      == Seq(3L), "expiration must retain exactly the head snapshot")
    // expired history is gone for time travel too
    intercept_noSnapshot(s, target)

    s.read.format("graft").load(target)
      .agg(count(lit(1)).as("cnt"),
        sum(col("r_regionkey")).cast("long").as("sum_key"))
  }

  private def intercept_noSnapshot(s: SparkSession, target: String): Unit = {
    val travelled =
      try {
        s.read.format("graft").option("versionAsOf", "1").load(target)
          .count()
        true
      } catch { case _: Exception => false }
    if (travelled) throw new IllegalStateException(
      "time travel to an expired Paimon snapshot must fail")
  }

  val paimonVacuumReadSql: String =
    """WITH u AS (
      |  SELECT r_regionkey FROM region
      |  UNION ALL
      |  SELECT r_regionkey + 10 FROM region)
      |SELECT count(*) AS cnt, CAST(sum(r_regionkey) AS BIGINT) AS sum_key
      |FROM u WHERE r_regionkey % 2 <> 0""".stripMargin

  val paimonChangesFeedSql: String =
    s"""WITH feed AS (
       |  SELECT 'delete' AS _change_type, c_acctbal FROM customer
       |  WHERE c_custkey % 2 = 0
       |  UNION ALL
       |  SELECT 'insert' AS _change_type, c_acctbal + 100 AS c_acctbal
       |  FROM customer WHERE c_custkey % 2 = 0)
       |SELECT _change_type, count(*) AS cnt,
       |  ${Gate.sumMeasureSql("c_acctbal")} AS sum_bal
       |FROM feed GROUP BY _change_type ORDER BY _change_type""".stripMargin

  /** Incremental CDF consumption through the checkpointed stream
    * ([[graft.streaming.ChangeFeedStream]]): the DELETE batch is
    * delivered and offset-committed BEFORE the UPDATE commit exists, the
    * second catch-up delivers exactly the update, a third delivers
    * nothing — and the union of delivered batches must equal the full
    * feed the oracle derives.
    */
  def streamingChangeFeed(s: SparkSession, dir: String): DataFrame = {
    val table = syncTable(s, s"$dir/customer.parquet", "customer", 4,
      "graft_cfs")
    val v0 = DeltaChanges.enableChangeDataFeed(s, table)
    val stream = new graft.streaming.ChangeFeedStream(s, table,
      graft.util.TempDirs.create("graft_cfs_ckpt"),
      startingVersion = Some(v0))
    val batches = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def fn(df: DataFrame, a: Long, b: Long): Unit = batches += df
    require(DeltaDeletes.deleteWhere(s, table, col("c_acctbal") < 0) > 0)
    require(stream.deliverOnce(fn) == 1L)
    require(DeltaDeletes.updateWhere(s, table, col("c_custkey") % 7 === 0,
      Map("c_acctbal" -> (col("c_acctbal") + 25.0))) > 0)
    require(stream.deliverOnce(fn) == 1L)
    require(stream.deliverOnce(fn) == 0L, "caught-up stream re-delivered")
    batches.reduce(_ unionByName _)
      .groupBy("_change_type")
      .agg(count(lit(1)).as("cnt"),
        Gate.sumMeasure(col("c_acctbal")).as("sum_bal"))
      .orderBy("_change_type")
  }

  val streamingChangeFeedSql: String = {
    val live = "c_acctbal >= 0 OR c_acctbal IS NULL"
    s"""WITH feed AS (
       |  SELECT 'delete' AS _change_type, c_acctbal FROM customer
       |  WHERE c_acctbal < 0
       |  UNION ALL
       |  SELECT 'update_preimage' AS _change_type, c_acctbal FROM customer
       |  WHERE ($live) AND c_custkey % 7 = 0
       |  UNION ALL
       |  SELECT 'update_postimage' AS _change_type,
       |    c_acctbal + 25 AS c_acctbal FROM customer
       |  WHERE ($live) AND c_custkey % 7 = 0)
       |SELECT _change_type, count(*) AS cnt,
       |  ${Gate.sumMeasureSql("c_acctbal")} AS sum_bal
       |FROM feed GROUP BY _change_type ORDER BY _change_type""".stripMargin
  }

  /** The oracle re-derives each feed row class from the base table — the
    * CDC sidecars carry the full spec vocabulary, so the DELETE shows as
    * `delete` pre-images and the MERGE's matched rows as their
    * `update_preimage`/`update_postimage` pair (not the reconstruction
    * path's delete+insert collapse), with fresh merge keys as `insert`.
    */
  val deltaChangesFeedSql: String = {
    val live = "c_acctbal >= 0 OR c_acctbal IS NULL"
    s"""WITH feed AS (
       |  SELECT 'delete' AS _change_type, c_acctbal FROM customer
       |  WHERE c_acctbal < 0
       |  UNION ALL
       |  SELECT 'update_preimage' AS _change_type, c_acctbal FROM customer
       |  WHERE ($live) AND c_custkey % 10 = 0
       |  UNION ALL
       |  SELECT 'update_postimage' AS _change_type,
       |    c_acctbal + 100 AS c_acctbal FROM customer
       |  WHERE ($live) AND c_custkey % 10 = 0
       |  UNION ALL
       |  SELECT 'insert' AS _change_type, c_acctbal FROM customer
       |  WHERE ($live) AND c_custkey % 10 = 1)
       |SELECT _change_type, count(*) AS cnt,
       |  ${Gate.sumMeasureSql("c_acctbal")} AS sum_bal
       |FROM feed GROUP BY _change_type ORDER BY _change_type""".stripMargin
  }

  /** RESTORE after a row-level DELETE: the restore commit re-adds the
    * pre-delete file descriptions (DV-less) and the read-back must show
    * every original row — a restore that missed a DV change, or re-added
    * a wrong stats line, fails the hash.
    */
  def deltaRestoreRead(s: SparkSession, dir: String): DataFrame = {
    val table = syncTable(s, s"$dir/customer.parquet", "customer", 4,
      "graft_restore")
    require(DeltaDeletes.deleteWhere(s, table, col("c_acctbal") < 0) > 0)
    val res = DeltaRestore.restoreTo(s, table, version = 0L)
    require(res.readded == 4 && res.removed == 4, res.toString)
    // restoring the restore away again must be a clean no-op diff
    val again = DeltaRestore.restoreTo(s, table, res.version)
    require(again.readded == 0 && again.removed == 0, again.toString)
    new DeltaConversionSource(s, table, "customer").toDataFrame
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("cnt"),
        Gate.sumMeasure(col("c_acctbal")).as("sum_bal"))
      .orderBy("c_mktsegment")
  }

  val deltaRestoreReadSql: String =
    s"""SELECT c_mktsegment, count(*) AS cnt,
       |  ${Gate.sumMeasureSql("c_acctbal")} AS sum_bal
       |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** CHECK constraints end-to-end: adding one that existing rows violate
    * refuses; a violating UPDATE refuses with nothing written; a
    * compliant UPDATE lands — the read-back matches only if exactly the
    * compliant write happened.
    */
  def deltaConstraintsCheck(s: SparkSession, dir: String): DataFrame = {
    val table = syncTable(s, s"$dir/customer.parquet", "customer", 4,
      "graft_constraints")
    // existing rows have negative balances: this CHECK must refuse
    try {
      DeltaConstraints.addCheck(s, table, "nonneg", "c_acctbal >= 0")
      require(false, "addCheck accepted a violated constraint")
    } catch { case e: IllegalArgumentException =>
      require(e.getMessage.contains("existing rows violate"), e.getMessage)
    }
    DeltaConstraints.addCheck(s, table, "bal_cap", "c_acctbal <= 100000")
    // violating UPDATE: refused loudly, nothing written
    try {
      DeltaDeletes.updateWhere(s, table, col("c_custkey") % 10 === 0,
        Map("c_acctbal" -> lit(999999.0)))
      require(false, "updateWhere accepted a constraint violation")
    } catch { case e: IllegalArgumentException =>
      require(e.getMessage.contains("bal_cap"), e.getMessage)
    }
    // compliant UPDATE lands
    require(DeltaDeletes.updateWhere(s, table, col("c_custkey") % 10 === 0,
      Map("c_acctbal" -> (col("c_acctbal") - 100.0))) > 0)
    new DeltaConversionSource(s, table, "customer").toDataFrame
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("cnt"),
        Gate.sumMeasure(col("c_acctbal")).as("sum_bal"))
      .orderBy("c_mktsegment")
  }

  val deltaConstraintsCheckSql: String =
    s"""WITH updated AS (
       |  SELECT c_mktsegment,
       |    CASE WHEN c_custkey % 10 = 0 THEN c_acctbal - 100
       |         ELSE c_acctbal END AS c_acctbal
       |  FROM customer)
       |SELECT c_mktsegment, count(*) AS cnt,
       |  ${Gate.sumMeasureSql("c_acctbal")} AS sum_bal
       |FROM updated GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** The SQL command surface end-to-end: DELETE, OPTIMIZE and UPDATE run
    * as `spark.sql("GRAFT ...")` statements through the injected parser
    * (an extensions-enabled sibling session on the same context), and
    * the read-back matches only if all three executed with their library
    * semantics.
    */
  def sqlMaintenanceOps(s: SparkSession, dir: String): DataFrame = {
    val table = syncTable(s, s"$dir/customer.parquet", "customer", 4,
      "graft_sqlops")
    val gs = graft.sql.GraftSql.session(s)
    require(gs.sql(s"GRAFT DELETE FROM '$table' WHERE c_acctbal < 0")
      .head().getLong(0) > 0)
    val opt = gs.sql(s"GRAFT OPTIMIZE '$table'").head()
    require(opt.getLong(0) == 4, s"optimize rewrote ${opt.getLong(0)}")
    require(gs.sql(s"GRAFT UPDATE '$table' SET c_acctbal = c_acctbal + 50.0" +
      " WHERE c_custkey % 10 = 0").head().getLong(0) > 0)
    new DeltaConversionSource(s, table, "customer").toDataFrame
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("cnt"),
        Gate.sumMeasure(col("c_acctbal")).as("sum_bal"))
      .orderBy("c_mktsegment")
  }

  val sqlMaintenanceOpsSql: String =
    s"""WITH live AS (
       |  SELECT c_mktsegment, c_custkey, c_acctbal FROM customer
       |  WHERE NOT (c_acctbal < 0)),
       |updated AS (
       |  SELECT c_mktsegment,
       |    CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 50
       |         ELSE c_acctbal END AS c_acctbal
       |  FROM live)
       |SELECT c_mktsegment, count(*) AS cnt,
       |  ${Gate.sumMeasureSql("c_acctbal")} AS sum_bal
       |FROM updated GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** Incremental materialized-view maintenance: a grouped COUNT+SUM view
    * refreshes from the change feed across an initial load, an append
    * and a row-level delete — never rescanning the table — and must
    * equal the full recompute the oracle runs. A fourth refresh with no
    * new commits is asserted a no-op in-gate.
    */
  def mvIncrementalAgg(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.MaterializedAgg
    val t = graft.util.TempDirs.create("graft_mv_tbl")
    val mv = graft.util.TempDirs.create("graft_mv_state")
    // a 1/8 slice keeps the gate about the REFRESH folds, not about
    // writing a large table twice (the write path has its own gates)
    val li = s.read.parquet(s"$dir/lineitem.parquet")
      .filter(col("l_orderkey") % 8 === 0)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_returnflag"), col("l_quantity"))
    val keys = Seq("l_returnflag")
    val measures = Seq("l_quantity")

    // phase attribution (bench `phases` key): table builds + the DV
    // delete are fixed setup cost; an IVM fold regression must show in
    // the `.fold*` keys, not hide inside the total.
    import graft.util.PhaseTimer
    PhaseTimer.time("mv_incremental_agg.build1") {
      li.filter(col("l_linenumber") % 2 === 0)
        .write.format("graft").save(t)
    }
    PhaseTimer.time("mv_incremental_agg.fold1") {
      MaterializedAgg.refresh(s, t, mv, keys, measures)
    }
    PhaseTimer.time("mv_incremental_agg.build2") {
      li.filter(col("l_linenumber") % 2 === 1)
        .write.format("graft").mode("append").save(t)
    }
    PhaseTimer.time("mv_incremental_agg.fold2") {
      MaterializedAgg.refresh(s, t, mv, keys, measures)
    }
    PhaseTimer.time("mv_incremental_agg.delete") {
      DeltaDeletes.deleteWhere(s, t, col("l_quantity") < 5)
    }
    val (r3, r4) = PhaseTimer.time("mv_incremental_agg.fold34") {
      val a = MaterializedAgg.refresh(s, t, mv, keys, measures)
      (a, MaterializedAgg.refresh(s, t, mv, keys, measures))
    }
    require(r4.toVersion == r3.toVersion && r4.groups == r3.groups,
      s"refresh with no new commits must be a no-op: $r3 vs $r4")

    MaterializedAgg.read(s, mv)
      .select(col("l_returnflag"),
        col("__mv_count").as("cnt"),
        Gate.microsToDouble(col("__mv_sum_l_quantity")).as("sum_qty"))
      .orderBy("l_returnflag")
  }

  val mvIncrementalAggSql: String =
    s"""SELECT l_returnflag, count(*) AS cnt,
       |  ${Gate.sumMeasureSql("l_quantity")} AS sum_qty
       |FROM lineitem
       |WHERE l_orderkey % 8 = 0 AND NOT (l_quantity < 5)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** SQL `GRAFT MERGE INTO ... USING ... ON KEYS (...)` routed across
    * ALL FOUR formats (Delta DV-mask+append, Iceberg eq-deletes+append,
    * Hudi native MOR upsert, Paimon copy-on-write rewrite): each format
    * gets a fresh region table, the same parquet source (keys 0,1
    * updated to MERGED, keys 7,8 inserted) merges by key through the
    * one SQL statement, and the merged tables read back through each
    * format's row-level machinery. Identical aggregates across formats
    * = identical merge semantics.
    */
  def sqlMergeRouted(s: SparkSession, dir: String): DataFrame = {
    val region = s.read.parquet(s"$dir/region.parquet")
    val srcDf = region.filter(col("r_regionkey") < 2)
      .withColumn("r_name", lit("MERGED"))
      .unionByName(region.filter(col("r_regionkey") < 2)
        .withColumn("r_regionkey", col("r_regionkey") + 7)
        .withColumn("r_name", lit("MERGED")))
    val srcDir = graft.util.TempDirs.create("graft_merge_src")
    srcDf.write.mode("overwrite").parquet(srcDir)
    val gs = graft.sql.GraftSql.session(s)

    def freshTable(fmt: String): String = fmt match {
      case "hudi" =>
        val t = graft.util.TempDirs.create("graft_mrg_hudi")
        java.nio.file.Files.copy(
          java.nio.file.Paths.get(s"$dir/region.parquet"),
          java.nio.file.Paths.get(t, "base1.parquet"))
        val base = s"$t/base1.parquet"
        graft.formats.hudi.HudiTimeline.writeProperties(t, "region",
          "MERGE_ON_READ")
        require(graft.formats.hudi.HudiTimeline.writeCommit(
          graft.formats.hudi.HudiTimeline.CommitMeta("100", "commit",
            Map("" -> Seq(graft.formats.hudi.HudiTimeline.WriteStat(
              graft.formats.hudi.HudiTimeline.fileId(base),
              "base1.parquet", region.count(),
              java.nio.file.Files.size(
                java.nio.file.Paths.get(base))))),
            Map.empty, Map("schema" -> region.schema.json)), t))
        t
      case other =>
        val t = graft.util.TempDirs.create(s"graft_mrg_$other")
        val src = new ParquetDirectorySource(s, s"$dir/region.parquet",
          "region")
        val tgt = other match {
          case "delta" => new DeltaConversionTarget(s, t)
          case "iceberg" => new graft.formats.iceberg
            .IcebergConversionTarget(s, t)
          case "paimon" => new graft.formats.paimon
            .PaimonConversionTarget(s, t)
        }
        val o = TableFormatSync.syncSnapshot(Seq(tgt),
          src.currentSnapshot(), src.sourceFormat)
        require(o.forall(_.status == "SUCCESS"), o.mkString(";"))
        t
    }

    // the four format legs are fully independent (fresh tables, one
    // shared read-only source dir) — submit them concurrently (guide
    // §2.6) so one leg's driver-side commit work overlaps another's
    // tasks; serial wall-clock was the sum of four legs
    val merged = graft.util.Par.map(
      Seq("delta", "hudi", "iceberg", "paimon")) { fmt =>
      // per-format phase timing (bench `phases` key): a single-format
      // regression must attribute, not hide inside the 4-format total
      // (legs overlap, so phases sum past the gate's wall-clock)
      val table = graft.util.PhaseTimer.time(s"sql_merge_routed.$fmt") {
        val t = freshTable(fmt)
        val r = gs.sql(s"GRAFT MERGE INTO '$t' USING '$srcDir' " +
          "ON KEYS (r_regionkey)").head()
        require(r.getLong(0) == 2 && r.getLong(1) == 2,
          s"$fmt merge expected (2 matched, 2 inserted), got $r")
        t
      }
      val back = fmt match {
        case "hudi" => new graft.formats.hudi.HudiConversionSource(
          s, table, "region", "snapshot").toDataFrame
        // Delta and Iceberg merges leave live row-level deletes, which
        // format("graft")'s 1:1 file listing refuses by design — read
        // through the delete-masking sources
        case "delta" =>
          new DeltaConversionSource(s, table, "region").toDataFrame
        case "iceberg" =>
          new graft.formats.iceberg.IcebergConversionSource(
            s, table, "region").toDataFrame
        case _ => s.read.format("graft").load(table)
      }
      back.select(lit(fmt).as("fmt"), col("r_regionkey"), col("r_name"))
    }.reduce(_ unionByName _)

    merged.groupBy("fmt")
      .agg(count(lit(1)).as("cnt"),
        sum(col("r_regionkey")).cast("long").as("sum_key"),
        sum(when(col("r_name") === "MERGED", 1L).otherwise(0L))
          .as("n_merged"))
      .orderBy("fmt")
  }

  val sqlMergeRoutedSql: String =
    """WITH f AS (
      |  SELECT unnest(['delta', 'hudi', 'iceberg', 'paimon']) AS fmt),
      |m AS (SELECT count(*) + 2 AS cnt,
      |  CAST(sum(r_regionkey) + 15 AS BIGINT) AS sum_key,
      |  CAST(4 AS BIGINT) AS n_merged FROM region)
      |SELECT fmt, cnt, sum_key, n_merged FROM f CROSS JOIN m
      |ORDER BY fmt""".stripMargin

  private def icebergTableOf(s: SparkSession, dir: String, prefix: String)
      : String = {
    val dataDir = graft.util.TempDirs.create(s"${prefix}_data")
    s.read.parquet(s"$dir/customer.parquet").repartition(4)
      .write.mode("overwrite").parquet(dataDir)
    val ice = graft.util.TempDirs.create(prefix)
    val src = new ParquetDirectorySource(s, dataDir, "customer")
    val outcomes = TableFormatSync.syncSnapshot(
      Seq(new graft.formats.iceberg.IcebergConversionTarget(s, ice)),
      src.currentSnapshot(), src.sourceFormat)
    require(outcomes.forall(_.status == "SUCCESS"), outcomes.mkString(";"))
    ice
  }

  /** ROLLBACK past an UPDATE: the head must serve the pre-update rows
    * (metadata-only state surgery; no file rewritten), and a new commit
    * after the rollback must land at a FRESH sequence number.
    */
  def icebergRollbackRead(s: SparkSession, dir: String): DataFrame = {
    import graft.formats.iceberg._
    val ice = icebergTableOf(s, dir, "graft_rollback")
    require(IcebergDeletes.updateWhere(s, ice, col("c_custkey") % 10 === 0,
      Map("c_acctbal" -> (col("c_acctbal") + 100.0))) > 0)
    IcebergRefs.rollbackTo(s, ice, seq = 1L)
    val m = IcebergMetadata.read(ice,
      IcebergMetadata.currentVersion(ice).get)
    require(m.headSequence == 1L && m.lastSequenceNumber == 2L, m.toString)
    new IcebergConversionSource(s, ice, "customer").toDataFrame
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("cnt"),
        Gate.sumMeasure(col("c_acctbal")).as("sum_bal"))
      .orderBy("c_mktsegment")
  }

  val icebergRollbackReadSql: String = deltaRestoreReadSql

  /** Snapshot refs: a tag pinned before an UPDATE must keep serving the
    * original rows through `format("graft").option("branch", ...)` while
    * the head serves the updated ones — both sides in one labeled result.
    */
  def icebergBranchRead(s: SparkSession, dir: String): DataFrame = {
    import graft.formats.iceberg._
    val ice = icebergTableOf(s, dir, "graft_branch")
    IcebergRefs.createTag(s, ice, "before-update")
    require(IcebergDeletes.updateWhere(s, ice, col("c_custkey") % 10 === 0,
      Map("c_acctbal" -> (col("c_acctbal") + 100.0))) > 0)
    val tagged = s.read.format("graft").option("branch", "before-update")
      .load(ice)
    val head = new IcebergConversionSource(s, ice, "customer").toDataFrame
    tagged.select(lit("tag").as("side"), col("c_acctbal"))
      .unionByName(head.select(lit("head").as("side"), col("c_acctbal")))
      .groupBy("side")
      .agg(count(lit(1)).as("cnt"),
        Gate.sumMeasure(col("c_acctbal")).as("sum_bal"))
      .orderBy("side")
  }

  val icebergBranchReadSql: String =
    s"""WITH sides AS (
       |  SELECT 'tag' AS side, c_acctbal FROM customer
       |  UNION ALL
       |  SELECT 'head' AS side,
       |    CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 100
       |         ELSE c_acctbal END AS c_acctbal
       |  FROM customer)
       |SELECT side, count(*) AS cnt,
       |  ${Gate.sumMeasureSql("c_acctbal")} AS sum_bal
       |FROM sides GROUP BY side ORDER BY side""".stripMargin

  /** Write-audit-publish: stage an append on a branch (main untouched),
    * audit the branch through the reader, fast-forward main to publish.
    * The gate pins all three states: main before publish, the audited
    * branch, and main after — any leak of staged rows into main before
    * the publish (or loss after) breaks the oracle.
    */
  def icebergWapPublish(s: SparkSession, dir: String): DataFrame = {
    import graft.formats.iceberg._
    val dataDir = graft.util.TempDirs.create("graft_wap_data")
    s.read.parquet(s"$dir/region.parquet")
      .write.mode("overwrite").parquet(dataDir)
    val ice = graft.util.TempDirs.create("graft_wap_ice")
    val src0 = new ParquetDirectorySource(s, dataDir, "region")
    val outcomes = TableFormatSync.syncSnapshot(
      Seq(new IcebergConversionTarget(s, ice)),
      src0.currentSnapshot(), src0.sourceFormat)
    require(outcomes.forall(_.status == "SUCCESS"), outcomes.mkString(";"))
    IcebergRefs.createBranch(s, ice, "audit")
    val staged = graft.util.TempDirs.create("graft_wap_staged")
    s.read.parquet(s"$dir/region.parquet").coalesce(1)
      .write.mode("overwrite").parquet(staged)
    IcebergDeletes.appendDataFiles(s, ice, staged, toBranch = Some("audit"))

    // audit: main must NOT see the staged rows; the branch must
    val pre = new IcebergConversionSource(s, ice, "region").toDataFrame
      .agg(count(lit(1)).as("pre_rows"))
    val branch = s.read.format("graft").option("branch", "audit").load(ice)
      .agg(count(lit(1)).as("branch_rows"))
    // publish, then main serves the staged rows
    IcebergRefs.fastForward(s, ice, "audit")
    val post = new IcebergConversionSource(s, ice, "region").toDataFrame
      .agg(count(lit(1)).as("post_rows"))
    pre.crossJoin(branch).crossJoin(post)
  }

  val icebergWapPublishSql: String =
    """SELECT count(*) AS pre_rows, 2*count(*) AS branch_rows,
      |  2*count(*) AS post_rows FROM region""".stripMargin

  /** File-level bloom index: the table lands as 8 hash-spread files, so
    * every file's event_id [min,max] spans the domain and min/max
    * skipping keeps all 8 — only the bloom sidecar can prune. The gate
    * asserts in-plan that a 3-key IN lookup keeps strictly fewer files
    * than the table holds, then serves the rows through the indexed
    * read path for the oracle compare (bloom false negatives are
    * impossible, so any pruning bug surfaces as missing rows here).
    */
  def bloomPointLookup(s: SparkSession, dir: String): DataFrame = {
    val table = syncTable(s, s"$dir/events.parquet", "events", 8,
      "graft_bloom")
    val built = graft.plans.BloomIndex.buildOrRefresh(s, table, "event_id")
    require(built.newlyIndexed == 8 && built.totalLive == 8, built.toString)
    val keys = Seq(3L, 57L, 991L)

    // planner probe: the index must actually prune
    val src = new DeltaConversionSource(s, table, "events")
    val fileIndex = new graft.plans.SnapshotFileIndex(s,
      src.currentSnapshot())
    val attr = org.apache.spark.sql.catalyst.expressions
      .AttributeReference("event_id", org.apache.spark.sql.types.LongType)()
    val kept = fileIndex.listFiles(Nil,
      Seq(org.apache.spark.sql.catalyst.expressions.In(attr,
        keys.map(k =>
          org.apache.spark.sql.catalyst.expressions.Literal(k)))))
      .map(_.files.size).sum
    require(kept < 8 && kept >= 1,
      s"bloom index kept $kept of 8 files for a 3-key lookup")

    s.read.format("graft").load(table)
      .filter(col("event_id").isin(keys: _*))
      .select("event_id", "user_id", "event_type", "value")
      .orderBy("event_id")
  }

  val bloomPointLookupSql: String =
    """SELECT event_id, user_id, event_type, value FROM events
      |WHERE event_id IN (3, 57, 991) ORDER BY event_id""".stripMargin

  /** SQL ALTER TABLE routed by format: an Iceberg table gains a column
    * (old files serve null — coalesced to 0 so both engines hash it),
    * drops another, and refuses a rename loudly (graft's scans resolve
    * parquet columns by name; only column-mapped Delta can remap). A
    * Delta leg exercises ADD + post-ALTER append in the same gate.
    */
  def sqlAlterSchema(s: SparkSession, dir: String): DataFrame = {
    val gs = graft.sql.GraftSql.session(s)
    def icebergLeg(): String = {
      // iceberg leg: add, drop, rename (serves pre-rename files)
      val data = graft.util.TempDirs.create("graft_alter_data")
      s.read.parquet(s"$dir/nation.parquet").coalesce(2)
        .write.mode("overwrite").parquet(data)
      val ice = graft.util.TempDirs.create("graft_alter_ice")
      val src = new ParquetDirectorySource(s, data, "nation")
      val out = TableFormatSync.syncSnapshot(
        Seq(new graft.formats.iceberg.IcebergConversionTarget(s, ice)),
        src.currentSnapshot(), src.sourceFormat)
      require(out.forall(_.status == "SUCCESS"), out.mkString(";"))
      gs.sql(s"GRAFT ALTER TABLE '$ice' ADD COLUMN flag int").collect()
      gs.sql(s"GRAFT ALTER TABLE '$ice' DROP COLUMN n_regionkey").collect()
      // RENAME (r15): fieldId-keyed metadata commit; every data file
      // predates it, so the oracle match below proves the shadow-coalesce
      // serves pre-rename files' stored values under the NEW name
      gs.sql(s"GRAFT ALTER TABLE '$ice' RENAME COLUMN n_name TO nm")
        .collect()
      // renaming BACK to a historical name still refuses (resurrection)
      val refused =
        try { gs.sql(
          s"GRAFT ALTER TABLE '$ice' RENAME COLUMN nm TO n_name").collect()
          false }
        catch { case _: IllegalArgumentException => true }
      require(refused, "rename to a historical name must refuse")
      ice
    }
    def deltaLeg(): Unit = {
      // delta leg: ADD then append a row carrying the new column
      val dt = syncTable(s, s"$dir/nation.parquet", "nation", 2,
        "graft_alter")
      gs.sql(s"GRAFT ALTER TABLE '$dt' ADD COLUMN note string").collect()
      val one = s.read.parquet(s"$dir/nation.parquet")
        .filter(col("n_nationkey") === 0)
        .withColumn("n_nationkey", col("n_nationkey") + 1000)
        .withColumn("note", lit("altered"))
      graft.formats.delta.DeltaWrite.write(s, dt, one, overwrite = false)
      val noted = new DeltaConversionSource(s, dt, "nation").toDataFrame
        .filter(col("note") === "altered").count()
      require(noted == 1, s"post-ALTER append served $noted noted rows")
    }
    // the two format legs are independent (separate tables) — overlap
    // them per guide §2.6; only the iceberg leg feeds the result
    val ice = graft.util.Par.map(Seq(true, false)) { isIce =>
      if (isIce) Some(icebergLeg()) else { deltaLeg(); None }
    }.flatten.head

    s.read.format("graft").load(ice)
      .select(col("n_nationkey"), col("nm").as("n_name"),
        coalesce(col("flag"), lit(0)).as("flag"))
      .orderBy("n_nationkey")
  }

  val sqlAlterSchemaSql: String =
    """SELECT n_nationkey, n_name, 0 AS flag FROM nation
      |ORDER BY n_nationkey""".stripMargin

  /** Type-promotion read matrix: every format's table starts at
    * int/float, widens to bigint/double via `GRAFT ALTER TABLE ... ALTER
    * COLUMN ... TYPE`, and the ALREADY-WRITTEN files serve
    * row-identically under the evolved schema — Spark 4's parquet
    * readers up-cast int32/float in the scan, so no rewrite happens.
    * Also pins the refusal boundary: Iceberg takes only its spec's
    * promotions (int→long, float→double — int→double refused), and
    * narrowing refuses everywhere.
    *
    * Reference anchor: IcebergSchemaSync type-promote ops
    * (xtable-core/.../iceberg/IcebergSchemaSync.java:82+) and the
    * ITConversionController schema-evolution legs.
    */
  def sqlAlterType(s: SparkSession, dir: String): DataFrame = {
    val gs = graft.sql.GraftSql.session(s)
    val data = graft.util.TempDirs.create("graft_altertype_data")
    s.read.parquet(s"$dir/nation.parquet")
      .withColumn("qf", (col("n_regionkey") * lit(1.5)).cast("float"))
      .coalesce(2).write.mode("overwrite").parquet(data)

    // four independent format legs (fresh table each) plus the iceberg
    // refusal-boundary leg — all five submitted concurrently per guide
    // §2.6; serial wall-clock summed the legs
    def formatLeg(fmt: String): DataFrame = {
      val t = graft.util.TempDirs.create(s"graft_altertype_$fmt")
      val src = new ParquetDirectorySource(s, data, "nation")
      val tgt: graft.spi.ConversionTarget = fmt match {
        case "delta" => new DeltaConversionTarget(s, t)
        case "hudi" => new graft.formats.hudi.HudiConversionTarget(s, t)
        case "iceberg" =>
          new graft.formats.iceberg.IcebergConversionTarget(s, t)
        case "paimon" =>
          new graft.formats.paimon.PaimonConversionTarget(s, t)
      }
      val out = TableFormatSync.syncSnapshot(Seq(tgt),
        src.currentSnapshot(), src.sourceFormat)
      require(out.forall(_.status == "SUCCESS"), out.mkString(";"))
      gs.sql(
        s"GRAFT ALTER TABLE '$t' ALTER COLUMN n_nationkey TYPE bigint")
        .collect()
      gs.sql(s"GRAFT ALTER TABLE '$t' ALTER COLUMN qf TYPE double")
        .collect()
      val df = s.read.format("graft").load(t)
      require(df.schema("n_nationkey").dataType ==
        org.apache.spark.sql.types.LongType, s"$fmt: int->bigint not in schema")
      require(df.schema("qf").dataType ==
        org.apache.spark.sql.types.DoubleType, s"$fmt: float->double not in schema")
      // narrowing refuses on every format
      val narrowed =
        try { gs.sql(
          s"GRAFT ALTER TABLE '$t' ALTER COLUMN n_nationkey TYPE int")
          .collect(); false }
        catch { case _: IllegalArgumentException => true }
      require(narrowed, s"$fmt: narrowing must refuse")
      df.agg(count(lit(1)).as("cnt"),
          sum(col("n_nationkey")).cast("long").as("sum_key"),
          min(col("qf")).as("qf_min"), max(col("qf")).as("qf_max"))
        .withColumn("fmt", lit(fmt))
        .select("fmt", "cnt", "sum_key", "qf_min", "qf_max")
    }

    def refusalLeg(): Unit = {
      // iceberg refusal boundary: int -> double is outside the spec
      val iceOnly = graft.util.TempDirs.create("graft_altertype_icespec")
      val srcIce = new ParquetDirectorySource(s, data, "nation")
      val outIce = TableFormatSync.syncSnapshot(
        Seq(new graft.formats.iceberg.IcebergConversionTarget(s, iceOnly)),
        srcIce.currentSnapshot(), srcIce.sourceFormat)
      require(outIce.forall(_.status == "SUCCESS"), outIce.mkString(";"))
      val refused =
        try { gs.sql(s"GRAFT ALTER TABLE '$iceOnly' ALTER COLUMN " +
          "n_nationkey TYPE double").collect(); false }
        catch { case _: IllegalArgumentException => true }
      require(refused, "iceberg int->double must refuse (spec boundary)")
    }

    val legs = graft.util.Par.map(
      Seq("delta", "hudi", "iceberg", "paimon", "")) { fmt =>
      if (fmt.isEmpty) { refusalLeg(); None } else Some(formatLeg(fmt))
    }.flatten

    legs.reduce(_ unionByName _).orderBy("fmt")
  }

  val sqlAlterTypeSql: String = {
    val leg = (fmt: String) =>
      s"""SELECT '$fmt' AS fmt, count(*) AS cnt,
         |  CAST(sum(n_nationkey) AS BIGINT) AS sum_key,
         |  CAST(min(CAST(n_regionkey * 1.5 AS REAL)) AS DOUBLE) AS qf_min,
         |  CAST(max(CAST(n_regionkey * 1.5 AS REAL)) AS DOUBLE) AS qf_max
         |FROM nation""".stripMargin
    Seq("delta", "hudi", "iceberg", "paimon").map(leg)
      .mkString("", "\nUNION ALL\n", "\nORDER BY fmt")
  }

  /** Paimon small-file compaction through GRAFT OPTIMIZE: 8 small files
    * fold into fewer, the head snapshot is a COMPACT kind carrying
    * removes+adds, and the read-back rows are unchanged.
    */
  def paimonOptimizeCompact(s: SparkSession, dir: String): DataFrame = {
    val data = graft.util.TempDirs.create("graft_popt_data")
    s.read.parquet(s"$dir/customer.parquet").repartition(8)
      .write.mode("overwrite").parquet(data)
    val t = graft.util.TempDirs.create("graft_popt_paimon")
    val src = new ParquetDirectorySource(s, data, "customer")
    val out = TableFormatSync.syncSnapshot(
      Seq(new graft.formats.paimon.PaimonConversionTarget(s, t)),
      src.currentSnapshot(), src.sourceFormat)
    require(out.forall(_.status == "SUCCESS"), out.mkString(";"))
    val gs = graft.sql.GraftSql.session(s)
    val r = gs.sql(s"GRAFT OPTIMIZE '$t'").head()
    require(r.getLong(0) == 8 && r.getLong(1) < 8,
      s"compaction folded ${r.getLong(0)} into ${r.getLong(1)}")
    val head = graft.formats.paimon.PaimonFormat.latestSnapshotId(t).get
    require(graft.formats.paimon.PaimonFormat.readSnapshot(t, head)
      .commitKind == "COMPACT", "head snapshot must be COMPACT")
    new graft.formats.paimon.PaimonConversionSource(s, t, "customer")
      .toDataFrame
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("cnt"),
        Gate.sumMeasure(col("c_acctbal")).as("sum_bal"))
      .orderBy("c_mktsegment")
  }

  val paimonOptimizeCompactSql: String =
    s"""SELECT c_mktsegment, count(*) AS cnt,
       |  ${Gate.sumMeasureSql("c_acctbal")} AS sum_bal
       |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** Metadata-plane count(*): the optimizer rule must answer the
    * unfiltered count from the listing's recordCount stats — the gate
    * asserts the executed plan holds NO file scan, then the value is
    * oracle-checked. At 100 TB this is the difference between a
    * metadata aggregate and a full-table scan.
    */
  def metaCountPushdown(s: SparkSession, dir: String): DataFrame = {
    val t = syncTable(s, s"$dir/lineitem.parquet", "lineitem", 4,
      "graft_cnt")
    val gs = graft.sql.GraftSql.session(s)
    val df = gs.read.format("graft").load(t)
      .agg(count(lit(1)).as("cnt"))
    // check the optimized LOGICAL plan (AQE wraps the physical one): a
    // surviving LogicalRelation means the rule did not fire
    val scans = df.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l
    }
    require(scans.isEmpty,
      "count(*) was not answered from the metadata plane")
    df
  }

  val metaCountPushdownSql: String =
    "SELECT count(*) AS cnt FROM lineitem"

  /** Partition-level aggregate pushdown: GROUP BY a partition column
    * with count(*) is served from the listing's partition values + row
    * counts — asserted scan-free in-plan, values oracle-checked.
    */
  def metaPartitionStats(s: SparkSession, dir: String): DataFrame = {
    val t = graft.util.TempDirs.create("graft_pstats")
    val events = s.read.parquet(s"$dir/events.parquet")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"))
    graft.formats.delta.DeltaWrite.write(s, t, events,
      overwrite = false, partitionCols = Seq("event_type"))
    val gs = graft.sql.GraftSql.session(s)
    val df = gs.read.format("graft").load(t)
      .groupBy("event_type").agg(count(lit(1)).as("cnt"))
      .orderBy("event_type")
    val scans = df.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l
    }
    require(scans.isEmpty,
      "partition GROUP BY count was not answered from the metadata plane")
    df
  }

  val metaPartitionStatsSql: String =
    """SELECT event_type, count(*) AS cnt FROM events
      |GROUP BY event_type ORDER BY event_type""".stripMargin
}

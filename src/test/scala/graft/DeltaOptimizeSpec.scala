package graft

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.formats.delta.{DeltaConversionSource, DeltaConversionTarget,
  DeltaDeletes, DeltaOptimize}
import graft.plans.SnapshotFileIndex
import graft.sources.ParquetDirectorySource
import graft.sync.TableFormatSync

/** OPTIMIZE (bin-packing) and OPTIMIZE ZORDER: layout-only rewrites —
  * rows identical, dataChange=false, DV debt retired, and z-order must
  * MEASURABLY improve stat-based file skipping on every clustered column.
  */
class DeltaOptimizeSpec extends SparkSuite {

  private def syncToDelta(srcDir: String, name: String): String = {
    val target = tmpDir("opt_delta")
    val src = new ParquetDirectorySource(spark, srcDir, name)
    val out = TableFormatSync.syncSnapshot(
      Seq(new DeltaConversionTarget(spark, target)),
      src.currentSnapshot(), src.sourceFormat)
    assert(out.forall(_.status == "SUCCESS"), out.mkString(";"))
    target
  }

  test("compact folds small files and retires deletion vectors") {
    val dataDir = tmpDir("opt_small_data")
    spark.read.parquet(sf("sf0.001") + "/customer.parquet")
      .repartition(8).write.mode("overwrite").parquet(dataDir)
    val table = syncToDelta(dataDir, "customer")

    val deleted = DeltaDeletes.deleteWhere(spark, table,
      col("c_acctbal") < 0)
    assert(deleted > 0)
    def src() = new DeltaConversionSource(spark, table, "customer")
    val before = src().currentSnapshot()
    val beforeFiles = before.files.collect()
    assert(beforeFiles.length == 8)
    assert(beforeFiles.exists(_.deletionVector.isDefined))
    val want = src().toDataFrame
      .select("c_custkey").collect().map(_.getLong(0)).sorted.toSeq

    val res = DeltaOptimize.compact(spark, table)
    assert(res.rewrote == 8, res.toString)
    assert(res.wrote < 8, res.toString)

    val after = src().currentSnapshot()
    val afterFiles = after.files.collect()
    assert(afterFiles.length.toLong == res.wrote)
    assert(afterFiles.forall(_.deletionVector.isEmpty),
      "compaction must retire every DV")
    // layout-only: identical rows, and the rewritten adds carry stats
    val got = src().toDataFrame
      .select("c_custkey").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == want)
    assert(afterFiles.forall(_.columnStats.nonEmpty),
      "compacted files must carry column stats")
    // dataChange=false on every action of the OPTIMIZE commit
    val commitFile = graft.formats.delta.DeltaLog.versionFile(table,
      after.commitId.toLong)
    val lines = scala.io.Source.fromFile(
      new java.io.File(new java.net.URI(
        if (commitFile.startsWith("file:")) commitFile
        else "file://" + commitFile))).getLines().toSeq
    assert(lines.exists(_.contains("\"OPTIMIZE\"")))
    assert(!lines.exists(_.contains("\"dataChange\":true")), lines.toString)
  }

  test("change feed sees the delete, not the optimize rewrite") {
    val dataDir = tmpDir("opt_cdf_data")
    spark.read.parquet(sf("sf0.001") + "/customer.parquet")
      .repartition(4).write.mode("overwrite").parquet(dataDir)
    val table = syncToDelta(dataDir, "customer")
    val nDeleted = DeltaDeletes.deleteWhere(spark, table,
      col("c_acctbal") < 0)
    assert(DeltaOptimize.compact(spark, table).rewrote == 4)
    // versions: 0 sync, 1 delete, 2 optimize
    val feed = graft.formats.delta.DeltaChanges
      .changesBetween(spark, table, 0L, 2L)
    val byType = feed.groupBy("_change_type").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(byType == Map("delete" -> nDeleted), byType.toString)
    // the optimize version alone contributes nothing
    assert(graft.formats.delta.DeltaChanges
      .changesBetween(spark, table, 1L, 2L).count() == 0L)
  }

  test("compact is a no-op on an already-compacted table") {
    val dataDir = tmpDir("opt_noop_data")
    spark.read.parquet(sf("sf0.001") + "/region.parquet")
      .coalesce(1).write.mode("overwrite").parquet(dataDir)
    val table = syncToDelta(dataDir, "region")
    val v0 = new DeltaConversionSource(spark, table, "region")
      .currentSnapshot().commitId
    val res = DeltaOptimize.compact(spark, table)
    assert(res == DeltaOptimize.RewriteResult(0L, 0L, 0L))
    assert(new DeltaConversionSource(spark, table, "region")
      .currentSnapshot().commitId == v0, "no-op must not commit")
  }

  test("zorder clusters both columns: skipping improves, rows identical") {
    val dataDir = tmpDir("opt_z_data")
    // shuffled layout: every file spans the whole domain of both keys
    spark.read.parquet(sf("sf0.001") + "/lineitem.parquet")
      .repartition(8).write.mode("overwrite").parquet(dataDir)
    val table = syncToDelta(dataDir, "lineitem")
    def src() = new DeltaConversionSource(spark, table, "lineitem")
    val want = src().toDataFrame
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq

    def selectedFiles(snapIdx: SnapshotFileIndex, c: String, v: Long): Int = {
      val k = AttributeReference(c, LongType)()
      snapIdx.listFiles(Nil,
        Seq(EqualTo(k, Literal(v, LongType)))).flatMap(_.files).size
    }
    // mid-domain probes: in the shuffled layout every file's [min,max]
    // spans them, so nothing skips before the rewrite
    val beforeIdx = new SnapshotFileIndex(spark, src().currentSnapshot())
    val probeOrder = spark.read.parquet(dataDir)
      .stat.approxQuantile("l_orderkey", Array(0.5), 0.01)(0).toLong
    val probePart = spark.read.parquet(dataDir)
      .stat.approxQuantile("l_partkey", Array(0.5), 0.01)(0).toLong
    val beforeOrder = selectedFiles(beforeIdx, "l_orderkey", probeOrder)
    val beforePart = selectedFiles(beforeIdx, "l_partkey", probePart)
    assert(beforeOrder == 8 && beforePart == 8,
      s"shuffled layout should not skip: $beforeOrder/$beforePart")

    val res = DeltaOptimize.zorderBy(spark, table,
      Seq("l_orderkey", "l_partkey"), targetFileBytes = 16L << 10)
    assert(res.rewrote == 8 && res.wrote > 2, res.toString)

    val afterIdx = new SnapshotFileIndex(spark, src().currentSnapshot())
    val total = res.wrote.toInt
    val afterOrder = selectedFiles(afterIdx, "l_orderkey", probeOrder)
    val afterPart = selectedFiles(afterIdx, "l_partkey", probePart)
    // the clustered layout must prune on BOTH columns at once
    assert(afterOrder < total,
      s"zorder gave no skipping on l_orderkey: $afterOrder of $total")
    assert(afterPart < total,
      s"zorder gave no skipping on l_partkey: $afterPart of $total")

    val got = src().toDataFrame
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(got == want)
  }

  test("zorder on a string column buckets by sampled cuts") {
    val dataDir = tmpDir("opt_zs_data")
    spark.read.parquet(sf("sf0.001") + "/customer.parquet")
      .repartition(6).write.mode("overwrite").parquet(dataDir)
    val table = syncToDelta(dataDir, "customer")
    def src() = new DeltaConversionSource(spark, table, "customer")
    val before = src().toDataFrame.count()
    val res = DeltaOptimize.zorderBy(spark, table,
      Seq("c_name", "c_custkey"), targetFileBytes = 2L << 10)
    assert(res.rewrote == 6 && res.wrote > 1)
    assert(src().toDataFrame.count() == before)
    // string stats survive into the adds: point lookup prunes files
    val aName = src().toDataFrame
      .agg(min("c_name")).head().getString(0)
    val k = AttributeReference("c_name", StringType)()
    val idx = new SnapshotFileIndex(spark, src().currentSnapshot())
    val sel = idx.listFiles(Nil,
      Seq(EqualTo(k, Literal(UTF8StringLit(aName), StringType))))
      .flatMap(_.files).size
    assert(sel < res.wrote, s"no string skipping: $sel of ${res.wrote}")
  }

  private def UTF8StringLit(s: String) =
    org.apache.spark.unsafe.types.UTF8String.fromString(s)

  test("OPTIMIZE WHERE touches only the matching partitions") {
    import org.apache.spark.sql.functions._
    val dataDir = tmpDir("opt_where_data")
    spark.read.parquet(sf("sf0.001") + "/customer.parquet")
      .repartition(3)   // 3 small files per partition directory
      .write.mode("overwrite").partitionBy("c_mktsegment")
      .parquet(dataDir)
    val table = syncToDelta(dataDir, "customer")
    def src() = new DeltaConversionSource(spark, table, "customer")
    val before = src().currentSnapshot().files.collect()
    def partOf(f: graft.model.FileEntry) =
      f.partitionValues.find(_.field == "c_mktsegment").get.value
    val target = before.map(partOf).head

    val res = DeltaOptimize.compact(spark, table, minFileBytes = 1L << 20,
      where = Some(s"c_mktsegment = '$target'"))
    assert(res.rewrote == before.count(f => partOf(f) == target),
      res.toString)
    val after = src().currentSnapshot().files.collect()
    // untouched partitions keep their exact files
    assert(after.filter(f => partOf(f) != target).map(_.path).sorted.toSeq
      == before.filter(f => partOf(f) != target).map(_.path).sorted.toSeq)
    // the matching partition compacted to fewer files, rows intact
    assert(after.count(f => partOf(f) == target) < res.rewrote)
    assert(src().toDataFrame.count() ==
      spark.read.parquet(sf("sf0.001") + "/customer.parquet").count())
    // predicate on a non-partition column refuses at analysis
    intercept[Exception] {
      DeltaOptimize.compact(spark, table, minFileBytes = 1L << 20,
        where = Some("c_custkey = 1"))
    }
    // and through SQL, with ZORDER
    val gs = graft.sql.GraftSql.session(spark)
    val z = gs.sql(s"GRAFT OPTIMIZE '$table' ZORDER BY (c_custkey) " +
      s"WHERE c_mktsegment = '$target'").head()
    assert(z.getLong(0) >= 1)
    assert(src().toDataFrame.count() ==
      spark.read.parquet(sf("sf0.001") + "/customer.parquet").count())
  }

  test("zorder on a tiny table survives an empty quantile sample") {
    // 5 rows: the 25% seeded sample can come back empty — the cut pass
    // must fall back to the full frame, not degenerate to constant keys
    val dataDir = tmpDir("opt_tiny_data")
    spark.read.parquet(sf("sf0.001") + "/region.parquet")
      .repartition(2).write.mode("overwrite").parquet(dataDir)
    val table = syncToDelta(dataDir, "region")
    def src() = new DeltaConversionSource(spark, table, "region")
    val before = src().toDataFrame.collect()
      .map(_.getInt(0)).sorted.toSeq
    val res = DeltaOptimize.zorderBy(spark, table, Seq("r_regionkey"))
    assert(res.rewrote >= 1 && res.wrote >= 1)
    assert(src().toDataFrame.collect().map(_.getInt(0)).sorted.toSeq
      == before)
  }
}

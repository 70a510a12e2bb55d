package graft

import org.apache.spark.sql.functions._

import graft.model._
import graft.sources.ParquetDirectorySource

class ParquetSourceSpec extends SparkSuite {

  test("snapshot lists files with correct record counts") {
    val src = new ParquetDirectorySource(
      spark, sf("sf0.001/lineitem.parquet"), "lineitem")
    val snap = src.currentSnapshot()
    val files = snap.files.collect()
    assert(files.nonEmpty)
    val expected = spark.read.parquet(sf("sf0.001/lineitem.parquet")).count()
    assert(files.map(_.recordCount).sum == expected)
    assert(files.forall(_.fileSizeBytes > 0))
  }

  test("footer column stats match spark aggregates") {
    val path = sf("sf0.001/lineitem.parquet")
    val src = new ParquetDirectorySource(spark, path, "lineitem")
    val files = src.currentSnapshot().files.collect()
    val df = spark.read.parquet(path)
    val row = df.agg(
      min("l_orderkey"), max("l_orderkey"),
      min("l_quantity"), max("l_quantity"),
      min("l_returnflag"), max("l_returnflag")).head()

    def stat(field: String): FileColumnStat = {
      val per = files.flatMap(_.columnStats.filter(_.field == field))
      assert(per.nonEmpty, s"no stats for $field")
      // merge across files the same way a target would
      per.reduce { (a, b) =>
        FileColumnStat(field,
          Seq(a.min, b.min).flatten.reduceOption((x, y) =>
            if (StatCodec.lt(x, y, org.apache.spark.sql.types.LongType)) x else y),
          Seq(a.max, b.max).flatten.reduceOption((x, y) =>
            if (StatCodec.lt(x, y, org.apache.spark.sql.types.LongType)) y else x),
          a.numNulls + b.numNulls, a.numValues + b.numValues,
          a.totalSize + b.totalSize)
      }
    }
    assert(stat("l_orderkey").min.get.toLong == row.getLong(0))
    assert(stat("l_orderkey").max.get.toLong == row.getLong(1))
    assert(stat("l_quantity").min.get.toDouble == row.getDouble(2))
    assert(stat("l_quantity").max.get.toDouble == row.getDouble(3))
    assert(stat("l_returnflag").min.get == row.getString(4))
    assert(stat("l_returnflag").max.get == row.getString(5))
    val total = spark.read.parquet(path).count()
    assert(stat("l_orderkey").numValues == total)
  }

  test("timestamp stats decode to micros") {
    val path = sf("sf0.001/orders.parquet")
    val src = new ParquetDirectorySource(spark, path, "orders")
    val files = src.currentSnapshot().files.collect()
    val stats = files.flatMap(_.columnStats.filter(_.field == "o_orderdate"))
    assert(stats.nonEmpty)
    val minMicros = stats.flatMap(_.min).map(_.toLong).min
    val expected = spark.read.parquet(path)
      .agg(min(unix_micros(col("o_orderdate").cast("timestamp")))).head().getLong(0)
    assert(minMicros == expected)
  }

  test("stats projection restricts extraction to requested columns") {
    val src = new ParquetDirectorySource(spark,
      sf("sf0.001/lineitem.parquet"), "lineitem",
      statsColumns = Some(Set("l_orderkey", "l_quantity")))
    val stats = src.currentSnapshot().files.collect().flatMap(_.columnStats)
    assert(stats.map(_.field).toSet == Set("l_orderkey", "l_quantity"))
  }

  test("files delta between snapshots is empty for unchanged table") {
    val src = new ParquetDirectorySource(
      spark, sf("sf0.001/nation.parquet"), "nation")
    val a = src.currentSnapshot().files
    val b = src.currentSnapshot().files
    val d = FilesDelta.between(a, b)
    assert(placedRows(d.added).isEmpty && placedRows(d.removed).isEmpty)
  }

  test("orc base files: listing, file-tail stats, scan, delta refusal") {
    import org.apache.spark.sql.functions._
    val orcDir = tmpDir("orc_src") + "/t"
    spark.read.parquet(sf("sf0.001/lineitem.parquet"))
      .write.orc(orcDir)
    val src = new ParquetDirectorySource(spark, orcDir, "lineitem",
      statsColumns = Some(Set("l_orderkey", "l_quantity", "l_returnflag",
        "l_shipdate")))
    val files = src.currentSnapshot().files.collect()
    assert(files.nonEmpty && files.forall(_.fileFormat == "orc"))
    assert(files.map(_.recordCount).sum ==
      spark.read.parquet(sf("sf0.001/lineitem.parquet")).count())

    // ORC file-tail bounds agree with the data, in the same canonical
    // encoding the parquet reader uses
    val byField = files.flatMap(_.columnStats).groupBy(_.field)
    val agg = spark.read.orc(orcDir).agg(
      min("l_orderkey"), max("l_orderkey"),
      min("l_returnflag"), max("l_returnflag")).head()
    assert(byField("l_orderkey").flatMap(_.min).map(_.toLong).min ==
      agg.getLong(0))
    assert(byField("l_orderkey").flatMap(_.max).map(_.toLong).max ==
      agg.getLong(1))
    assert(byField("l_returnflag").flatMap(_.min).min == agg.getString(2))
    assert(byField("l_returnflag").flatMap(_.max).max == agg.getString(3))

    // sync to Iceberg: file_format=ORC survives the manifest round trip
    // and the unified reader scans through Spark's ORC reader
    val table = tmpDir("orc_ice")
    val outcomes = graft.sync.TableFormatSync.syncSnapshot(
      Seq(new graft.formats.iceberg.IcebergConversionTarget(spark, table)),
      src.currentSnapshot(), src.sourceFormat)
    assert(outcomes.forall(_.status == "SUCCESS"), outcomes.mkString(";"))
    val ice = new graft.formats.iceberg.IcebergConversionSource(
      spark, table, "lineitem")
    assert(ice.currentSnapshot().files.collect().forall(_.fileFormat == "orc"))
    val got = ice.toDataFrame.agg(sum("l_orderkey").cast("long")).head()
    val want = spark.read.parquet(sf("sf0.001/lineitem.parquet"))
      .agg(sum("l_orderkey").cast("long")).head()
    assert(got == want)

    // Delta admits parquet only (PROTOCOL.md §Format): loud refusal
    val deltaDir = tmpDir("orc_delta")
    val refused = graft.sync.TableFormatSync.syncSnapshot(
      Seq(new graft.formats.delta.DeltaConversionTarget(spark, deltaDir)),
      src.currentSnapshot(), src.sourceFormat)
    assert(refused.exists(_.status != "SUCCESS"), refused.mkString(";"))
  }
}

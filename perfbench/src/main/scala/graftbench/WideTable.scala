package graftbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.formats.delta.{DeltaConversionSource, DeltaConversionTarget}
import graft.formats.hudi.{HudiConversionSource, HudiConversionTarget}
import graft.formats.iceberg.{IcebergConversionSource, IcebergConversionTarget}
import graft.model._
import graft.plans.SnapshotFileIndex
import graft.spi.{ConversionSource, ConversionTarget, SyncMetadata, SyncMode}
import graft.sync.ConversionController

/** `wide_table`: the metadata plane of a 10^5-file table.
  *
  * Set-up authors an Iceberg table of 100 000 synthetic file entries
  * (1000 partitions x 100 files, the reference LoadTest shape; metadata
  * only, no data files), syncs it FULL into a Delta + Hudi pair, and warms
  * up every operation once. Each step then runs one incremental commit
  * (+100/-50 entries, authored on the source untimed) synced into that
  * pair, and plans a one-partition query on each of the three copies
  * (`SnapshotFileIndex.listFiles`); every 4th step also runs a FULL sync of
  * the whole table into a fresh Delta + Hudi pair.
  *
  * After every sync each copy's listing must hold exactly the generator's
  * entries, and every plan must return exactly the partition's files.
  */
final class WideTable(spark: SparkSession, work: Path, seed: Long)
  extends Workload {

  import spark.implicits._

  private val rng = new scala.util.Random(seed)
  private val N = 100000L
  private val Partitions = 1000
  private val dataDir = work.resolve("data").toString
  private val srcPath = work.resolve("iceberg").toString
  private val deltaPath = work.resolve("delta").toString
  private val hudiPath = work.resolve("hudi").toString
  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("p", IntegerType)))
  private val spec = Seq(PartitionFieldSpec("p", Transform.Value))
  private val table = TableDescriptor("wide", TableFormats.Iceberg, srcPath,
    schema, spec, Layout.HivePartitioned, 0L)
  private val controller = new ConversionController

  /** Ids of the source's live entries. */
  private val live = mutable.BitSet.empty
  private var nextId = N
  private var commits = 0L
  private var steps = 0
  private var fresh = 0
  private val wrong = mutable.ArrayBuffer.empty[String]

  def primary: String = "sync"
  def measuredSteps: Int = Int.MaxValue

  def setup(): Unit = {
    Main.phase("generate") {
      live ++= (0 until N.toInt)
      author(spark.range(N).as[Long], spark.emptyDataset[Long], full = true)
    }
    Main.phase("initial_sync")(fullSync(deltaPath, hudiPath, timed = false))
    Main.phase("warm_up") {
      incremental()
      plans()
      fullSync(work.resolve("warm_delta").toString,
        work.resolve("warm_hudi").toString, timed = false)
    }
  }

  def step(): Unit = {
    steps += 1
    incremental()
    plans()
    if (steps % 4 == 0) {
      fresh += 1
      fullSync(work.resolve(s"delta_full$fresh").toString,
        work.resolve(s"hudi_full$fresh").toString, timed = true)
    }
  }

  private def entry(id: Long): FileEntry = WideTable.entry(dataDir, seed, id)

  /** One source commit through graft's Iceberg writer (untimed). */
  private def author(adds: Dataset[Long], removes: Dataset[Long], full: Boolean): Unit = {
    val dir = dataDir
    val s = seed
    commits += 1
    val t = new IcebergConversionTarget(spark, srcPath)
    t.beginSync(table)
    t.syncMetadata(SyncMetadata(commits.toString, Nil, TableFormats.Parquet, dir))
    t.syncSchema(schema)
    t.syncPartitionSpec(spec)
    val toEntry = (id: Long) => WideTable.entry(dir, s, id)
    if (full) t.syncFilesForSnapshot(adds.map(toEntry))
    else t.syncFilesForDiff(FilesDelta(adds.map(toEntry), removes.map(toEntry)))
    t.completeSync()
  }

  private def source: ConversionSource =
    Traced.source(new IcebergConversionSource(spark, srcPath, "wide"))
  private def targets(d: String, h: String): Seq[ConversionTarget] = Seq(
    Traced.target(new DeltaConversionTarget(spark, d), d),
    Traced.target(new HudiConversionTarget(spark, h), h))

  private def fullSync(d: String, h: String, timed: Boolean): Unit = {
    val kind = if (timed) "snapshot_sync" else "warm_snapshot_sync"
    Ops.time(kind)(Trace.op("op.snapshot_sync")(Trace.span("sync") {
      controller.sync(source, targets(d, h), SyncMode.Full)
    }))(_.forall(_.status == "SUCCESS"))
    checkCopies(Seq("delta" -> d, "hudi" -> h))
  }

  /** +100 new entries and -50 live ones on the source, then the sync. */
  private def incremental(): Unit = {
    val adds = (nextId until nextId + 100).toSeq
    nextId += 100
    val removes = rng.shuffle(live.toIndexedSeq).take(50).map(_.toLong)
    live --= removes.map(_.toInt)
    live ++= adds.map(_.toInt)
    author(adds.toDS(), removes.toDS(), full = false)
    Ops.time("sync")(Trace.op("op.sync")(Trace.span("sync") {
      val out = controller.sync(source, targets(deltaPath, hudiPath))
      Trace.count("incremental", out.count(_.mode == SyncMode.Incremental))
      Trace.count("outcomes", out.length)
      out
    }))(_.forall(_.status == "SUCCESS"))
    checkCopies(Seq("delta" -> deltaPath, "hudi" -> hudiPath))
  }

  /** Open each copy and plan a query on one seeded partition. */
  private def plans(): Unit = {
    val part = rng.nextInt(Partitions)
    val want = live.iterator.filter(_ % Partitions == part)
      .map(id => entry(id.toLong).path).toSet
    val attr = AttributeReference("p", IntegerType)()
    for ((fmt, open) <- Seq[(String, () => ConversionSource)](
        "delta" -> (() => new DeltaConversionSource(spark, deltaPath, "wide")),
        "iceberg" -> (() => new IcebergConversionSource(spark, srcPath, "wide")),
        "hudi" -> (() => new HudiConversionSource(spark, hudiPath, "wide")))) {
      val got = Ops.time(s"plan:$fmt")(Trace.op("op.plan") {
        val snap = Traced.source(open()).currentSnapshot()
        val index = new SnapshotFileIndex(spark, snap)
        Reads.listFiles(live.size.toLong)(
          index.listFiles(Seq(EqualTo(attr, Literal(part, IntegerType))), Nil))
      })(_ => true)
      got.foreach { dirs =>
        val paths = dirs.flatMap(_.files.map(_.getPath.toUri.getPath)).toSet
        if (paths != want) wrong += s"plan of p=$part on $fmt returned " +
          s"${paths.size} files, want ${want.size} (${(paths -- want).take(2)} extra)"
      }
    }
  }

  /** Each copy's listing must be exactly the generator's live entries:
    * compared as (count, sum of a hash of path, size and records).
    */
  private def checkCopies(copies: Seq[(String, String)]): Unit = {
    def fingerprint(ds: Dataset[FileEntry]) = ds
      .agg(count(lit(1)), sum(pmod(xxhash64(col("path"), col("fileSizeBytes"),
        col("recordCount")), lit(1L << 40))))
      .head()
    val dir = dataDir
    val s = seed
    val want = fingerprint(live.toSeq.map(_.toLong).toDS()
      .map((id: Long) => WideTable.entry(dir, s, id)))
    for ((fmt, path) <- copies) {
      val src: ConversionSource = fmt match {
        case "delta" => new DeltaConversionSource(spark, path, "wide")
        case "hudi" => new HudiConversionSource(spark, path, "wide")
      }
      val got = fingerprint(src.currentSnapshot().files)
      if (got != want) wrong += s"$fmt copy at commit $commits: (count, hash) $got, want $want"
    }
  }

  def verify(): Seq[String] = wrong.toSeq

  def metrics(): Seq[Metric] = Seq(
    Ops.p50("sync", "sync_p50_ms"),
    Ops.rate(Seq("sync"), "sync_commits_per_s"),
    Metric("snapshot_sync_s", Ops.pct(Ops.of("snapshot_sync"), 50) / 1000, "s",
      Ops.of("snapshot_sync").length),
    Ops.p50("plan:delta", "plan_delta_ms"),
    Ops.p50("plan:iceberg", "plan_iceberg_ms"),
    Ops.p50("plan:hudi", "plan_hudi_ms"))
}

object WideTable {
  /** Synthetic entry `id`: partition id % 1000, seeded size, one stat. */
  def entry(dataDir: String, seed: Long, id: Long): FileEntry = {
    val p = id % 1000
    val h = scala.util.hashing.MurmurHash3.productHash((seed, id)) & 0x7fffffff
    FileEntry(s"$dataDir/p=$p/f$id.parquet", 1000L + h % 9000, 100L + id % 50,
      "parquet", Seq(PartitionMember("p", p.toString)),
      Seq(FileColumnStat("id", Some((id * 100).toString),
        Some((id * 100 + 99).toString), 0L, 100L + id % 50, 64L)),
      1000000L)
  }
}

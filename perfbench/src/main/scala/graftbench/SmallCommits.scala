package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.formats.delta.{DeltaConversionSource, DeltaConversionTarget, DeltaLog, DeltaSnapshot, DeltaStats}
import graft.formats.hudi.{HudiConversionSource, HudiConversionTarget}
import graft.formats.iceberg.{IcebergConversionSource, IcebergConversionTarget}
import graft.model._
import graft.sources.ParquetDirectorySource
import graft.spi.{ConversionSource, ConversionTarget, SyncMetadata}
import graft.sync.ConversionController
import graft.util.{Jsons, PathUtils}

/** `small_commits`: keep an Iceberg and a Hudi copy of a small Delta
  * table fresh, one source commit at a time.
  *
  * Set-up writes a pool of small parquet files (an sf0.01-sized
  * `lineitem`, partitioned by ship year), creates a Delta table over 24 of
  * them with graft's Delta writer, and appends a history of small commits
  * so the log is already past graft's driver-replay cap of 64 versions.
  * It then syncs the table FULL into both targets. Each step authors one
  * source commit (untimed: 1-3 pool files copied into the table and
  * logged the way an appending Delta writer logs them, with a checkpoint
  * every 10 versions; every 8th commit also removes a live file) and
  * times `ConversionController.sync` of it into both targets.
  */
final class SmallCommits(spark: SparkSession, work: Path, seed: Long)
  extends Workload {

  private val rng = new scala.util.Random(seed)
  private val stage = work.resolve("stage")
  private val srcPath = work.resolve("source").toString
  private val icePath = work.resolve("iceberg").toString
  private val hudiPath = work.resolve("hudi").toString
  private val controller = new ConversionController
  private val spec = Seq(PartitionFieldSpec("ship_year", Transform.Value))
  /** Source versions authored before the first sync. */
  private val History = 60
  private val WarmUp = 4

  private var pool: IndexedSeq[FileEntry] = _
  /** The benchmark's own record of the source's live files. */
  private val live = mutable.LinkedHashMap.empty[String, FileEntry]
  /** Source log head version. */
  private var version = 0L
  private var table: TableDescriptor = _
  private var source: ConversionSource = _
  private var iceberg: ConversionTarget = _
  private var hudi: ConversionTarget = _
  private var incremental = 0
  private var outcomes = 0

  def primary: String = "sync"
  def measuredSteps: Int = 5

  def setup(): Unit = {
    Main.phase("generate")(stagePool())
    Main.phase("history") {
      val t = new DeltaConversionTarget(spark, srcPath)
      t.beginSync(table)
      t.syncMetadata(SyncMetadata("0", Nil, TableFormats.Parquet, stage.toString))
      t.syncSchema(table.schema)
      t.syncPartitionSpec(spec)
      t.syncFilesForSnapshot(spark.createDataset(Seq.fill(24)(pick()))(
        org.apache.spark.sql.Encoders.product[FileEntry]))
      t.completeSync()
      for (_ <- 1 to History) author(checkpoint = false)
      DeltaSnapshot.writeCheckpoint(spark, srcPath, version, table.schema)
    }
    Main.phase("initial_sync") {
      source = new DeltaConversionSource(spark, srcPath, "lineitem")
      iceberg = new IcebergConversionTarget(spark, icePath)
      hudi = new HudiConversionTarget(spark, hudiPath)
      expectOk(sync())
    }
    // warm-up: incremental commits, adds and removes, untimed
    Main.phase("warm_up")(for (_ <- 1 to WarmUp) step())
  }

  private def stagePool(): Unit = {
    Gen.lineitem(spark, seed, 60000, slices = 8)
      .write.partitionBy("ship_year").parquet(stage.toString)
    pool = new ParquetDirectorySource(spark, stage.toString, "pool", spec)
      .currentSnapshot().files.collect().sortBy(_.path).toIndexedSeq
    table = TableDescriptor("lineitem", TableFormats.Delta, srcPath,
      spark.read.parquet(stage.toString).schema, spec,
      Layout.HivePartitioned, 0L)
  }

  def step(): Unit = {
    author(checkpoint = true)
    Ops.time("sync")(Trace.op("op.sync")(sync()))(_.forall(_.status == "SUCCESS"))
  }

  /** One source commit of 1-3 new files; every 8th also removes one. */
  private def author(checkpoint: Boolean): Unit = {
    version += 1
    val removes =
      if (version % 8 == 0) Seq(live.remove(live.keys.toIndexedSeq(rng.nextInt(live.size))).get)
      else Nil
    // the commit shape is fixed (1, 2, 3 files in turn); the seed picks them
    val adds = Seq.fill(1 + (version % 3).toInt)(pick())
    commit(adds, removes)
    if (checkpoint && version % 10 == 0)
      DeltaSnapshot.writeCheckpoint(spark, srcPath, version, table.schema)
  }

  private def sync() = Trace.span("sync") {
    val out = controller.sync(Traced.source(source),
      Seq(Traced.target(iceberg, icePath), Traced.target(hudi, hudiPath)))
    if (Ops.timing) {
      incremental += out.count(_.mode == graft.spi.SyncMode.Incremental)
      outcomes += out.length
    }
    Trace.count("incremental", out.count(_.mode == graft.spi.SyncMode.Incremental))
    Trace.count("outcomes", out.length)
    out
  }

  private def expectOk(out: Seq[graft.spi.SyncOutcome]): Unit =
    require(out.forall(_.status == "SUCCESS"), out.mkString("; "))

  /** A pool file copied into its partition of the source table under a
    * new name: a real parquet file the source has never seen.
    */
  private def pick(): FileEntry = {
    val e = pool(rng.nextInt(pool.length))
    val part = e.partitionValues.map(p => s"${p.field}=${p.value}").mkString("/")
    val dest = Paths.get(srcPath, part, f"v$version%05d-${live.size}%04d-${fileName(e.path)}")
    Files.createDirectories(dest.getParent)
    Files.copy(Paths.get(e.path), dest)
    val entry = e.copy(path = dest.toString,
      lastModifiedMillis = Files.getLastModifiedTime(dest).toMillis)
    live(entry.path) = entry
    entry
  }

  /** Writes version `version` of the source log: the add and remove
    * actions (with stats) and a commitInfo, as an appending writer does.
    */
  private def commit(adds: Seq[FileEntry], removes: Seq[FileEntry]): Unit = {
    val base = PathUtils.canonical(srcPath)
    def rel(e: FileEntry) = PathUtils.toDeltaUri(PathUtils.relativize(base, e.path))
    val now = System.currentTimeMillis()
    val lines = adds.map(e => Jsons.toJson(Map("add" -> Map(
      "path" -> rel(e),
      "partitionValues" -> e.partitionValues.map(p => p.field -> p.value).toMap,
      "size" -> e.fileSizeBytes,
      "modificationTime" -> e.lastModifiedMillis,
      "dataChange" -> true,
      "stats" -> DeltaStats.toJson(table.schema, e.recordCount, e.columnStats))))) ++
      removes.map(e => Jsons.toJson(Map("remove" -> Map(
        "path" -> rel(e), "deletionTimestamp" -> now, "dataChange" -> true)))) :+
      Jsons.toJson(Map("commitInfo" -> Map("timestamp" -> now, "operation" -> "WRITE")))
    require(DeltaLog.writeCommit(srcPath, version, lines.iterator),
      s"source version $version already exists")
  }

  def verify(): Seq[String] = {
    import spark.implicits._
    val expected = live.values.map(e => (e.path, e.fileSizeBytes, e.recordCount)).toSet
    val listings = Seq(
      "iceberg" -> new IcebergConversionSource(spark, icePath, "lineitem"),
      "hudi" -> new HudiConversionSource(spark, hudiPath, "lineitem"))
      .flatMap { case (name, s) =>
        val got = s.currentSnapshot().files
          .map(f => (f.path, f.fileSizeBytes, f.recordCount)).collect().toSet
        if (got == expected) None
        else Some(s"$name listing differs: ${(got -- expected).take(3)} " +
          s"extra, ${(expected -- got).take(3)} missing")
      }
    // the live files' rows, read by the plain parquet reader
    val want = spark.read.parquet(live.keys.toSeq: _*)
      .agg(count(lit(1)), sum("l_quantity")).head()
    val reads = Seq("iceberg" -> icePath, "hudi" -> hudiPath).flatMap {
      case (name, p) =>
        val got = spark.read.format("graft").load(p)
          .agg(count(lit(1)), sum("l_quantity")).head()
        if (got == want) None
        else Some(s"$name read $got (rows, quantity), the files hold $want")
    }
    listings ++ reads
  }

  def metrics(): Seq[Metric] = Seq(
    Ops.p50("sync", "sync_p50_ms"),
    Ops.p90("sync", "sync_p90_ms"),
    Ops.rate(Seq("sync"), "sync_commits_per_s"),
    Metric("incremental_ratio", incremental.toDouble / outcomes.max(1),
      "ratio", outcomes))

  private def fileName(p: String) = p.substring(p.lastIndexOf('/') + 1)
}

package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, LocalFileSystem, Path}

import graft.formats.delta.{DeltaConversionSource, DeltaSnapshot, DeltaWrite}
import graft.formats.hudi.HudiConversionTarget
import graft.formats.iceberg.{IcebergConversionSource, IcebergConversionTarget, IcebergDeletes}
import graft.sources.ParquetDirectorySource
import graft.sync.TableFormatSync

/** A local filesystem that records every path it stats, lists or opens,
  * and every path the table store resolves through it (the store reads,
  * lists and writes a local file on the `java.io.File` this filesystem
  * maps the path to). Registered for the `file` scheme in the session
  * conf only, so a writer that builds a bare `new Configuration()` never
  * reaches it.
  */
class StatRecordingFileSystem extends LocalFileSystem {
  override def getFileStatus(f: Path): FileStatus = {
    StatRecordingFileSystem.paths.add(f.toUri.getPath)
    super.getFileStatus(f)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    StatRecordingFileSystem.listed.add(f.toUri.getPath)
    super.listStatus(f)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    StatRecordingFileSystem.opened.add(f.toUri.getPath)
    super.open(f, bufferSize)
  }
  override def pathToFile(f: Path): java.io.File = {
    StatRecordingFileSystem.resolved.add(f.toUri.getPath)
    super.pathToFile(f)
  }
}

object StatRecordingFileSystem {
  val paths = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  /** Every listing, in order, repeats included. */
  val listed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val opened = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  /** Every path the table store resolved, in order, repeats included. */
  val resolved = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

/** Commit writers and metadata readers reach storage through the
  * session's Hadoop conf (the `spark.hadoop.*` settings that carry
  * object-store credentials), not a bare `new Configuration()` or
  * `java.io`.
  */
class CommitConfSpec extends SparkSuite {

  import spark.implicits._

  /** `body` run with [[StatRecordingFileSystem]] as the session's `file`
    * filesystem, its records cleared first.
    */
  private def recording[A](body: => A): A = {
    val keys = Seq(
      "spark.hadoop.fs.file.impl" -> classOf[StatRecordingFileSystem].getName,
      "spark.hadoop.fs.file.impl.disable.cache" -> "true")
    StatRecordingFileSystem.paths.clear()
    StatRecordingFileSystem.listed.clear()
    StatRecordingFileSystem.opened.clear()
    StatRecordingFileSystem.resolved.clear()
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally keys.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("Iceberg manifests and the Hudi metadata table are written " +
      "through the session's Hadoop conf") {
    // the data file lives under the Hudi table, whose metadata table only
    // indexes files under its base
    val hudi = tmpDir("conf_hudi")
    Files.copy(Paths.get(sf("sf0.001/region.parquet")),
      Paths.get(hudi, "f1.parquet"))
    val ice = tmpDir("conf_ice")
    recording {
      val src = new ParquetDirectorySource(spark, hudi, "region")
      val out = TableFormatSync.syncSnapshot(
        Seq(new IcebergConversionTarget(spark, ice),
          new HudiConversionTarget(spark, hudi)),
        src.currentSnapshot(), src.sourceFormat)
      assert(out.forall(_.status == "SUCCESS"), out.mkString(";"))
    }
    val seen = StatRecordingFileSystem.paths.asScala.toSeq ++
      StatRecordingFileSystem.resolved.asScala
    assert(seen.exists(p => p.startsWith(s"$ice/metadata/") &&
      p.endsWith(".avro")), s"no Iceberg manifest in $seen")
    assert(seen.exists(_.startsWith(s"$hudi/.hoodie/metadata/files/")),
      s"no Hudi metadata-table file in $seen")
  }

  test("Iceberg puffin deletion vectors and manifests are read through " +
      "the session's Hadoop conf") {
    val data = tmpDir("conf_dv_data")
    Files.copy(Paths.get(sf("sf0.001/nation.parquet")),
      Paths.get(data, "f1.parquet"))
    val ice = tmpDir("conf_dv_ice")
    val src = new ParquetDirectorySource(spark, data, "nation")
    assert(TableFormatSync.syncSnapshot(Seq(new IcebergConversionTarget(
      spark, ice)), src.currentSnapshot(), src.sourceFormat)
      .forall(_.status == "SUCCESS"))
    val file = new IcebergConversionSource(spark, ice, "nation")
      .currentSnapshot().files.collect().head.path
    IcebergDeletes.appendDeletionVectors(spark, ice, Map(file -> Seq(0L)))
    // a second vector on the same file merges the first: its puffin blob
    // and its delete manifest are read back
    recording(IcebergDeletes.appendDeletionVectors(spark, ice,
      Map(file -> Seq(1L))))
    val opened = StatRecordingFileSystem.opened.asScala.toSeq ++
      StatRecordingFileSystem.resolved.asScala
    assert(opened.exists(_.endsWith(".puffin")), s"no puffin in $opened")
    assert(opened.exists(p => p.startsWith(s"$ice/metadata/m-") &&
      p.endsWith(".avro")), s"no Iceberg manifest in $opened")
  }

  test("a cold Delta snapshot of a checkpointed table lists its log " +
      "three times") {
    val dir = tmpDir("conf_delta_lists")
    (0 until 3).foreach(i => DeltaWrite.write(spark, dir,
      Seq((i.toLong, s"v$i")).toDF("k", "v"), overwrite = false))
    DeltaSnapshot.writeCheckpoint(spark, dir, 2L,
      Seq((0L, "v")).toDF("k", "v").schema)
    DeltaWrite.write(spark, dir, Seq((3L, "v3")).toDF("k", "v"),
      overwrite = false)
    val files = recording(new DeltaConversionSource(spark, dir, "t")
      .currentSnapshot().files.count())
    assert(files == 4L)
    // the versions once, then the newest checkpoint with its files once
    // for the state and once for the live set — names-only listings go
    // through the store, which resolves the log directory once per listing
    val logLists = (StatRecordingFileSystem.listed.asScala ++
      StatRecordingFileSystem.resolved.asScala).count(_ == s"$dir/_delta_log")
    assert(logLists == 3, (StatRecordingFileSystem.listed,
      StatRecordingFileSystem.resolved))
  }
}

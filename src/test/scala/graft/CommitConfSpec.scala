package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path}

import graft.formats.hudi.HudiConversionTarget
import graft.formats.iceberg.IcebergConversionTarget
import graft.sources.ParquetDirectorySource
import graft.sync.TableFormatSync

/** A local filesystem that records every path it stats. Registered for the
  * `file` scheme in the session conf only, so a writer that builds a bare
  * `new Configuration()` never reaches it.
  */
class StatRecordingFileSystem extends LocalFileSystem {
  override def getFileStatus(f: Path): FileStatus = {
    StatRecordingFileSystem.paths.add(f.toUri.getPath)
    super.getFileStatus(f)
  }
}

object StatRecordingFileSystem {
  val paths = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
}

/** Commit writers reach storage through the session's Hadoop conf (the
  * `spark.hadoop.*` settings that carry object-store credentials), not a
  * bare `new Configuration()`.
  */
class CommitConfSpec extends SparkSuite {

  test("Iceberg manifests and the Hudi metadata table are written " +
      "through the session's Hadoop conf") {
    // the data file lives under the Hudi table, whose metadata table only
    // indexes files under its base
    val hudi = tmpDir("conf_hudi")
    Files.copy(Paths.get(sf("sf0.001/region.parquet")),
      Paths.get(hudi, "f1.parquet"))
    val ice = tmpDir("conf_ice")
    val keys = Seq(
      "spark.hadoop.fs.file.impl" -> classOf[StatRecordingFileSystem].getName,
      "spark.hadoop.fs.file.impl.disable.cache" -> "true")
    StatRecordingFileSystem.paths.clear()
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val src = new ParquetDirectorySource(spark, hudi, "region")
      val out = TableFormatSync.syncSnapshot(
        Seq(new IcebergConversionTarget(spark, ice),
          new HudiConversionTarget(spark, hudi)),
        src.currentSnapshot(), src.sourceFormat)
      assert(out.forall(_.status == "SUCCESS"), out.mkString(";"))
    } finally keys.foreach { case (k, _) => spark.conf.unset(k) }
    val seen = StatRecordingFileSystem.paths.asScala.toSeq
    assert(seen.exists(p => p.startsWith(s"$ice/metadata/") &&
      p.endsWith(".avro")), s"no Iceberg manifest in $seen")
    assert(seen.exists(_.startsWith(s"$hudi/.hoodie/metadata/files/")),
      s"no Hudi metadata-table file in $seen")
  }
}

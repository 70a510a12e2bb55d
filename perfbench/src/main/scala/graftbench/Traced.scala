package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.types.StructType

import graft.model._
import graft.spi._

/** Decorators that time every SPI call into a format's source or target.
  *
  * Source methods return lazy Datasets (`currentSnapshot().files`,
  * `changeForCommit(..).diff`); the target that consumes them runs the
  * decode. That work therefore lands in the consuming target span, not in
  * the source span that built the plan — the trace records it where it
  * executes.
  */
object Traced {

  def source(s: ConversionSource): ConversionSource =
    if (Trace.enabled) new TracedSource(s) else s

  def target(t: ConversionTarget, tablePath: String): ConversionTarget =
    if (Trace.enabled) new TracedTarget(t, tablePath) else t

  private def fmt(name: String) = name.toLowerCase

  final class TracedSource(s: ConversionSource) extends ConversionSource {
    private val p = s"formats.${fmt(s.sourceFormat)}.source."
    override def sourceFormat: String = s.sourceFormat
    override def currentTable(): TableDescriptor =
      Trace.span(p + "currentTable")(s.currentTable())
    override def currentSnapshot(): TableSnapshot =
      Trace.span(p + "currentSnapshot")(s.currentSnapshot())
    override def changeForCommit(commit: String): TableChange =
      Trace.span(p + "changeForCommit")(s.changeForCommit(commit))
    override def commitsBacklog(lastSynced: String): Seq[String] =
      Trace.span(p + "commitsBacklog")(s.commitsBacklog(lastSynced))
    override def isIncrementalSyncSafeFrom(commit: String): Boolean =
      Trace.span(p + "isIncrementalSyncSafeFrom")(
        s.isIncrementalSyncSafeFrom(commit))
  }

  final class TracedTarget(t: ConversionTarget, tablePath: String)
    extends ConversionTarget {
    private val p = s"formats.${fmt(t.targetFormat)}.target."
    override def targetFormat: String = t.targetFormat
    override def beginSync(table: TableDescriptor): Unit =
      Trace.span(p + "beginSync")(t.beginSync(table))
    override def syncMetadata(meta: SyncMetadata): Unit =
      Trace.span(p + "syncMetadata")(t.syncMetadata(meta))
    override def syncSchema(schema: StructType): Unit =
      Trace.span(p + "syncSchema")(t.syncSchema(schema))
    override def syncPartitionSpec(spec: Seq[PartitionFieldSpec]): Unit =
      Trace.span(p + "syncPartitionSpec")(t.syncPartitionSpec(spec))
    override def syncFilesForSnapshot(files: Dataset[FileEntry]): Unit =
      Trace.span(p + "syncFilesForSnapshot")(t.syncFilesForSnapshot(files))
    override def syncFilesForDiff(diff: FilesDelta): Unit =
      Trace.span(p + "syncFilesForDiff")(t.syncFilesForDiff(diff))
    override def expectBaseCommit(commitId: String): Unit =
      Trace.span(p + "expectBaseCommit")(t.expectBaseCommit(commitId))
    override def tableMetadata(): Option[SyncMetadata] =
      Trace.span(p + "tableMetadata")(t.tableMetadata())

    /** Also counts the metadata files the commit created and their bytes. */
    override def completeSync(): Unit = Trace.span(p + "completeSync") {
      val before = metaFiles()
      t.completeSync()
      val created = metaFiles() -- before.keySet
      Trace.count("meta_files", created.size)
      Trace.count("meta_bytes", created.values.sum)
    }

    private val metaDir: Path = Paths.get(tablePath,
      t.targetFormat match {
        case TableFormats.Delta => "_delta_log"
        case TableFormats.Iceberg => "metadata"
        case TableFormats.Hudi => ".hoodie"
        case _ => "."
      })

    private def metaFiles(): Map[String, Long] =
      if (!Files.isDirectory(metaDir)) Map.empty
      else {
        val walk = Files.walk(metaDir)
        try walk.iterator.asScala.filter(Files.isRegularFile(_))
          .map(f => f.toString -> Files.size(f)).toMap
        finally walk.close()
      }
  }
}

/** Timed reads. Traced, a read is split into planning (up to
  * `queryExecution.executedPlan`) and execution (`collect`), and every
  * `SnapshotFileIndex` in the plan is swapped for a copy whose `listFiles`
  * is timed; untraced, it is just `collect()`.
  */
object Reads {
  import org.apache.spark.sql.{DataFrame, Row}
  import org.apache.spark.sql.catalyst.expressions.Expression
  import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
  import graft.plans.SnapshotFileIndex

  /** `listed`: files in the table's listing, for `plans.files_kept_ratio`. */
  def collect(listed: Long)(build: => DataFrame): Array[Row] =
    if (!Trace.enabled) build.collect()
    else {
      val df = Trace.span("sources.read.plan") {
        val d = org.apache.spark.sql.BenchPlans.mapFileIndex(build)(traced(_, listed))
        d.queryExecution.executedPlan
        d
      }
      Trace.span("sources.read.exec")(df.collect())
    }

  /** A `listFiles` call under a `plans.list_files` span, counting the
    * files it kept out of the `listed` files of the table.
    */
  def listFiles(listed: Long)(body: => Seq[PartitionDirectory])
      : Seq[PartitionDirectory] =
    Trace.span("plans.list_files") {
      val r = body
      Trace.count("kept", r.map(_.files.size).sum)
      Trace.count("listed", listed)
      r
    }

  private lazy val snapField = classOf[SnapshotFileIndex].getDeclaredFields
    .find(_.getType == classOf[TableSnapshot]).map { f => f.setAccessible(true); f }

  /** A SnapshotFileIndex over the same snapshot with `listFiles` timed. A
    * subclass, so graft's rules that match on the index type still apply.
    */
  private def traced(index: FileIndex, listed: Long): FileIndex = index match {
    case s: SnapshotFileIndex if snapField.isDefined =>
      val snap = snapField.get.get(s).asInstanceOf[TableSnapshot]
      new SnapshotFileIndex(org.apache.spark.sql.SparkSession.active, snap) {
        override def listFiles(pf: Seq[Expression], df: Seq[Expression]) =
          Reads.listFiles(listed)(super.listFiles(pf, df))
      }
    case other => other
  }
}

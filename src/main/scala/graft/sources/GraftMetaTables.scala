package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.spi.ConversionSource

/** Metadata tables for any converted table — the `table$files` /
  * `DESCRIBE HISTORY` idiom surfaced through the unified reader:
  *
  * {{{
  *   spark.read.format("graft").option("metaTable", "files").load(path)
  *   spark.read.format("graft").option("metaTable", "history").load(path)
  *   spark.read.format("graft").option("metaTable", "partitions").load(path)
  * }}}
  *
  * `files` IS the snapshot's distributed listing (flattened columns —
  * never collected); `partitions` is a distributed roll-up of it;
  * `history` reads the commit log / snapshot list / timeline (bounded by
  * version count, driver-side like every log probe).
  */
object GraftMetaTables {

  def of(spark: SparkSession, source: ConversionSource, path: String,
      which: String): DataFrame = which.toLowerCase match {
    case "files" => files(spark, source)
    case "partitions" => partitions(spark, source)
    case "history" => history(spark, source, path)
    case "refs" => refs(spark, source, path)
    case other => throw new IllegalArgumentException(
      s"unknown metaTable '$other' — supported: files, partitions, " +
        "history, refs")
  }

  private def listing(spark: SparkSession, source: ConversionSource) =
    source.currentSnapshot().listing.dataset

  private def files(spark: SparkSession, source: ConversionSource)
      : DataFrame =
    listing(spark, source).toDF()
      .select(
        col("path"),
        col("fileSizeBytes").as("size_bytes"),
        col("recordCount").as("record_count"),
        col("fileFormat").as("file_format"),
        map_from_entries(transform(col("partitionValues"),
          p => struct(p("field"), p("value")))).as("partition_values"),
        coalesce(col("deletionVector.cardinality"), lit(0L))
          .as("dv_cardinality"))

  private def partitions(spark: SparkSession, source: ConversionSource)
      : DataFrame =
    files(spark, source)
      .groupBy("partition_values")
      .agg(count(lit(1)).as("n_files"),
        sum("record_count").as("n_records"),
        sum("size_bytes").as("total_bytes"),
        sum("dv_cardinality").as("dv_cardinality"))

  /** (version, timestamp_ms, operation) across formats — versions as
    * strings (Hudi instants aren't numeric).
    */
  private def history(spark: SparkSession, source: ConversionSource,
      path: String): DataFrame = {
    import spark.implicits._
    val rows: Seq[(String, Long, String)] = source match {
      case _: graft.formats.delta.DeltaConversionSource =>
        val conf = graft.util.HadoopConfs.session(spark)
        val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
        val versions =
          graft.formats.delta.DeltaLog.listVersions(path, conf)
        // ONE log probe for every version's commitInfo, not one each
        val ops: Map[Long, String] = graft.formats.delta.DeltaSnapshot
          .actionLines(spark, path, versions, "\"commitInfo\"")
          .flatMap { case (line, v) =>
            Option(graft.util.Jsons.mapper.readTree(line)
              .get("commitInfo")).flatMap(c =>
              Option(c.get("operation")).map(v -> _.asText))
          }.toMap
        versions.map { v =>
          val p = new org.apache.hadoop.fs.Path(
            graft.formats.delta.DeltaLog.versionFile(path, v))
          (v.toString, fs.getFileStatus(p).getModificationTime,
            ops.getOrElse(v, "UNKNOWN"))
        }
      case _: graft.formats.iceberg.IcebergConversionSource =>
        val v = graft.formats.iceberg.IcebergMetadata.currentVersion(path)
          .getOrElse(throw new IllegalStateException(
            s"no Iceberg table at $path"))
        graft.formats.iceberg.IcebergMetadata.read(path, v).snapshots
          .map(s => (s.sequenceNumber.toString, s.timestampMs,
            s.operation.toUpperCase))
      case _: graft.formats.hudi.HudiConversionSource =>
        graft.formats.hudi.HudiTimeline.listInstants(path).map { i =>
          val c = graft.formats.hudi.HudiTimeline.readCommit(path, i)
          (i, graft.formats.hudi.HudiTimeline.instantMillis(i),
            c.action.toUpperCase)
        }
      case _: graft.formats.paimon.PaimonConversionSource =>
        val head = graft.formats.paimon.PaimonFormat.latestSnapshotId(path)
          .getOrElse(throw new IllegalStateException(
            s"no Paimon table at $path"))
        (1L to head).map { id =>
          val s = graft.formats.paimon.PaimonFormat.readSnapshot(path, id)
          (id.toString, s.timeMillis, s.commitKind.toUpperCase)
        }
      case other => throw new IllegalArgumentException(
        s"history metaTable needs a versioned metadata plane; this is a " +
          s"${other.sourceFormat} table")
    }
    rows.toDF("version", "timestamp_ms", "operation")
  }

  /** Iceberg snapshot refs (branches/tags) incl. the implicit `main`. */
  private def refs(spark: SparkSession, source: ConversionSource,
      path: String): DataFrame = {
    import spark.implicits._
    source match {
      case _: graft.formats.iceberg.IcebergConversionSource =>
        val v = graft.formats.iceberg.IcebergMetadata.currentVersion(path)
          .getOrElse(throw new IllegalStateException(
            s"no Iceberg table at $path"))
        val m = graft.formats.iceberg.IcebergMetadata.read(path, v)
        val seqOf = m.snapshots.map(s => s.snapshotId -> s.sequenceNumber)
          .toMap
        (("main", m.currentSnapshotId, "branch") +: m.refs.toSeq
          .sortBy(_._1).map { case (n, r) => (n, r.snapshotId, r.refType) })
          .map { case (n, sid, t) =>
            (n, t, sid, seqOf.getOrElse(sid, -1L)) }
          .toDF("name", "type", "snapshot_id", "sequence_number")
      case other => throw new IllegalArgumentException(
        s"refs metaTable needs Iceberg snapshot refs; this is a " +
          s"${other.sourceFormat} table")
    }
  }
}

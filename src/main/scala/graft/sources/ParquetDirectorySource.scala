package graft.sources

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.model._
import graft.spi.ConversionSource

/** Treats a directory of Parquet files (flat or hive-partitioned) as a table
  * — reference ParquetConversionSource.java:70-301: schema from footers,
  * files from recursive listing, partition values from hive-style paths,
  * commit id = file modification time (Long).
  *
  * The listing is a Dataset end-to-end ([[ParquetFooters.listingDataset]]):
  * directory walk, footer reads, mtime aggregation, and layout detection
  * all run on executors; the driver only ever sees aggregates (max mtime,
  * distinct commit stamps) — never the file list itself.
  */
class ParquetDirectorySource(
    spark: SparkSession,
    basePath: String,
    tableName: String,
    partitionSpec: Seq[PartitionFieldSpec] = Nil,
    statsColumns: Option[Set[String]] = None)
  extends ConversionSource {

  override def sourceFormat: String = TableFormats.Parquet

  private def listing: Dataset[ParquetFooters.ListedFile] =
    ParquetFooters.listingDataset(spark, basePath)

  /** (file count, max mtime, an example path's partition segment count) in
    * one small aggregate job.
    */
  private def listingSummary(): (Long, Long, Option[String]) = {
    val row = listing.agg(
      count(lit(1)), max(col("modifiedMillis")), min(col("path"))).head()
    (row.getLong(0),
      if (row.isNullAt(1)) 0L else row.getLong(1),
      if (row.isNullAt(2)) None else Some(row.getString(2)))
  }

  override def currentTable(): TableDescriptor = {
    val (n, latest, samplePath) = listingSummary()
    if (n == 0) throw new IllegalStateException(
      s"no parquet/orc/avro data files under $basePath")
    // schema from Spark's own reader (footer-derived, includes hive
    // partition columns); mergeSchema so a column added by newer files
    // appears — reference infers from latest footer
    // (ParquetConversionSource.java:88-107). pathGlobFilter keeps stray
    // non-data files (README, _SUCCESS companions, checksums) out of the
    // footer merge — a real table dir is never only data files. ORC dirs
    // (reference FileFormat.java:27-29) read through Spark's ORC reader.
    val isOrc = samplePath.exists(_.endsWith(".orc"))
    val isAvro = samplePath.exists(_.endsWith(".avro"))
    val schema =
      if (isAvro)
        // avro container header carries the writer schema; Spark ships no
        // in-core avro datasource, so read it via avro-core directly
        AvroFiles.sparkSchemaOf(samplePath.get,
          graft.util.HadoopConfs.session(spark))
      else if (isOrc) spark.read.option("mergeSchema", "true")
        .option("pathGlobFilter", "*.orc").orc(basePath).schema
      else spark.read.option("mergeSchema", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(basePath).schema
    val samplePartitions = samplePath.toSeq.flatMap(p =>
      ParquetFooters.partitionValuesFromPath(basePath, p))
    val layout = if (partitionSpec.nonEmpty || samplePartitions.nonEmpty)
      Layout.HivePartitioned else Layout.Flat
    val spec =
      if (partitionSpec.nonEmpty) partitionSpec
      else samplePartitions.map(pv =>
        PartitionFieldSpec(pv.field, Transform.Value))
    // the avro header knows nothing of hive path partitions — append them
    // (string-typed, the path's native form; parquet/orc get them from
    // Spark's own partition inference)
    val fullSchema =
      if (!isAvro) schema
      else StructType(schema.fields ++ samplePartitions
        .filterNot(pv => schema.fieldNames.contains(pv.field))
        .map(pv => StructField(pv.field, StringType)))
    TableDescriptor(tableName, TableFormats.Parquet,
      graft.util.PathUtils.canonical(basePath), fullSchema, spec, layout,
      latest)
  }

  override def currentSnapshot(): TableSnapshot = {
    val table = currentTable()
    TableSnapshot(table,
      ParquetFooters.fileEntriesDs(spark, basePath, listing, statsColumns),
      table.latestCommitMillis.toString)
  }

  /** One "commit" = all files sharing a modification timestamp. */
  override def changeForCommit(commit: String): TableChange = {
    import spark.implicits._
    val ts = commit.toLong
    val files = listing.filter(col("modifiedMillis") === ts)
      .as[ParquetFooters.ListedFile]
    val added = ParquetFooters.fileEntriesDs(
      spark, basePath, files, statsColumns)
    val table = currentTable().copy(latestCommitMillis = ts)
    TableChange(commit, table,
      FilesDelta(Right(added), Left(Vector.empty)))
  }

  override def commitsBacklog(lastSynced: String): Seq[String] = {
    import spark.implicits._
    val since = lastSynced.toLong
    listing.select(col("modifiedMillis")).as[Long]
      .filter(_ > since).distinct().collect().sorted.map(_.toString).toSeq
  }

  /** Files never disappear from a plain directory source except via external
    * deletes we cannot see — incremental is safe from any instant.
    */
  override def isIncrementalSyncSafeFrom(commit: String): Boolean = true
}

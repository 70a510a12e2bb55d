package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
import org.apache.parquet.schema.LogicalTypeAnnotation._
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.types._

import graft.model._

/** Distributed Parquet footer reading: file paths in, `FileEntry` rows with
  * merged per-file column stats out.
  *
  * Reference: ParquetMetadataExtractor.java:59 + ParquetStatsExtractor
  * .mergeColumnChunks (ParquetStatsExtractor.java:63-97) — but where the
  * reference reads footers serially on the driver, we `mapPartitions` over
  * the file list so 10^6-file tables scan their footers cluster-wide.
  */
object ParquetFooters {

  case class ListedFile(path: String, length: Long, modifiedMillis: Long)

  /** List data files under a base path (recursive, skipping hidden/_ files).
    * Driver-side — use only for a single directory subtree; whole-table
    * listings go through [[listingDataset]] so the walk parallelizes.
    */
  def listFiles(basePath: String, conf: Configuration): Seq[ListedFile] = {
    val base = new Path(basePath)
    val fs = base.getFileSystem(conf)
    val out = Seq.newBuilder[ListedFile]
    val it = fs.listFiles(base, true)
    while (it.hasNext) {
      val st = it.next()
      val name = st.getPath.getName
      if (st.isFile && isDataFile(name)) {
        out += ListedFile(graft.util.PathUtils.canonical(st.getPath.toString),
          st.getLen, st.getModificationTime)
      }
    }
    out.result()
  }

  private def isDataFile(name: String): Boolean =
    (name.endsWith(".parquet") || name.endsWith(".orc") ||
      name.endsWith(".avro")) &&
      !name.startsWith("_") && !name.startsWith(".")

  /** FileEntry format label from the file name (reference models parquet,
    * orc and avro base files — FileFormat.java:27-29).
    */
  def formatOf(path: String): String =
    if (path.endsWith(".orc")) "orc"
    else if (path.endsWith(".avro")) "avro"
    else "parquet"

  /** Whole-table listing as a Dataset: the driver reads ONE level (files +
    * partition directories), then each directory subtree is walked in an
    * executor task. A 10^5-partition table lists with 10^5-way parallelism
    * instead of a driver loop over every file (the reference leans on
    * Hudi's metadata table / parallel listing for exactly this; Spark's
    * InMemoryFileIndex makes the same driver-vs-cluster split).
    */
  def listingDataset(spark: SparkSession, basePath: String)
      : Dataset[ListedFile] = {
    import spark.implicits._
    val conf = graft.util.HadoopConfs.session(spark)
    val base = new Path(basePath)
    val fs = base.getFileSystem(conf)
    val rootStatus = fs.getFileStatus(base)
    if (rootStatus.isFile) {
      val lf =
        if (isDataFile(base.getName))
          Seq(ListedFile(graft.util.PathUtils.canonical(base.toString),
            rootStatus.getLen, rootStatus.getModificationTime))
        else Nil
      return spark.createDataset(lf)
    }
    val level1 = fs.listStatus(base).toSeq
      .filterNot(s => s.getPath.getName.startsWith("_") ||
        s.getPath.getName.startsWith("."))
    val direct = level1.filter(s => s.isFile && isDataFile(s.getPath.getName))
      .map(s => ListedFile(graft.util.PathUtils.canonical(s.getPath.toString),
        s.getLen, s.getModificationTime))
    val dirs = level1.filter(_.isDirectory).map(_.getPath.toString)
    if (dirs.isEmpty) spark.createDataset(direct)
    else {
      val parallelism = math.max(1,
        math.min(dirs.size, spark.sparkContext.defaultParallelism * 2))
      val bconf = graft.util.HadoopConfs.broadcastSession(spark)
      val sub = graft.util.Par.ds(spark, dirs, parallelism)
        .mapPartitions { it =>
          val c = bconf.value.value
          it.flatMap(d => listFiles(d, c))
        }
      spark.createDataset(direct).union(sub)
    }
  }

  /** Distributed footer scan over an already-distributed listing. */
  def fileEntriesDs(spark: SparkSession, basePath: String,
      files: Dataset[ListedFile], statsColumns: Option[Set[String]] = None)
      : Dataset[FileEntry] = {
    import spark.implicits._
    val base = basePath
    val cols = statsColumns
    val parallelism = math.max(1, spark.sparkContext.defaultParallelism)
    val bconf = graft.util.HadoopConfs.broadcastSession(spark)
    files.repartition(parallelism).mapPartitions { it =>
      val conf = bconf.value.value
      it.map { f =>
        val (records, stats) = readFooterStats(f.path, conf, cols)
        FileEntry(f.path, f.length, records, formatOf(f.path),
          partitionValuesFromPath(base, f.path), stats, f.modifiedMillis)
      }
    }
  }

  /** Spark DataType for a parquet primitive column (for stat canonical
    * encoding/ordering only — table schema still comes from Spark's reader).
    */
  private def sparkTypeOf(prim: PrimitiveType): Option[DataType] = {
    val ann = prim.getLogicalTypeAnnotation
    prim.getPrimitiveTypeName match {
      case INT32 => ann match {
        case _: DateLogicalTypeAnnotation => Some(DateType)
        case d: DecimalLogicalTypeAnnotation =>
          Some(DecimalType(d.getPrecision, d.getScale))
        case _ => Some(IntegerType)
      }
      case INT64 => ann match {
        case t: TimestampLogicalTypeAnnotation => Some(TimestampType)
        case d: DecimalLogicalTypeAnnotation =>
          Some(DecimalType(d.getPrecision, d.getScale))
        case _ => Some(LongType)
      }
      case FLOAT => Some(FloatType)
      case DOUBLE => Some(DoubleType)
      case BOOLEAN => Some(BooleanType)
      case BINARY | FIXED_LEN_BYTE_ARRAY => ann match {
        case _: StringLogicalTypeAnnotation => Some(StringType)
        case _: EnumLogicalTypeAnnotation => Some(StringType)
        case d: DecimalLogicalTypeAnnotation =>
          Some(DecimalType(d.getPrecision, d.getScale))
        case _ => Some(BinaryType)
      }
      case INT96 => None                     // legacy timestamps: no stats
      case _ => None
    }
  }

  /** Canonical string for a raw parquet stat value. */
  private def encodeStat(v: Any, prim: PrimitiveType, dt: DataType): String = {
    val ann = prim.getLogicalTypeAnnotation
    (v, dt) match {
      case (b: Binary, StringType) => b.toStringUsingUTF8
      case (b: Binary, _: DecimalType) =>
        val d = ann.asInstanceOf[DecimalLogicalTypeAnnotation]
        new java.math.BigDecimal(
          new java.math.BigInteger(b.getBytes), d.getScale).toPlainString
      case (b: Binary, BinaryType) =>
        b.getBytes.map("%02x".format(_)).mkString
      case (i: java.lang.Integer, DateType) =>
        java.time.LocalDate.ofEpochDay(i.longValue()).toString
      case (i: java.lang.Integer, d: DecimalType) =>
        java.math.BigDecimal.valueOf(i.longValue(), d.scale).toPlainString
      case (l: java.lang.Long, TimestampType) =>
        val unit = ann.asInstanceOf[TimestampLogicalTypeAnnotation].getUnit
        val micros = unit match {
          case LogicalTypeAnnotation.TimeUnit.MILLIS => l * 1000L
          case LogicalTypeAnnotation.TimeUnit.MICROS => l.longValue()
          case LogicalTypeAnnotation.TimeUnit.NANOS => l / 1000L
        }
        micros.toString
      case (l: java.lang.Long, d: DecimalType) =>
        java.math.BigDecimal.valueOf(l, d.scale).toPlainString
      case (other, _) => other.toString
    }
  }

  /** A parquet reader of `path` whose read options come from `conf`.
    * Opened from the `InputFile` alone, the reader builds them from a
    * fresh default `Configuration` instead: the caller's settings are
    * ignored, and the Hadoop default resources are parsed on every open.
    */
  def open(path: Path, conf: Configuration): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromPath(path, conf),
      org.apache.parquet.HadoopReadOptions.builder(conf, path).build())

  /** Read one file's footer → (recordCount, merged column stats).
    * `columns` projects stat extraction to the given dotted paths —
    * reference behavior: stats only for fields in the read schema
    * (DeltaStatsUtils.parseColumnStatsFromJson filters the same way,
    * SURVEY §2.3).
    */
  def readFooterStats(path: String, conf: Configuration,
      columns: Option[Set[String]] = None)
      : (Long, Seq[FileColumnStat]) = {
    if (path.endsWith(".orc"))
      return OrcFooters.readFooterStats(path, conf, columns)
    if (path.endsWith(".avro"))
      return AvroFiles.readFooterStats(path, conf)
    val reader = open(new Path(path), conf)
    try {
      val footer = reader.getFooter
      val blocks = footer.getBlocks.asScala.toSeq
      val recordCount = blocks.map(_.getRowCount).sum
      // per column: merge chunks across row groups (min-of-min, max-of-max,
      // sum of nulls/sizes/counts)
      val merged = scala.collection.mutable.LinkedHashMap
        .empty[String, (Option[String], Option[String], Long, Long, Long, DataType)]
      for (block <- blocks; cc <- block.getColumns.asScala
           if columns.forall(_.contains(cc.getPath.toDotString))) {
        val name = cc.getPath.toDotString
        val prim = footer.getFileMetaData.getSchema
          .getColumnDescription(cc.getPath.toArray).getPrimitiveType
        sparkTypeOf(prim).foreach { dt =>
          val st = cc.getStatistics
          val (mn, mx, nulls) =
            if (st == null || st.isEmpty) (None, None, 0L)
            else {
              val nn = if (st.isNumNullsSet) st.getNumNulls else 0L
              if (st.hasNonNullValue)
                (Some(encodeStat(st.genericGetMin, prim, dt)),
                 Some(encodeStat(st.genericGetMax, prim, dt)), nn)
              else (None, None, nn)
            }
          val prev = merged.getOrElse(name,
            (None: Option[String], None: Option[String], 0L, 0L, 0L, dt))
          def pick(a: Option[String], b: Option[String], wantMin: Boolean) =
            (a, b) match {
              case (Some(x), Some(y)) =>
                Some(if (StatCodec.lt(x, y, dt) == wantMin) x else y)
              case (x, y) => x.orElse(y)
            }
          merged(name) = (
            pick(prev._1, mn, wantMin = true),
            pick(prev._2, mx, wantMin = false),
            prev._3 + nulls,
            prev._4 + cc.getValueCount,
            prev._5 + cc.getTotalSize,
            dt)
        }
      }
      val stats = merged.iterator.map { case (f, (mn, mx, nulls, vals, size, _)) =>
        FileColumnStat(f, mn, mx, nulls, vals, size)
      }.toSeq
      (recordCount, stats)
    } finally reader.close()
  }

  /** Hive-style partition values from the path segments under basePath. */
  def partitionValuesFromPath(basePath: String, filePath: String)
      : Seq[PartitionMember] = {
    graft.util.PathUtils.partitionPath(basePath, filePath)
      .split('/').toSeq.filter(_.contains('='))
      .map { seg =>
        val i = seg.indexOf('=')
        PartitionMember(seg.substring(0, i), seg.substring(i + 1))
      }
  }

  /** The distributed footer scan: listing → `Dataset[FileEntry]`. */
  def fileEntries(spark: SparkSession, basePath: String, files: Seq[ListedFile],
      statsColumns: Option[Set[String]] = None): Dataset[FileEntry] = {
    import spark.implicits._
    val base = basePath
    val cols = statsColumns
    val bconf = graft.util.HadoopConfs.broadcastSession(spark)
    graft.util.Par.ds(spark, files, 256).mapPartitions { it =>
      val conf = bconf.value.value
      it.map { f =>
        val (records, stats) = readFooterStats(f.path, conf, cols)
        FileEntry(f.path, f.length, records, "parquet",
          partitionValuesFromPath(base, f.path), stats, f.modifiedMillis)
      }
    }
  }
}

package graft.plans

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, PartitionDirectory}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.model._

/** A Catalyst `FileIndex` over a snapshot's placed file listing.
  *
  * This is the converted-table read path. The naive alternative — collect
  * every file path and hand the list to `spark.read.parquet` — holds
  * O(num-files) strings on the driver and embeds them in the logical plan;
  * at 10^6..10^7 files (100 TB) that is a driver OOM. Here the listing is
  * the snapshot's own [[Listing]]: a listing of at most
  * [[Placement.MaxRows]] entries is held on the driver, a larger one stays
  * a pinned `Dataset[FileEntry]`, and two prunings run where it is
  * (distributed for a large listing), *before* anything is collected:
  *
  *   1. partition pruning — Catalyst partition filters are bound to the
  *      partition schema and evaluated per file against its
  *      `partitionValues` (reference semantics: partition filters select
  *      file groups, PartitionSpecExtractor / spec §Scans);
  *   2. file skipping — data filters are compared against the per-file
  *      min/max column stats (same design as Delta data skipping; the stats
  *      come from the metadata plane, reference ColumnStat.java:28-33).
  *
  * Only the surviving files' (path, size, mtime, partitionValues,
  * deletion vector) rows are collected to build `PartitionDirectory`s —
  * proportional to the query's matching files, never the table's total
  * file count. Each file's canonical path and deletion-vector descriptor
  * ride with it as file-constant metadata ([[ListingFields]]).
  */
class SnapshotFileIndex(spark: SparkSession, snap: TableSnapshot)
  extends FileIndex {

  private val tableSchema: StructType = snap.table.schema

  /** The snapshot's listing, fetched once per snapshot and shared by every
    * FileIndex entry point (`sizeInBytes` during join planning,
    * `listFiles` per scan, possibly again under AQE) and by every index
    * over the same snapshot ([[Listing]]). Metadata-plane aggregates (the
    * count(*) pushdown in [[MetadataCountRule]]) read it directly.
    */
  private[graft] def listing: org.apache.spark.sql.Dataset[FileEntry] =
    snap.listing.dataset

  /** Physical partition columns: typed from the table schema when present,
    * string otherwise (time-transform columns like `ts_day` are layout
    * artifacts not in the logical schema).
    */
  override val partitionSchema: StructType =
    if (snap.table.layout != Layout.HivePartitioned) new StructType()
    else StructType(snap.table.partitionFields.map { pf =>
      val n = pf.partitionColumnName
      tableSchema.find(_.name == n)
        .getOrElse(StructField(n, StringType, nullable = true))
    })

  /** Columns read from the parquet files themselves. */
  def dataSchema: StructType = {
    val partNames = partitionSchema.fieldNames.toSet
    StructType(tableSchema.filterNot(f => partNames.contains(f.name)))
  }

  override def rootPaths: Seq[Path] = Seq(new Path(snap.table.basePath))

  /** A snapshot is immutable: there is nothing to re-list. */
  override def refresh(): Unit = ()

  override lazy val sizeInBytes: Long = snap.listing.fetched.weight

  override def inputFiles: Array[String] = snap.listing.placed match {
    case scala.util.Left(entries) => entries.iterator.map(_.path).toArray
    case scala.util.Right(files) =>
      val s = files.sparkSession
      import s.implicits._
      files.select("path").as[String].collect()
  }

  /** Bloom-indexed columns, resolved once per index instance (one FS
    * round-trip); pruning #3 below is skipped entirely when empty.
    */
  private lazy val bloomCols =
    BloomIndex.indexedColumns(spark, snap.table.basePath)

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val partPredicate = bindPartitionPredicate(partitionFilters)
    val predNames: Seq[String] =
      partPredicate.map(_._2).getOrElse(Nil)
    val skip = StatSkipping.compile(dataFilters, tableSchema)
    val pSchema = partitionSchema
    val tablePath = snap.table.basePath

    def keepEntry(pred: Option[InterpretedPredicate])(f: FileEntry)
        : Boolean = {
      // a file can predate a partition-spec evolution and carry no
      // value for a referenced partition field — its transform value is
      // UNKNOWN there, so the file must be kept conservatively (eval
      // would see null and prune a file whose DATA may match)
      val evaluable = predNames.forall(n =>
        f.partitionValues.exists(_.field == n))
      val partOk = !evaluable || pred.forall { p =>
        p.eval(SnapshotFileIndex.partitionRow(f.partitionValues, pSchema))
      }
      partOk && skip.forall(_.keep(f))
    }
    def shape(f: FileEntry) =
      (f.path, f.fileSizeBytes, f.lastModifiedMillis,
        pSchema.fieldNames.toSeq.map(n =>
          f.partitionValues.find(_.field == n).map(_.value).orNull),
        f.deletionVector.map(graft.formats.delta.DeletionVectors
          .toScanField(tablePath, _)).orNull)

    // a listing on the driver prunes there — the same predicates over
    // the same rows, minus one Spark job per scan planning; bloom-indexed
    // tables keep the distributed prune (the index join is a data-plane
    // read)
    val survivors = snap.listing.placed match {
      case scala.util.Left(entries) if bloomCols.isEmpty =>
        val pred = partPredicate.map { case (e, _) =>
          Predicate.createInterpreted(e)
        }
        entries.filter(keepEntry(pred)).map(shape(_)).toArray
      case placed =>
        // pruning #3 — file-level bloom index (point lookups on columns
        // min/max can't cut): a distributed join against the index sidecar
        import spark.implicits._
        val files = BloomIndex.prune(spark, Placement.dataset(spark, placed),
          snap.table.basePath, dataFilters, bloomCols)
        files.mapPartitions { it =>
          val pred = partPredicate.map { case (e, _) =>
            Predicate.createInterpreted(e)
          }
          it.filter(keepEntry(pred)).map(shape(_))
        }.collect()
    }

    survivors.groupBy(_._4).map { case (partVals, group) =>
      val row = InternalRow.fromSeq(partVals.zip(pSchema.fields).map {
        case (v, f) => SnapshotFileIndex.catalystValue(v, f.dataType)
      })
      val statuses = group.toSeq.map { case (path, size, mtime, _, dv) =>
        FileStatusWithMetadata(
          new FileStatus(size, false, 1, math.max(size, 1L), mtime,
            new Path(path)),
          Map(ListingFields.Path -> path) ++
            Option(dv).map(ListingFields.Dv -> _))
      }
      PartitionDirectory(row, statuses)
    }.toSeq
  }

  /** Bind the partition filters' attribute references to ordinals of the
    * partition schema so the predicate can ship to executors. Filters that
    * reference unknown names or are non-deterministic prune nothing.
    */
  private def bindPartitionPredicate(filters: Seq[Expression])
      : Option[(Expression, Seq[String])] = {
    if (filters.isEmpty || partitionSchema.isEmpty) return None
    val usable = filters.filter { f =>
      f.deterministic && f.references.forall(a =>
        partitionSchema.fieldNames.contains(a.name))
    }
    if (usable.isEmpty) return None
    val names = usable.flatMap(_.references.toSeq.map(_.name)).distinct
    Some((usable.reduce(And).transform {
      case a: AttributeReference =>
        val i = partitionSchema.fieldIndex(a.name)
        BoundReference(i, partitionSchema(i).dataType, nullable = true)
    }, names))
  }
}

object SnapshotFileIndex {

  /** The one snapshot factory over a placed listing decode: the snapshot
    * holds the listing where the decode placed it ([[Listing]]).
    */
  def snapshot(spark: SparkSession, table: TableDescriptor,
      commitId: String, listing: Placement.Placed[FileEntry])
      : TableSnapshot =
    TableSnapshot(table, new Listing(spark, listing), commitId)

  private val HiveDefaultPartition = "__HIVE_DEFAULT_PARTITION__"

  /** Path-segment string → Catalyst internal value for the declared type. */
  def catalystValue(v: String, dt: DataType): Any = {
    if (v == null || v == HiveDefaultPartition) return null
    dt match {
      case StringType => UTF8String.fromString(v)
      case IntegerType => v.toInt
      case LongType => v.toLong
      case ShortType => v.toShort
      case ByteType => v.toByte
      case DoubleType => v.toDouble
      case FloatType => v.toFloat
      case BooleanType => v.toBoolean
      case DateType => java.time.LocalDate.parse(v).toEpochDay.toInt
      case TimestampType | TimestampNTZType => v.toLong
      case d: DecimalType => Decimal(new java.math.BigDecimal(v), d.precision, d.scale)
      case _ => UTF8String.fromString(v)
    }
  }

  /** One file's partition values as an InternalRow in schema order. */
  def partitionRow(values: Seq[PartitionMember], schema: StructType): InternalRow = {
    val byName = values.iterator.map(m => m.field -> m.value).toMap
    InternalRow.fromSeq(schema.fields.toSeq.map { f =>
      catalystValue(byName.getOrElse(f.name, null), f.dataType)
    })
  }
}

/** File skipping on per-file min/max stats — serializable compiled form of
  * the data filters, evaluated executor-side over `FileEntry.columnStats`.
  * Conservative: any shape it cannot prove excluded keeps the file.
  */
case class StatSkipping(bounds: Seq[StatSkipping.Bound]) extends Serializable {
  def keep(f: FileEntry): Boolean = keepStats(f.columnStats)

  /** Same admission test over bare per-column stats (e.g. parsed from a
    * Delta add action's stats JSON, outside any FileEntry).
    */
  def keepStats(stats: Seq[graft.model.FileColumnStat]): Boolean = {
    if (bounds.isEmpty) return true
    bounds.forall { b =>
      stats.find(_.field == b.field) match {
        case None => true                    // no stats for the column: keep
        case Some(st) => b.admits(st)
      }
    }
  }
}

object StatSkipping {

  /** One conjunct usable for skipping; values in StatCodec canonical form. */
  case class Bound(field: String, dt: DataType, op: String, value: String)
    extends Serializable {
    def admits(st: FileColumnStat): Boolean = op match {
      case "eq" => (st.min, st.max) match {
        case (Some(mn), Some(mx)) =>
          !StatCodec.lt(value, mn, dt) && !StatCodec.lt(mx, value, dt)
        case _ => true
      }
      case "gt" => st.max.forall(mx => StatCodec.lt(value, mx, dt))
      case "gte" => st.max.forall(mx => !StatCodec.lt(mx, value, dt))
      case "lt" => st.min.forall(mn => StatCodec.lt(mn, value, dt))
      case "lte" => st.min.forall(mn => !StatCodec.lt(value, mn, dt))
      case "notnull" =>
        // skip only files whose stats prove the column is entirely null
        !(st.numValues > 0 && st.numNulls == st.numValues)
      case "isnull" => st.numNulls > 0 || st.numValues == 0
      case _ => true
    }
  }

  /** Extract skippable conjuncts from Catalyst data filters. */
  def compile(filters: Seq[Expression], schema: StructType): Option[StatSkipping] = {
    val bounds = filters.filter(_.deterministic)
      .flatMap(splitConjuncts).flatMap(toBound(_, schema))
    if (bounds.isEmpty) None else Some(StatSkipping(bounds))
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  private def toBound(e: Expression, schema: StructType): Option[Bound] = {
    def enc(l: Literal): Option[String] =
      StatCodec.encode(l.value match {
        case u: UTF8String => u.toString
        case d: Decimal => d
        case other => other
      }, l.dataType)
    def mk(a: AttributeReference, l: Literal, op: String): Option[Bound] =
      if (l.value == null) None else enc(l).map(Bound(a.name, a.dataType, op, _))
    e match {
      case EqualTo(a: AttributeReference, l: Literal) => mk(a, l, "eq")
      case EqualTo(l: Literal, a: AttributeReference) => mk(a, l, "eq")
      case GreaterThan(a: AttributeReference, l: Literal) => mk(a, l, "gt")
      case GreaterThan(l: Literal, a: AttributeReference) => mk(a, l, "lt")
      case GreaterThanOrEqual(a: AttributeReference, l: Literal) => mk(a, l, "gte")
      case GreaterThanOrEqual(l: Literal, a: AttributeReference) => mk(a, l, "lte")
      case LessThan(a: AttributeReference, l: Literal) => mk(a, l, "lt")
      case LessThan(l: Literal, a: AttributeReference) => mk(a, l, "gt")
      case LessThanOrEqual(a: AttributeReference, l: Literal) => mk(a, l, "lte")
      case LessThanOrEqual(l: Literal, a: AttributeReference) => mk(a, l, "gte")
      case IsNotNull(a: AttributeReference) =>
        Some(Bound(a.name, a.dataType, "notnull", ""))
      case IsNull(a: AttributeReference) =>
        Some(Bound(a.name, a.dataType, "isnull", ""))
      case _ => None
    }
  }
}

package graft.plans

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.model._

/** A Catalyst `FileIndex` over a snapshot's distributed file listing.
  *
  * This is the converted-table read path. The naive alternative — collect
  * every file path and hand the list to `spark.read.parquet` — holds
  * O(num-files) strings on the driver and embeds them in the logical plan;
  * at 10^6..10^7 files (100 TB) that is a driver OOM. Here the listing stays
  * a `Dataset[FileEntry]` and two prunings run *distributed, before*
  * anything is collected:
  *
  *   1. partition pruning — Catalyst partition filters are bound to the
  *      partition schema and evaluated per file against its
  *      `partitionValues` (reference semantics: partition filters select
  *      file groups, PartitionSpecExtractor / spec §Scans);
  *   2. file skipping — data filters are compared against the per-file
  *      min/max column stats (same design as Delta data skipping; the stats
  *      come from the metadata plane, reference ColumnStat.java:28-33).
  *
  * Only the surviving files' (path, size, mtime, partitionValues) rows are
  * collected to build `PartitionDirectory`s — proportional to the query's
  * matching files, never the table's total file count.
  */
class SnapshotFileIndex(spark: SparkSession, snap: TableSnapshot)
  extends FileIndex {

  private val tableSchema: StructType = snap.table.schema

  /** The listing, materialized once. Every FileIndex entry point
    * (`sizeInBytes` during join planning, `listFiles` per scan, possibly
    * again under AQE) is a separate Spark action; without this each action
    * re-executes the full metadata replay (log JSON parse + latest-action
    * window shuffle). Persisted through a bounded registry keyed by
    * (table, commit): reads of the same snapshot share one materialization
    * and old entries are unpersisted, so a long-lived session doesn't
    * accumulate cached listings (mirrors Spark's own CatalogFileIndex
    * caching, with an explicit bound).
    */
  private lazy val filesDs = SnapshotFileIndex.listingFor(snap)

  /** The snapshot's file listing (metadata-plane aggregates — e.g. the
    * count(*) pushdown in [[MetadataCountRule]] — read it directly).
    */
  private[graft] def listing: org.apache.spark.sql.Dataset[FileEntry] =
    filesDs

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

  override def refresh(): Unit = SnapshotFileIndex.invalidate(snap)

  override lazy val sizeInBytes: Long =
    SnapshotFileIndex.localFor(snap) match {
      case Some(entries) => entries.iterator.map(_.fileSizeBytes).sum
      case None =>
        import org.apache.spark.sql.functions.{coalesce, lit, sum}
        filesDs.agg(coalesce(sum("fileSizeBytes"), lit(0L))).head().getLong(0)
    }

  override def inputFiles: Array[String] =
    SnapshotFileIndex.localFor(snap) match {
      case Some(entries) => entries.iterator.map(_.path).toArray
      case None =>
        val s = filesDs.sparkSession
        import s.implicits._
        filesDs.select("path").as[String].collect()
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
          f.partitionValues.find(_.field == n).map(_.value).orNull))

    // small listings (already bounded on the driver by the collect below)
    // prune driver-side — the same predicates over the same rows, minus
    // one Spark job per scan planning; bloom-indexed tables keep the
    // distributed prune (the index join is a data-plane read)
    val local: Option[Seq[FileEntry]] =
      if (bloomCols.isEmpty) SnapshotFileIndex.localFor(snap) else None
    val survivors = local match {
      case Some(entries) =>
        val pred = partPredicate.map { case (e, _) =>
          Predicate.createInterpreted(e)
        }
        entries.filter(keepEntry(pred)).map(shape(_)).toArray
      case None =>
        // pruning #3 — file-level bloom index (point lookups on columns
        // min/max can't cut): a distributed join against the index sidecar
        val files = BloomIndex.prune(filesDs.sparkSession, filesDs,
          snap.table.basePath, dataFilters, bloomCols)
        val session = files.sparkSession
        import session.implicits._
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
      val statuses = group.map { case (path, size, mtime, _) =>
        new FileStatus(size, false, 1, math.max(size, 1L), mtime, new Path(path))
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

  /** How many snapshot listings stay persisted at once. Each entry is
    * O(live files) rows distributed across the cluster; the bound exists so
    * a session touching many tables doesn't grow the block-manager (and
    * CacheManager plan-lookup) without limit.
    */
  private val MaxCachedListings = 8

  private val cachedListings =
    new java.util.LinkedHashMap[String, org.apache.spark.sql.Dataset[FileEntry]](
      16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, org.apache.spark.sql.Dataset[FileEntry]])
          : Boolean =
        if (size > MaxCachedListings) { e.getValue.unpersist(false); true }
        else false
    }

  /** The persisted listing for a snapshot, shared across every FileIndex
    * over the same (table, commit).
    */
  def listingFor(snap: TableSnapshot): org.apache.spark.sql.Dataset[FileEntry] =
    cachedListings.synchronized {
      val key = snap.table.basePath + "#" + snap.commitId
      Option(cachedListings.get(key)).getOrElse {
        val ds = snap.files.persist()
        cachedListings.put(key, ds)
        ds
      }
    }

  /** Drop a snapshot's persisted listing (FileIndex.refresh contract). */
  def invalidate(snap: TableSnapshot): Unit = cachedListings.synchronized {
    val key = snap.table.basePath + "#" + snap.commitId
    Option(cachedListings.remove(key)).foreach(_.unpersist(false))
    cachedSummaries.remove(key)
    cachedLocals.remove(key)
  }

  /** Small-listing fast path: listings at or under [[LocalListingMax]]
    * entries are collected ONCE per (table, commit) and every subsequent
    * metadata question — `sizeInBytes` at plan time, `listFiles` per scan,
    * the DV/format summary — answers driver-side instead of running its
    * own Spark job (guide §1.2: the per-read job count IS the hot path at
    * small file counts). The driver bound is explicit and no larger than
    * what `listFiles` already collects for a full-table scan; listings
    * past it keep the distributed path, so a 10^6-file table never
    * materializes on the driver. `None` verdicts (too big) are cached so
    * the probe never re-runs.
    */
  private val LocalListingMax = 4096

  private val cachedLocals =
    new java.util.LinkedHashMap[String, Option[IndexedSeq[FileEntry]]](
      16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Option[IndexedSeq[FileEntry]]])
          : Boolean = size > 64
    }

  /** The one snapshot factory over a placed listing decode. A listing
    * decoded on the driver ([[Placement.Driver]]) becomes a local Dataset
    * and seeds the small-listing cache, so no later metadata question
    * runs [[localFor]]'s plan+collect probe job for it; a distributed
    * listing is wrapped as is.
    */
  def snapshot(spark: SparkSession, table: TableDescriptor,
      commitId: String, listing: Placement.Placed[FileEntry])
      : TableSnapshot = listing match {
    case scala.util.Right(files) => TableSnapshot(table, files, commitId)
    case scala.util.Left(entries) =>
      import spark.implicits._
      val snap = TableSnapshot(table, spark.createDataset(entries), commitId)
      cachedLocals.synchronized {
        cachedLocals.putIfAbsent(table.basePath + "#" + commitId,
          Some(entries))
      }
      snap
  }

  def localFor(snap: TableSnapshot): Option[IndexedSeq[FileEntry]] = {
    val key = snap.table.basePath + "#" + snap.commitId
    val cached = cachedLocals.synchronized(Option(cachedLocals.get(key)))
    cached.getOrElse {
      val probe = listingFor(snap).limit(LocalListingMax + 1).collect()
        .toIndexedSeq
      val verdict =
        if (probe.length > LocalListingMax) None else Some(probe)
      cachedLocals.synchronized {
        // the persisted listing is immutable per (table, commit): a
        // racing probe computed the same rows, either verdict is fine
        Option(cachedLocals.get(key)).getOrElse {
          cachedLocals.put(key, verdict); verdict
        }
      }
    }
  }

  /** One-job roll-up of the scan-relevant listing facts: deletion-vector
    * volume (drives the DV anti-join's broadcast decision) and the file
    * formats present (drives FileFormat selection). Every keyed/DV read
    * needs both; computing them separately cost two Spark jobs per read —
    * cached here beside the listing, dropped on [[invalidate]].
    */
  case class ScanSummary(dvFiles: Long, dvRows: Long, dvKeyBytes: Long,
      formats: Seq[String])

  private val cachedSummaries =
    new java.util.LinkedHashMap[String, ScanSummary](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, ScanSummary]): Boolean =
        size > 64
    }

  def summaryFor(snap: TableSnapshot): ScanSummary = {
    import org.apache.spark.sql.functions._
    val key = snap.table.basePath + "#" + snap.commitId
    cachedSummaries.synchronized {
      Option(cachedSummaries.get(key))
    }.getOrElse {
      val s = localFor(snap) match {
        case Some(entries) =>
          // small listing already on the driver: same roll-up, no job
          val dvs = entries.flatMap(e =>
            e.deletionVector.map(d => (d.cardinality,
              d.cardinality * (e.path.length.toLong + 16L))))
          ScanSummary(dvs.length.toLong, dvs.iterator.map(_._1).sum,
            dvs.iterator.map(_._2).sum,
            entries.iterator.map(_.fileFormat).toSeq.distinct.sorted)
        case None =>
          val row = listingFor(snap).agg(
            sum(when(col("deletionVector").isNotNull, 1L).otherwise(0L)),
            sum(col("deletionVector.cardinality")),
            sum(col("deletionVector.cardinality") *
              (length(col("path")).cast("long") + lit(16L))),
            sort_array(collect_set(col("fileFormat")))).head()
          def l(i: Int): Long = if (row.isNullAt(i)) 0L else row.getLong(i)
          ScanSummary(l(0), l(1), l(2), row.getSeq[String](3))
      }
      cachedSummaries.synchronized { cachedSummaries.put(key, s) }
      s
    }
  }

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

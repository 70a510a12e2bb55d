package graft.formats.delta

import java.util.UUID

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.{FileEntry, Transform}
import graft.util.{HadoopConfs, Jsons, PathUtils}

/** Table-layout maintenance for Delta tables: OPTIMIZE (bin-packing
  * compaction) and OPTIMIZE ZORDER BY (multi-column clustering) — the two
  * rewrites every large production table runs continuously. Neither
  * changes table contents: both commit `dataChange=false` add/remove
  * pairs, so downstream incremental consumers know no rows moved.
  *
  * - [[compact]] folds small files (and files carrying deletion vectors —
  *   compaction is how DV debt is retired) into ~`targetFileBytes` files,
  *   partition by partition.
  * - [[zorderBy]] rewrites the live set clustered by the interleaved
  *   bit-order of up to four columns, so min/max file stats become
  *   selective on EVERY clustered column at once — point/range predicates
  *   on any of them prune most files (plain sorting only serves its
  *   leading column). The z-value is a pure Catalyst expression
  *   (range-bucket per column via broadcast quantile cuts, then a static
  *   shift/or bit-interleave tree), so the whole rewrite stays inside
  *   whole-stage codegen; the only driver-side state is ≤255 cut literals
  *   per column.
  *
  * Scale shape: candidate selection, row rewrite, footer-stat collection
  * and commit-line authoring are all Dataset operations; the driver
  * streams commit lines one partition at a time (same bound as
  * [[DeltaDeletes]]). Quantile cuts come from `approxQuantile` /
  * a bounded sample — never a full collect. The commit CAS-es against the
  * snapshot version observed at planning time, like every graft writer.
  */
object DeltaOptimize {

  /** `rewrote` files (bytes) were replaced by `wrote` new files. */
  case class RewriteResult(rewrote: Long, rewroteBytes: Long, wrote: Long)

  private val NoOp = RewriteResult(0L, 0L, 0L)

  /** Bin-pack every partition's small files (< `minFileBytes`) and every
    * DV-carrying file into ~`targetFileBytes` files. Partitions where
    * compaction would not help (a single small file and no DVs) are left
    * alone. Returns what was rewritten; no-op → no commit.
    */
  /** Restrict a rewrite's candidate listing to the partitions matching
    * `whereSql` (partition columns only — the delta-spark OPTIMIZE WHERE
    * rule): at 100 TB you compact the partitions that churned, never the
    * whole table. Each partition value surfaces as a typed column so the
    * predicate resolves naturally; a predicate naming a non-partition
    * column fails analysis loudly.
    */
  // shared with the Paimon optimizer (same listing/partition model)
  private[graft] def filterByPartition(snap: graft.model.TableSnapshot,
      listing: Dataset[FileEntry], whereSql: Option[String])
      : Dataset[FileEntry] = whereSql match {
    case None => listing
    case Some(w) =>
      import listing.sparkSession.implicits._
      val partCols = snap.table.partitionFields.map(_.partitionColumnName)
      require(partCols.nonEmpty,
        s"OPTIMIZE/ZORDER WHERE needs a partitioned table; " +
          s"${snap.table.basePath} is unpartitioned")
      val schema = snap.table.schema
      val cols = listing.columns.toSeq
      val withVals = partCols.foldLeft(listing.toDF()) { (df, pc) =>
        val raw = element_at(
          filter(col("partitionValues"), p => p("field") === lit(pc)), 1)
          .getField("value")
        val typed = schema.fields.find(_.name == pc)
          .map(f => raw.cast(f.dataType)).getOrElse(raw)
        df.withColumn(pc, typed)
      }
      withVals.filter(expr(w)).select(cols.map(col): _*).as[FileEntry]
  }

  def compact(spark: SparkSession, tablePath: String,
      targetFileBytes: Long = 128L << 20,
      minFileBytes: Long = 32L << 20,
      where: Option[String] = None): RewriteResult = {
    import spark.implicits._
    val snap = sourceOf(spark, tablePath).currentSnapshot()
    val listing = filterByPartition(snap, snap.listing.dataset, where)

    // partition key = canonical partitionValues rendering; a partition is
    // eligible when compaction changes its layout: >=2 small files to
    // fold, or any DV to retire
    val keyed = listing.map(f => (partKey(f), f))
      .toDF("pk", "f")
    val eligible = keyed
      .groupBy("pk")
      .agg(
        sum(when(col("f.fileSizeBytes") < minFileBytes, 1L)
          .otherwise(0L)).as("small"),
        sum(when(col("f.deletionVector").isNotNull, 1L)
          .otherwise(0L)).as("dvs"))
      .filter(col("small") >= 2 || col("dvs") >= 1)
      .select("pk")
    val candidates = keyed
      .join(eligible, "pk")
      .filter(col("f.fileSizeBytes") < minFileBytes ||
        col("f.deletionVector").isNotNull)
      .select("f.*").as[FileEntry]
      // pin: scan, sizing and commit see one set. LAZY checkpoint: the
      // sizing aggregate right below materializes it — the former eager
      // pin plus separate isEmpty probe were two extra jobs per compact
      .localCheckpoint(eager = false)
    val agg = candidates.agg(count(lit(1)), sum("fileSizeBytes")).head()
    if (agg.getLong(0) == 0L) return NoOp
    val (nOld, oldBytes) = (agg.getLong(0), agg.getLong(1))
    // DV-applied rows of ONLY the candidate files, via a sub-snapshot
    val sub = snap.withFiles(candidates)
    val rt = DeltaDeletes.rowTrackingCtx(spark, tablePath, snap,
      sourceOf(spark, tablePath))
    val rows = rewriteRows(spark, sub, rt)
    val nOut = math.max(1L, (oldBytes + targetFileBytes - 1) / targetFileBytes)
    val partCols = snap.table.partitionFields.map(_.partitionColumnName)
      .filter(rows.columns.contains)   // generated cols re-derive later
    // co-locate each partition's rows in few tasks, sized by output
    // bytes — leaving the task layout as read would re-emit one file per
    // input split and compact nothing
    val packed =
      if (partCols.nonEmpty)
        rows.repartition(nOut.toInt, partCols.map(col): _*)
      else rows.repartition(nOut.toInt)
    val wrote = commitRewrite(spark, tablePath, snap, candidates, packed,
      "optimize", rt)
    RewriteResult(nOld, oldBytes, wrote)
  }

  /** Rewrite the WHOLE live set clustered by the z-order of `cols` (1–4
    * columns; numeric, date, timestamp or string). Files come out sorted
    * by interleaved bit order, so every clustered column's min/max range
    * per file is ~`1/nOut`-th of its domain — stat-based skipping prunes
    * on any of them.
    */
  def zorderBy(spark: SparkSession, tablePath: String, cols: Seq[String],
      targetFileBytes: Long = 128L << 20,
      where: Option[String] = None): RewriteResult = {
    import spark.implicits._
    require(cols.nonEmpty && cols.size <= 4,
      s"zorderBy takes 1..4 columns, got ${cols.size}")
    val snap = sourceOf(spark, tablePath).currentSnapshot()
    val schema = snap.table.schema
    cols.foreach(c => require(schema.fieldNames.contains(c),
      s"zorder column $c is not in the table schema " +
        schema.fieldNames.mkString("[", ",", "]")))
    val listing = filterByPartition(snap, snap.listing.dataset, where)
      // lazy pin + emptiness answered by the sizing aggregate (see
      // compact) — two jobs saved per rewrite
      .localCheckpoint(eager = false)
    val agg = listing.agg(count(lit(1)), sum("fileSizeBytes")).head()
    if (agg.getLong(0) == 0L) return NoOp
    val (nOld, oldBytes) = (agg.getLong(0), agg.getLong(1))

    // rows of ONLY the selected files (whole table when no WHERE)
    val sub = if (where.isEmpty) snap else snap.withFiles(listing)
    val rt = DeltaDeletes.rowTrackingCtx(spark, tablePath, snap,
      sourceOf(spark, tablePath))
    val rows = rewriteRows(spark, sub, rt)
    val nOut = math.max(1L, (oldBytes + targetFileBytes - 1) / targetFileBytes)
    val partCols = snap.table.partitionFields.map(_.partitionColumnName)
      .filter(rows.columns.contains)   // generated cols are re-derived later
    val clustered = graft.operators.ZOrder.clusterize(rows, cols,
      nOut.toInt, partCols, inputBytes = oldBytes)
    val wrote = commitRewrite(spark, tablePath, snap,
      listing, clustered, "zorder", rt)
    RewriteResult(nOld, oldBytes, wrote)
  }

  /** Write `rows` as the replacement for `removed`, stats included, and
    * commit remove+add pairs with `dataChange=false` (a rewrite moves no
    * rows, and incremental consumers must know that). Returns the new
    * file count.
    */
  /** The rewrite's input rows. Under row tracking every row carries its
    * SERVED id and commit version into the replacement files' two
    * materialized columns — OPTIMIZE moves bytes, not rows, so both must
    * survive verbatim (the new file's defaults would lie on both
    * counts).
    */
  private def rewriteRows(spark: SparkSession,
      sub: graft.model.TableSnapshot,
      rt: Option[DeltaDeletes.RowTrackingCtx]): DataFrame = rt match {
    case None => DeltaRead.toDataFrame(spark, sub)
    case Some(c) =>
      val schema = sub.table.schema
      DeltaDeletes.keyedScanWithIds(spark, sub, rt)
        .select(schema.fieldNames.toSeq.map(col) ++ Seq(
          col(DeltaDeletes.PreservedIdCol).as(c.ridCol),
          col(DeltaDeletes.PreservedVerCol).as(c.rcvCol)): _*)
  }

  private def commitRewrite(spark: SparkSession, tablePath: String,
      snap: graft.model.TableSnapshot, removed: Dataset[FileEntry],
      rows: DataFrame, prefix: String,
      rt: Option[DeltaDeletes.RowTrackingCtx] = None): Long = {
    import spark.implicits._
    val tp = snap.table.basePath
    DeltaSnapshot.requireWritable(tablePath, DeltaSnapshot.state(spark,
      tablePath, DeltaLog.listVersions(tablePath,
        graft.util.HadoopConfs.session(spark))))
    val schema = snap.table.schema
    val specs = snap.table.partitionFields
    val partCols = specs.map(_.partitionColumnName)
    val dataDir = s"$tp/$prefix-${UUID.randomUUID()}"
    // generated partition columns re-derived from their source column —
    // identical grammar to the sync writer (DeltaPartitions)
    val routed = specs.filterNot(_.transform == Transform.Value)
      .foldLeft(rows) { (d, s) =>
        if (!schema.fieldNames.contains(s.sourceField)) d
        else d.withColumn(s.partitionColumnName,
          expr(DeltaPartitions.generationExpression(s).get).cast("string"))
      }
    if (partCols.isEmpty) routed.write.parquet(dataDir)
    else routed.write.partitionBy(partCols: _*).parquet(dataDir)

    // distributed footer scan → adds with REAL column stats (bin-packed /
    // clustered files are exactly the ones stat-skipping must prune)
    val conf = HadoopConfs.session(spark)
    val listed = graft.sources.ParquetFooters.listFiles(dataDir, conf)
    val schemaJson = schema.json
    val rtOn = rt.isDefined
    val adds = graft.sources.ParquetFooters
      .fileEntries(spark, dataDir, listed)
      .mapPartitions { it =>
        val sch = DataType.fromJson(schemaJson).asInstanceOf[StructType]
        it.map { fe =>
          val line = Jsons.toJson(Map("add" -> Map(
            "path" -> PathUtils.toDeltaUri(PathUtils.relativize(tp, fe.path)),
            "partitionValues" -> fe.partitionValues
              .map(p => p.field -> p.value).toMap,
            "size" -> fe.fileSizeBytes,
            "modificationTime" -> fe.lastModifiedMillis,
            "dataChange" -> false,
            "stats" -> DeltaStats.toJson(sch, fe.recordCount, fe.columnStats))))
          if (rtOn) s"${fe.recordCount}\t$line" else line
        }
      }
    val now = System.currentTimeMillis()
    val removes = removed.mapPartitions { it =>
      it.map { fe =>
        Jsons.toJson(Map("remove" -> Map(
          "path" -> PathUtils.toDeltaUri(PathUtils.relativize(tp, fe.path)),
          "deletionTimestamp" -> now,
          "dataChange" -> false)))
      }
    }
    val header = Iterator(Jsons.toJson(Map("commitInfo" -> Map(
      "timestamp" -> now, "operation" -> "OPTIMIZE",
      "operationParameters" -> Map("kind" -> prefix))))) ++
      rt.iterator.flatMap(_.metaLine.iterator)
    def streamOf(ds: Dataset[String]) = graft.util.StreamedLines.iterate(ds)
    val version = snap.commitId.toLong + 1
    val addIt = rt match {
      case None => streamOf(adds)
      case Some(c) =>
        // replacement files draw fresh baseRowId ranges (required on
        // every rowTracking add); per-row ids survive in the
        // materialized columns written above
        DeltaRowTracking.stampFreshIds(
          streamOf(adds).map { sline =>
            val cut = sline.indexOf('\t')
            (sline.substring(cut + 1), sline.substring(0, cut).toLong)
          }, c.highWaterMark + 1, version)
    }
    // disjoint intervening commits re-land via the conflict retry; a
    // commit touching the files being compacted still fails loudly.
    // Deliberately NO ReadFootprint: OPTIMIZE rewrites bytes without row
    // semantics, so re-landing past a concurrent append is sound (the
    // appended file stays live, untouched) — delta-spark runs OPTIMIZE
    // at SnapshotIsolation for exactly this reason, vs the Serializable
    // predicate check deletes/updates get in DeltaDeletes.commit.
    // Row-tracking rewrites CAS strictly: a re-land could double-assign
    // the id range a concurrent id-assigning commit took.
    if (rt.isDefined) {
      if (!DeltaLog.writeCommit(tablePath, version,
          header ++ streamOf(removes) ++ addIt))
        throw new IllegalStateException(
          s"concurrent writer took Delta version $version at $tablePath " +
            "— re-run OPTIMIZE against the new head")
    } else
      DeltaConflicts.commitWithRetry(spark, tablePath, version,
        header ++ streamOf(removes) ++ addIt)
    listed.size.toLong
  }

  private def partKey(f: FileEntry): String =
    f.partitionValues.map(p => s"${p.field}=${p.value}").mkString("/")

  private def sourceOf(spark: SparkSession, tablePath: String)
      : DeltaConversionSource =
    new DeltaConversionSource(spark, tablePath,
      PathUtils.canonical(tablePath).stripSuffix("/").split('/').last)
}

package graft.plans

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Dataset, GraftShims, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, EqualTo, Expression, In, InSet, Literal, XxHash64}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.sketch.BloomFilter

import graft.model.FileEntry
import graft.util.{HadoopConfs, Jsons, PathCols}

/** File-level bloom index: point lookups on a high-cardinality key
  * without scanning the table.
  *
  * Min/max file skipping (SnapshotFileIndex's second pruning) only helps
  * when the data is clustered on the filtered column; on an unclustered
  * key every file's [min,max] spans the domain and an `id = k` lookup
  * scans all 100 TB. This index stores one bloom filter per data file
  * over `xxhash64(column)` — Spark's own runtime-filter hashing
  * (InjectRuntimeFilter pairs BloomFilterAggregate with XxHash64 the
  * same way) — and the scan planner drops every file whose bloom
  * excludes the probe key. False positives cost a wasted file read;
  * false negatives are impossible, so results never change.
  *
  * Layout, beside the table's own metadata:
  * {{{
  *   <table>/_graft_index/bloom/<column>/current      — version pointer
  *   <table>/_graft_index/bloom/<column>/v<N>/part-….parquet — (path, bloom)
  * }}}
  * Refreshes write `v<N+1>` then atomically swap the pointer, so a
  * planning read racing a refresh sees a complete older version. The
  * maintenance walks (Delta VACUUM, Iceberg orphan sweep) skip
  * `_graft_index` entirely.
  *
  * Scale shape:
  *  - build/refresh scans ONLY files not yet indexed (the snapshot's
  *    listing is anti-joined against the index before any data is read)
  *    and reads ONLY the indexed column of those files;
  *  - the per-file bloom is aggregated where the rows live (one shuffle
  *    keyed by file path, map-side combined by BloomFilterAggregate);
  *  - the read-side prune is a distributed left-join between the file
  *    listing and the index — bloom bytes never reach the driver. At
  *    10^6 files x ~100 KB blooms the probe join moves ~100 GB across
  *    the cluster vs the 100 TB it saves scanning (cost model in
  *    SCALE.md).
  *
  * The reference has no secondary indexes; the design anchor is Hudi's
  * bloom metadata index
  * (hudi HoodieMetadataPayload BLOOM_FILTERS partition — see
  * /root/reference/xtable-core/src/main/java/org/apache/xtable/hudi/HudiConversionTarget.java:600
  * for how the reference maintains metadata-table partitions).
  */
object BloomIndex {

  val IndexDirName = "_graft_index"

  /** Default false-positive rate. 3% keeps blooms near 7.3 bits/key —
    * ~90 KB for a 100k-row file — while a point lookup at 10^6 files
    * wrongly keeps only ~3 files per probe key.
    */
  val DefaultFpp = 0.03

  case class BuildResult(column: String, newlyIndexed: Long,
      totalLive: Long, bitsPerFile: Long)

  private def bloomRoot(tablePath: String) =
    s"${tablePath.stripSuffix("/")}/$IndexDirName/bloom"

  private def columnDir(tablePath: String, column: String) =
    s"${bloomRoot(tablePath)}/$column"

  /** Indexed columns, one FS listing — cached per (table, mtime-free)
    * call site; callers cache per plan.
    */
  def indexedColumns(spark: SparkSession, tablePath: String): Seq[String] = {
    val conf = HadoopConfs.session(spark)
    val root = new Path(bloomRoot(tablePath))
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).filter(_.isDirectory).map(_.getPath.getName)
      .toSeq.sorted
  }

  private def currentVersion(spark: SparkSession, dir: String)
      : Option[Long] = {
    val conf = HadoopConfs.session(spark)
    val p = new Path(dir, "current")
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8")
        .mkString.trim.toLong)
      finally in.close()
    }
  }

  private def currentIndex(spark: SparkSession, tablePath: String,
      column: String): Option[DataFrame] = {
    val dir = columnDir(tablePath, column)
    currentVersion(spark, dir).map(v => spark.read.parquet(s"$dir/v$v"))
  }

  /** Build the index for `column`, or catch it up over files added since
    * the last refresh. Dead files' entries are dropped in the same pass.
    */
  def buildOrRefresh(spark: SparkSession, tablePath: String,
      column: String, fpp: Double = DefaultFpp): BuildResult = {
    import spark.implicits._
    require(column.matches("[A-Za-z0-9_]+"),
      s"bloom index column name '$column' must be [A-Za-z0-9_]+ " +
        "(it becomes a directory name)")
    require(fpp > 0 && fpp < 0.5, s"fpp must be in (0, 0.5): $fpp")
    val canonical = graft.util.PathUtils.canonical(tablePath)
    val source = graft.sources.CatalogConversionSource.fromPath(
      spark, canonical, canonical.stripSuffix("/").split('/').last)
    val snap = source.currentSnapshot()
    require(snap.table.schema.fieldNames.contains(column),
      s"table has no column '$column' " +
        s"(columns: ${snap.table.schema.fieldNames.mkString(", ")})")

    val live = snap.listing.dataset
    val totalLive = live.count()

    // bloom sizing from the LISTING's row counts — no data read
    val maxRows = live.agg(max("recordCount")).head().getLong(0)
    val items = math.min(math.max(maxRows, 4096L), 4000000L)
    val bits = {
      val m = math.ceil(-items * math.log(fpp) /
        (math.log(2) * math.log(2))).toLong
      // floor = one 4 KB page of bits; cap = Spark's own runtime-filter
      // ceiling (8 MB) — sizing beyond either just wastes index bytes
      math.min(math.max(m, 1L << 15), 1L << 26)
    }

    val dir = columnDir(canonical, column)
    val old = currentIndex(spark, canonical, column)

    // anti-join the listing against the index BEFORE reading any data:
    // only new files are scanned, and only their indexed column
    val unindexed: Dataset[FileEntry] = old match {
      case None => live
      case Some(idx) =>
        live.toDF().join(idx.select(col("path").as("__ip")),
          col("path") === col("__ip"), "left_anti")
          .as[FileEntry]
    }
    val newCount = unindexed.count()

    val fresh: DataFrame =
      if (newCount == 0)
        spark.createDataFrame(spark.sparkContext
            .emptyRDD[org.apache.spark.sql.Row],
          StructType(Nil).add("path", "string").add("bloom", "binary"))
      else {
        val restricted = snap.withFiles(unindexed)
        val df = graft.formats.delta.DeltaRead.toDataFrame(spark, restricted)
        val hashed = df.select(
          PathCols.scanPath(input_file_name()).as("path"),
          GraftShims.column(new XxHash64(Seq(
            GraftShims.expression(col(column))))).as("__h"))
        hashed.groupBy("path").agg(GraftShims.column(
          new org.apache.spark.sql.catalyst.expressions.aggregate
            .BloomFilterAggregate(
              GraftShims.expression(col("__h")),
              Literal(items), Literal(bits))
          .toAggregateExpression()).as("bloom"))
      }

    // survivors of the old index (files still live) + the new entries
    val kept = old match {
      case None => fresh
      case Some(idx) =>
        idx.join(live.select(col("path").as("__lp")),
            col("path") === col("__lp"), "left_semi")
          .select("path", "bloom")
          .unionByName(fresh)
    }

    val next = currentVersion(spark, dir).getOrElse(0L) + 1L
    kept.write.mode("overwrite").parquet(s"$dir/v$next")
    writePointer(spark, dir, next)
    // retire versions older than the previous one (readers of `next-1`
    // that raced the swap finish unharmed)
    val conf = HadoopConfs.session(spark)
    val dp = new Path(dir)
    val fs = dp.getFileSystem(conf)
    fs.listStatus(dp).filter(_.isDirectory).map(_.getPath)
      .filter { p =>
        p.getName.startsWith("v") &&
          p.getName.drop(1).forall(_.isDigit) &&
          p.getName.drop(1).toLong < next - 1
      }.foreach(p => fs.delete(p, true))

    writeMeta(spark, dir, column, items, bits, fpp)
    BuildResult(column, newCount, totalLive, bits)
  }

  private def writePointer(spark: SparkSession, dir: String,
      v: Long): Unit = {
    val conf = HadoopConfs.session(spark)
    val p = new Path(dir, "current")
    val fs = p.getFileSystem(conf)
    val tmp = new Path(dir, s".current-$v.tmp")
    val out = fs.create(tmp, true)
    out.write(v.toString.getBytes(StandardCharsets.UTF_8))
    out.close()
    // single maintainer advances the pointer in place: atomic REPLACE,
    // not put-if-absent (same rule as the change-feed offset file)
    if (fs.exists(p)) fs.delete(p, false)
    fs.rename(tmp, p)
  }

  private def writeMeta(spark: SparkSession, dir: String, column: String,
      items: Long, bits: Long, fpp: Double): Unit = {
    val conf = HadoopConfs.session(spark)
    val p = new Path(dir, "meta.json")
    val fs = p.getFileSystem(conf)
    val out = fs.create(p, true)
    out.write(Jsons.toJson(Map("column" -> column,
      "estimatedItemsPerFile" -> items, "numBits" -> bits,
      "fpp" -> fpp, "hash" -> "xxhash64(column), seed 42"))
      .getBytes(StandardCharsets.UTF_8))
    out.close()
  }

  /** Equality probes per indexed column: `col = lit`, `lit = col`,
    * `col IN (lits)`. Values are hashed the way the index was built
    * (XxHash64 over the literal, evaluated once on the driver).
    */
  private def probeHashes(filters: Seq[Expression],
      indexed: Set[String]): Map[String, Seq[Long]] = {
    def hash(l: Literal): Long =
      new XxHash64(Seq(l)).eval(InternalRow.empty).asInstanceOf[Long]
    val pairs = filters.flatMap {
      case EqualTo(a: Attribute, l: Literal) if indexed.contains(a.name) =>
        Seq(a.name -> hash(l))
      case EqualTo(l: Literal, a: Attribute) if indexed.contains(a.name) =>
        Seq(a.name -> hash(l))
      case In(a: Attribute, vs) if indexed.contains(a.name) &&
          vs.forall(_.isInstanceOf[Literal]) && vs.nonEmpty =>
        vs.map(v => a.name -> hash(v.asInstanceOf[Literal]))
      case InSet(a: Attribute, vs) if indexed.contains(a.name) &&
          vs.nonEmpty && vs.size <= 256 =>
        vs.toSeq.map(v => a.name -> hash(Literal(v, a.dataType)))
      case _ => Nil
    }
    pairs.groupBy(_._1).map { case (c, hs) => c -> hs.map(_._2) }
  }

  /** Planning-time prune: drop files whose bloom excludes every probe
    * key. Files without an index entry (added since the last refresh)
    * are always kept — staleness can only cost reads, never rows.
    */
  def prune(spark: SparkSession, files: Dataset[FileEntry],
      tablePath: String, dataFilters: Seq[Expression],
      indexedCols: Seq[String]): Dataset[FileEntry] = {
    if (dataFilters.isEmpty || indexedCols.isEmpty) return files
    val probes = probeHashes(dataFilters, indexedCols.toSet)
    if (probes.isEmpty) return files
    import spark.implicits._
    probes.foldLeft(files) { case (fs, (column, hashes)) =>
      currentIndex(spark, tablePath, column) match {
        case None => fs
        case Some(idx) =>
          val hs = hashes.toArray
          fs.toDF().join(
              idx.select(col("path").as("__ip"), col("bloom").as("__bl")),
              col("path") === col("__ip"), "left")
            .filter { row =>
              val b = row.getAs[Array[Byte]]("__bl")
              b == null || {
                // one deserialization per file row, in the planning job
                val bf = BloomFilter.readFrom(b)
                hs.exists(bf.mightContainLong)
              }
            }
            .drop("__ip", "__bl")
            .as[FileEntry]
      }
    }
  }
}

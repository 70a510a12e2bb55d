package graft.formats.paimon

import java.util.UUID

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.model.FileEntry
import graft.util.HadoopConfs

/** Paimon small-file compaction — `GRAFT OPTIMIZE` for the fourth
  * format. Per-partition bin-packing with the Delta optimizer's shape:
  * partitions holding >=2 files under `minFileBytes` fold into
  * `targetFileBytes`-sized rewrites; everything else is untouched. The
  * rewrite commits through the conversion target as a full-set snapshot
  * sync (live minus victims plus rewrites), which lands as one COMPACT
  * snapshot — Paimon readers see removes+adds in the delta manifest,
  * the same wire shape paimon's own compaction writes.
  *
  * Scale shape: candidate selection is a distributed group over the
  * listing; the rewrite reads ONLY the victim files (a sub-snapshot
  * scan); new-file stats come from a distributed footer scan; and the
  * commit is the target's usual manifest authoring (driver-side only
  * under the small-commit threshold).
  *
  * Reference anchor: the reference only OBSERVES compactions
  * (replacecommit / REPLACE snapshots, e.g.
  * xtable-core/src/main/java/org/apache/xtable/hudi/HudiConversionSource.java:216);
  * graft also performs them, here for Paimon.
  */
object PaimonCompaction {

  case class Result(rewrote: Long, rewroteBytes: Long, wrote: Long)

  def compact(spark: SparkSession, tablePath: String,
      targetFileBytes: Long = 128L << 20,
      minFileBytes: Long = 32L << 20,
      where: Option[String] = None,
      zorderBy: Seq[String] = Nil): Result = {
    import spark.implicits._
    val path = graft.util.PathUtils.canonical(tablePath)
    val src = new PaimonConversionSource(spark, path,
      path.stripSuffix("/").split('/').last)
    val snap = src.currentSnapshot()
    zorderBy.foreach(c =>
      require(snap.table.schema.fieldNames.contains(c),
        s"zorder column $c is not in the table schema"))
    // WHERE scopes by partition values (the Delta optimizer's grammar)
    val listing = graft.formats.delta.DeltaOptimize.filterByPartition(
      snap, snap.listing.dataset, where)

    def partKey(f: FileEntry): String =
      f.partitionValues.map(p => s"${p.field}=${p.value}").mkString("/")
    // z-order rewrites everything in scope (clustering is the point);
    // plain compaction folds only partitions with >=2 small files
    val candidates =
      if (zorderBy.nonEmpty) listing.localCheckpoint(eager = false)
      else {
        val keyed = listing.map(f => (partKey(f), f)).toDF("pk", "f")
        val eligible = keyed.groupBy("pk")
          .agg(sum(when(col("f.fileSizeBytes") < minFileBytes, 1L)
            .otherwise(0L)).as("small"))
          .filter(col("small") >= 2).select("pk")
        keyed.join(eligible, "pk")
          .filter(col("f.fileSizeBytes") < minFileBytes)
          .select("f.*").as[FileEntry]
          .localCheckpoint(eager = false)
      }
    // emptiness answered by the sizing aggregate (lazy pins above):
    // two jobs saved per compaction
    val agg0 = candidates.agg(count(lit(1)), sum("fileSizeBytes")).head()
    if (agg0.getLong(0) == 0L) return Result(0L, 0L, 0L)
    val (nOld, oldBytes) = (agg0.getLong(0), agg0.getLong(1))
    val rows = graft.formats.delta.DeltaRead.toDataFrame(spark,
      snap.withFiles(candidates))
    val nOut = math.max(1L, (oldBytes + targetFileBytes - 1) /
      targetFileBytes)
    val partCols = snap.table.partitionFields.map(_.partitionColumnName)
      .filter(rows.columns.contains)
    val packed =
      if (zorderBy.nonEmpty)
        graft.operators.ZOrder.clusterize(rows, zorderBy, nOut.toInt,
          partCols, inputBytes = oldBytes)
      else if (partCols.nonEmpty)
        rows.repartition(nOut.toInt, partCols.map(col): _*)
      else rows.repartition(nOut.toInt)

    val dataDir = s"$path/compact-${UUID.randomUUID()}"
    if (partCols.isEmpty) packed.write.parquet(dataDir)
    else packed.write.partitionBy(partCols: _*).parquet(dataDir)

    // adds with real column stats from a distributed footer scan — the
    // compacted files are exactly what stat-skipping must prune next
    val conf = HadoopConfs.session(spark)
    val listed = graft.sources.ParquetFooters.listFiles(dataDir, conf)
    val adds = graft.sources.ParquetFooters
      .fileEntries(spark, dataDir, listed)
    val wrote = adds.count()

    val victims = candidates.select(col("path").as("__vp"))
    // survivors come from the FULL live set — a WHERE-scoped rewrite
    // must carry the out-of-scope partitions forward untouched
    val survivors = snap.listing.dataset.toDF()
      .join(victims, col("path") === col("__vp"), "left_anti")
      .drop("__vp").as[FileEntry]
    val altered = snap.withFiles(survivors.unionByName(adds))
    val target = new PaimonConversionTarget(spark, path)
    // pin the planning snapshot: a concurrent commit landing since
    // currentSnapshot() must fail this CAS loudly — a silent rebase would
    // diff away its appends or resurrect its deletes via the rewrites
    val outcomes = graft.sync.TableFormatSync.syncSnapshot(Seq(target),
      altered, src.sourceFormat, expectBase = Some(snap.commitId))
    outcomes.find(_.status != "SUCCESS").foreach(o =>
      throw new IllegalStateException(s"paimon compaction failed: $o"))
    Result(nOld, oldBytes, wrote)
  }
}

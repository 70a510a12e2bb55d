package graft.formats.hudi

import java.util.UUID

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.util.HadoopConfs

/** Hudi clustering — `GRAFT OPTIMIZE ... ZORDER BY` for COW tables: the
  * live base files rewrite clustered by the interleaved z-value and land
  * as one REPLACECOMMIT (old file groups replaced wholesale, the wire
  * shape Hudi's own clustering writes and the conversion source already
  * replays). Refuses while unabsorbed MOR log files exist: a base-only
  * rewrite would drop their row-level changes — compact first.
  *
  * Reference anchor: the reference replays replacecommits as
  * file-group replacement (xtable-core/src/main/java/org/apache/xtable/
  * hudi/HudiConversionSource.java:216); graft also authors them.
  */
object HudiClustering {

  case class Result(rewrote: Long, rewroteBytes: Long, wrote: Long)

  def zorder(spark: SparkSession, tablePath: String, cols: Seq[String],
      targetFileBytes: Long = 128L << 20): Result = {
    import spark.implicits._
    val path = graft.util.PathUtils.canonical(tablePath)
    val src = new HudiConversionSource(spark, path,
      HudiTimeline.tableName(path).getOrElse("table"))
    val snap = src.currentSnapshot()
    cols.foreach(c => require(snap.table.schema.fieldNames.contains(c),
      s"zorder column $c is not in the table schema"))
    val head = HudiTimeline.listInstants(path).lastOption.getOrElse(
      throw new IllegalStateException(s"no Hudi table at $path"))
    val logs = src.liveLogFiles(head)
    require(logs.isEmpty,
      s"table has ${logs.size} unabsorbed MOR log file(s) — a base-only " +
        "clustering rewrite would drop their row-level changes; run " +
        "GRAFT OPTIMIZE (log compaction) first")

    val listing = snap.listing.dataset
      .localCheckpoint(eager = false)   // lazy pin: sizing agg materializes
    val agg0 = listing.agg(count(lit(1)), sum("fileSizeBytes")).head()
    val (nOld, oldBytes) = (agg0.getLong(0), agg0.getLong(1))
    if (nOld == 0) return Result(0L, 0L, 0L)

    val rows = graft.formats.delta.DeltaRead.toDataFrame(spark, snap)
    val nOut = math.max(1L,
      (oldBytes + targetFileBytes - 1) / targetFileBytes)
    val partCols = snap.table.partitionFields.map(_.partitionColumnName)
      .filter(rows.columns.contains)
    val clustered = graft.operators.ZOrder.clusterize(rows, cols,
      nOut.toInt, partCols, inputBytes = oldBytes)

    val dataDir = s"$path/cluster-${UUID.randomUUID()}"
    if (partCols.isEmpty) clustered.write.parquet(dataDir)
    else clustered.write.partitionBy(partCols: _*).parquet(dataDir)
    val conf = HadoopConfs.session(spark)
    val listed = graft.sources.ParquetFooters.listFiles(dataDir, conf)
    val adds = graft.sources.ParquetFooters
      .fileEntries(spark, dataDir, listed)
    val wrote = adds.count()

    // full-set sync: every old group replaced → one replacecommit
    val altered = snap.withFiles(adds)
      .copy(commitId = s"${System.currentTimeMillis()}-cluster")
    val target = new HudiConversionTarget(spark, path)
    // pin the planning instant: a concurrent commit landing since
    // currentSnapshot() must fail this CAS loudly — a silent rebase would
    // diff away its appends or resurrect its deletes via the rewrites
    val outcomes = graft.sync.TableFormatSync.syncSnapshot(Seq(target),
      altered, src.sourceFormat, expectBase = Some(snap.commitId))
    outcomes.find(_.status != "SUCCESS").foreach(o =>
      throw new IllegalStateException(s"hudi clustering failed: $o"))
    Result(nOld, oldBytes, wrote)
  }
}

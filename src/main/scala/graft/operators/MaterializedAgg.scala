package graft.operators

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths => JPaths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental materialized-aggregate maintenance over the unified
  * change feed — the classic incremental-view-maintenance (IVM) shape
  * for additive aggregates: COUNT and SUM are exactly maintainable from
  * row-level deltas (insert/update_postimage contribute +1/+x,
  * delete/update_preimage contribute -1/-x), so a grouped view refreshes
  * from `readChangeFeed` commits instead of a full rescan. AVG derives
  * as sum/count downstream.
  *
  * State layout at `mvPath`: a parquet state directory per refresh
  * (`state-v<version>/`) holding (keys..., __mv_count,
  * __mv_sum_<measure>...) with sums in EXACT integer micros (the same
  * engine-parity-safe representation the gates use — associative,
  * drift-free at any parallelism), plus an atomically-published
  * `_mv_manifest.json` recording the covered version and the live state
  * dir. A crashed refresh leaves an orphan state dir, never a torn
  * manifest.
  *
  * Scale shape: one CDF read bounded by the new commits, one grouped
  * delta aggregation (map-side partial), one union+re-aggregate with
  * the prior state (O(group cardinality), the inherent MV bound), one
  * state write. Nothing driver-side but the manifest.
  */
object MaterializedAgg {

  case class Refresh(priorVersion: Long, toVersion: Long, groups: Long)

  private case class Manifest(lastVersion: Long, stateDir: String)

  private def manifestPath(mvPath: String) =
    JPaths.get(mvPath, "_mv_manifest.json")

  private def readManifest(mvPath: String): Option[Manifest] = {
    val p = manifestPath(mvPath)
    if (!Files.exists(p)) None
    else {
      val n = graft.util.Jsons.mapper.readTree(Files.readAllBytes(p))
      Some(Manifest(n.get("lastVersion").asLong,
        n.get("stateDir").asText))
    }
  }

  /** The view's covered source version (-1 before the first refresh). */
  def lastVersion(mvPath: String): Long =
    readManifest(mvPath).map(_.lastVersion).getOrElse(-1L)

  // ------------------------------------------------- view definitions

  private def defPath(mvPath: String) =
    JPaths.get(mvPath, "_mv_view.json")

  /** Persist a view definition (source table, keys, measures) so SQL
    * `REFRESH MATERIALIZED VIEW` needs only the view path.
    */
  def define(mvPath: String, tablePath: String, keys: Seq[String],
      measures: Seq[String]): Unit = {
    require(keys.nonEmpty, "materialized view needs >= 1 key")
    Files.createDirectories(JPaths.get(mvPath))
    require(!Files.exists(defPath(mvPath)),
      s"materialized view already defined at $mvPath")
    Files.write(defPath(mvPath), graft.util.Jsons.toJson(Map(
      "table" -> tablePath, "keys" -> keys, "measures" -> measures))
      .getBytes(StandardCharsets.UTF_8))
  }

  /** Refresh a defined view; refuses when no definition exists. */
  def refreshDefined(spark: SparkSession, mvPath: String): Refresh = {
    val p = defPath(mvPath)
    require(Files.exists(p), s"no materialized view defined at $mvPath " +
      "— GRAFT CREATE MATERIALIZED VIEW first")
    val n = graft.util.Jsons.mapper.readTree(Files.readAllBytes(p))
    import scala.jdk.CollectionConverters._
    refresh(spark, n.get("table").asText, mvPath,
      n.get("keys").elements().asScala.map(_.asText).toSeq,
      n.get("measures").elements().asScala.map(_.asText).toSeq)
  }

  private def sumCol(m: String) = s"__mv_sum_$m"

  /** Current state (keys..., __mv_count, __mv_sum_<m> in micros);
    * empty with the right schema before the first refresh.
    */
  def read(spark: SparkSession, mvPath: String): DataFrame =
    readManifest(mvPath) match {
      case Some(m) => spark.read.parquet(m.stateDir)
      case None =>
        throw new IllegalStateException(
          s"no materialized view at $mvPath — refresh() it first")
    }

  /** Pull the commits past the manifest's version from `tablePath`'s
    * change feed and fold them into the view. No new commits = no-op
    * (manifest untouched). Serial refreshes only — the view is a single
    * consumer like any streaming checkpoint.
    */
  def refresh(spark: SparkSession, tablePath: String, mvPath: String,
      keys: Seq[String], measures: Seq[String]): Refresh = {
    require(keys.nonEmpty, "materialized aggregate needs >= 1 key")
    val prior = lastVersion(mvPath)
    // state row counts come from the parquet footers, driver-side: the
    // state dir holds O(shuffle partitions) files, and a whole Spark job
    // (scan + agg) to recount rows just written is a scheduler
    // round-trip the footers already answer (guide §1.2)
    def stateRows(stateDir: String): Long = {
      val conf = graft.util.HadoopConfs.session(spark)
      graft.sources.ParquetFooters.listFiles(stateDir, conf)
        .map(f => graft.sources.ParquetFooters
          .readFooterStats(f.path, conf, Some(Set.empty))._1).sum
    }
    def noop: Refresh = Refresh(prior, prior,
      readManifest(mvPath).map(m => stateRows(m.stateDir)).getOrElse(0L))
    def loadFeed(start: Long) = spark.read.format("graft")
      .option("readChangeFeed", "true")
      .option("startingVersion", start.toString)
      .load(tablePath)
      .persist()
    // the feed readers refuse "got X..X" when the exclusive start IS
    // the head (view already current), and Iceberg/Paimon floors the
    // exclusive start at 0 where Delta's is -1 — normalize both
    val caughtUp = "(?s).*got (-?\\d+)\\.\\.(-?\\d+).*".r
    def isCaughtUp(e: IllegalArgumentException): Boolean =
      e.getMessage match {
        case caughtUp(a, b) => a == b
        case _ => false
      }
    val changes =
      try loadFeed(prior)
      catch {
        case e: IllegalArgumentException if isCaughtUp(e) => return noop
        case e: IllegalArgumentException
            if prior < 0L && e.getMessage.contains("fromSeq") =>
          try loadFeed(0L)
          catch {
            case e2: IllegalArgumentException if isCaughtUp(e2) =>
              return noop
          }
      }
    try {
      // one action answers both "any changes?" and "covered version":
      // max() over an empty feed is null — the separate isEmpty probe
      // was a whole extra job per refresh on the same persisted feed
      val headRow = changes.agg(max(col("_commit_version"))).head()
      if (headRow.isNullAt(0)) return noop
      val toVersion = headRow.getLong(0)
      val sign = when(col("_change_type")
        .isin("insert", "update_postimage"), 1L).otherwise(-1L)
      val delta = changes
        .groupBy(keys.map(col): _*)
        .agg(sum(sign).as("__mv_count"),
          measures.map(m => sum(graft.queries.Gate.micros(col(m)) * sign)
            .as(sumCol(m))): _*)
      val prev = readManifest(mvPath)
        .map(m => spark.read.parquet(m.stateDir))
        .getOrElse(delta.limit(0))
      val next = prev.unionByName(delta)
        .groupBy(keys.map(col): _*)
        .agg(sum(col("__mv_count")).as("__mv_count"),
          measures.map(m => sum(col(sumCol(m))).as(sumCol(m))): _*)
        .filter(col("__mv_count") > 0)

      val old = readManifest(mvPath)
      val stateDir = s"$mvPath/state-v$toVersion"
      next.write.mode("overwrite").parquet(stateDir)
      val groups = stateRows(stateDir)
      // the manifest is a LAST-WRITER-WINS pointer (single serial
      // consumer), not a put-if-absent commit — atomic replace, so
      // readers only ever see a complete manifest
      graft.io.TableStore(spark).replace(manifestPath(mvPath).toString,
        graft.util.Jsons.toJson(Map(
          "lastVersion" -> toVersion,
          "stateDir" -> stateDir)).getBytes(StandardCharsets.UTF_8))
      // retire the superseded state (manifest already points away; a
      // crash here only leaks the old dir, never loses the view)
      old.filter(_.stateDir != stateDir).foreach { m =>
        val dir = JPaths.get(m.stateDir)
        if (Files.isDirectory(dir)) {
          import scala.jdk.CollectionConverters._
          Files.walk(dir).iterator().asScala.toSeq.reverse
            .foreach(Files.deleteIfExists(_))
        }
      }
      Refresh(prior, toVersion, groups)
    } finally changes.unpersist()
  }
}

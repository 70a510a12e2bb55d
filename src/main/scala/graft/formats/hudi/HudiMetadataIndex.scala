package graft.formats.hudi

import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.TableStore
import graft.model.{FileColumnStat, FileEntry, PartitionMember}
import graft.plans.Placement
import graft.plans.Placement.Placed
import graft.sources.ParquetFooters

/** Hudi metadata-table-shaped file/col-stats index.
  *
  * Reference: HudiFileStatsExtractor.java:136-188 and
  * HudiDataFileExtractor.java:115-126 read column stats and file listings
  * from Hudi's METADATA TABLE when the table has one, and fall back to
  * parquet footers otherwise — on a 100k-file table the index turns 100k
  * footer opens per sync into one metadata read. This mirrors that
  * contract with a parquet-backed index under `.hoodie/.graft/index/`:
  * each commit appends ONE per-instant delta (O(commit), written by Spark,
  * so the index write is itself distributed), and the reader merges deltas
  * latest-per-path — the same base+log merge shape as the real metadata
  * table, without Hudi's HFile container (not on this classpath).
  */
object HudiMetadataIndex {

  /** Writes live under a graft-owned dot-dir inside `.hoodie` (like
    * Hudi's own `.aux`/`.temp`) — NOT `.hoodie/metadata`, which is real
    * Hudi's metadata-table namespace: parquet deltas there could be
    * mistaken for HFile partitions by a real reader.
    */
  def indexDir(tablePath: String): String =
    s"${HudiTimeline.hoodieDir(tablePath)}/.graft/index"

  /** Pre-r7 location, still read for tables written by earlier versions
    * (for a REAL Hudi metadata table at this path the reader naturally
    * sees no parquet dirs / json sidecars and falls back to footers).
    */
  private[hudi] def legacyIndexDir(tablePath: String): String =
    s"${HudiTimeline.hoodieDir(tablePath)}/metadata/files"

  def exists(tablePath: String,
      store: TableStore = TableStore.active()): Boolean =
    store.exists(indexDir(tablePath)) ||
      store.exists(legacyIndexDir(tablePath))

  /** Append one commit's added files (with their stats) as an index delta. */
  def write(spark: SparkSession, tablePath: String, instant: String,
      adds: Dataset[FileEntry]): Unit =
    adds.write.mode("overwrite").parquet(s"${indexDir(tablePath)}/$instant")

  /** The small-commit path: the same delta as `write`, but a single JSON
    * sidecar written by the driver — no Spark job. Commits write it when
    * their adds are on the driver and number at most
    * [[Placement.MaxFiles]], so the index read can still take the
    * sidecar on the driver; readers merge both forms.
    */
  def writeSmall(tablePath: String, instant: String,
      entries: Seq[FileEntry], store: TableStore = TableStore.active())
      : Unit =
    if (entries.nonEmpty)
      store.replace(s"${indexDir(tablePath)}/$instant.json",
        graft.util.Jsons.toJson(entries).getBytes(StandardCharsets.UTF_8))

  /** One index delta: the instant that wrote it, its JSON sidecar or
    * parquet directory, and the bytes a read of it costs (the sidecar, or
    * the directory's part files).
    */
  private[graft] case class IndexDelta(instant: String, path: String,
      isParquet: Boolean, size: Option[Long])

  /** The index's deltas in instant order; empty when the table has no
    * index (readers fall back to footers).
    */
  private[graft] def deltas(tablePath: String,
      store: TableStore = TableStore.active()): Seq[IndexDelta] = {
    val dir =
      if (store.exists(indexDir(tablePath))) indexDir(tablePath)
      else legacyIndexDir(tablePath)
    store.names(dir).flatMap { name =>
      val p = s"$dir/$name"
      if (store.isDirectory(p)) Some(IndexDelta(name, p, isParquet = true,
        Some(store.names(p).filter(_.startsWith("part-"))
          .map(n => store.length(s"$p/$n")).sum)))
      else if (name.endsWith(".json"))
        Some(IndexDelta(name.stripSuffix(".json"), p, isParquet = false,
          Some(store.length(p))))
      else None
    }.sortBy(_.instant)
  }

  private def jsonFileEntries(store: TableStore, p: String): Seq[FileEntry] = {
    val arr = graft.util.Jsons.mapper.readTree(store.read(p))
    arr.elements().asScala.map { n =>
      FileEntry(n.get("path").asText, n.get("fileSizeBytes").asLong,
        n.get("recordCount").asLong, n.get("fileFormat").asText,
        n.get("partitionValues").elements().asScala.map(m =>
          PartitionMember(m.get("field").asText,
            m.get("value").asText)).toSeq,
        n.get("columnStats").elements().asScala.map(s =>
          FileColumnStat(s.get("field").asText,
            Option(s.get("min")).filterNot(_.isNull).map(_.asText),
            Option(s.get("max")).filterNot(_.isNull).map(_.asText),
            s.get("numNulls").asLong, s.get("numValues").asLong,
            s.get("totalSize").asLong)).toSeq,
        n.get("lastModifiedMillis").asLong)
    }.toSeq
  }

  /** The merged index by [[Placement]]: the winning entry per path across
    * every delta.
    */
  def read(spark: SparkSession, tablePath: String): Dataset[FileEntry] = {
    import spark.implicits._
    val ds = deltas(tablePath)
    Placement.dataset(spark, read(spark, ds, Placement.of(ds.map(_.size))))
  }

  /** The index winner rule, one key for both placements: the latest
    * `lastModifiedMillis` wins, and a tie goes to the later delta.
    */
  private def winner(e: (String, FileEntry)): (Long, String) =
    (e._2.lastModifiedMillis, e._1)

  /** The merged index decoded where `at` puts it. JSON sidecars parse on
    * the driver in both placements. Parquet deltas are one Spark scan
    * under the fixed `FileEntry` schema, so no job infers it; a column
    * that a delta written by older code lacks reads as null.
    */
  private[graft] def read(spark: SparkSession, deltas: Seq[IndexDelta],
      at: Placement, store: TableStore = TableStore.active())
      : Placed[FileEntry] = {
    import spark.implicits._
    val (parquet, json) = deltas.partition(_.isParquet)
    val fromJson = json.flatMap(d =>
      jsonFileEntries(store, d.path).map((d.instant, _)))
    val schema = org.apache.spark.sql.Encoders.product[FileEntry].schema
    // each row tagged with its delta's instant (the directory name)
    val fromParquet = Option.when(parquet.nonEmpty)(spark.read.schema(schema)
      .parquet(parquet.map(_.path): _*)
      .select(regexp_extract(input_file_name(), "([^/]+)/[^/]+$", 1)
        .as("_1"), struct(schema.fieldNames.toIndexedSeq.map(col): _*)
        .as("_2"))
      .as[(String, FileEntry)])
    at match {
      case Placement.Driver =>
        val best = scala.collection.mutable.HashMap.empty[String,
          (String, FileEntry)]
        val ord = Ordering[(Long, String)]
        (fromParquet.toSeq.flatMap(_.collect()) ++ fromJson).foreach { e =>
          if (best.get(e._2.path).forall(b => ord.gteq(winner(e), winner(b))))
            best(e._2.path) = e
        }
        Left(best.valuesIterator.map(_._2).toIndexedSeq)
      case Placement.Tasks =>
        val tagged = (fromParquet.toSeq ++
          Option.when(fromJson.nonEmpty)(spark.createDataset(fromJson)))
        if (tagged.isEmpty) Right(spark.emptyDataset[FileEntry])
        else Right(tagged.reduce(_ union _)
          .groupBy(col("_2.path"))
          .agg(max_by(col("_2"),
            struct(col("_2.lastModifiedMillis"), col("_1"))).as("__m"))
          .select(col("__m.*")).as[FileEntry])
    }
  }

  /** One listed base file's entry, in either placement: the index's
    * record count and stats on a hit, else the parquet footer's.
    */
  private[hudi] def fileEntry(conf: Configuration, path: String, size: Long,
      part: String, instant: String,
      hit: Option[(Long, Seq[FileColumnStat])]): FileEntry = {
    val (records, stats) = hit.filter(_._2.nonEmpty)
      .getOrElse(ParquetFooters.readFooterStats(path, conf))
    val pv = part.split('/').toSeq.filter(_.contains('=')).map { seg =>
      val i = seg.indexOf('=')
      PartitionMember(seg.substring(0, i), seg.substring(i + 1))
    }
    FileEntry(path, size, records, ParquetFooters.formatOf(path), pv, stats,
      instant.toLong)
  }
}

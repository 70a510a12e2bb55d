package graft.formats.iceberg

import java.util.UUID

import org.apache.avro.generic.GenericRecord
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Iceberg spec v3 ROW LINEAGE (spec §Row Lineage): every row carries a
  * table-unique `_row_id` and a `_last_updated_sequence_number`, either
  * MATERIALIZED as columns in the data file or INHERITED — `_row_id` from
  * the data file's `first_row_id` plus the row's position, the update
  * sequence from the data file's commit sequence.
  *
  * This engine assigns row ids with EXPLICIT per-entry `first_row_id`
  * (the spec's inheritance base; field 142) and materializes lineage
  * columns whenever rows are COPIED to new files:
  *
  * - v2→v3 UPGRADE ([[assignOnUpgrade]], called by the first DV commit):
  *   every live data-file entry gets an explicit `first_row_id`,
  *   cumulative in manifest-list order, and `next-row-id` starts past
  *   the last — the spec's upgrade assignment, done eagerly so every
  *   later rewrite can resolve each row's id.
  * - REWRITES (update/merge/compaction): rows that survive into new
  *   files carry their ids in a materialized `_row_id` column (spec:
  *   "writers must write the row lineage fields when copying rows");
  *   compaction also materializes `_last_updated_sequence_number`, while
  *   updated rows leave it null so it inherits the NEW commit's sequence.
  * - READS ([[keyedScanWithLineage]]): materialized value wins, null
  *   inherits — the spec's resolution rule, expressed as a coalesce over
  *   the scan.
  *
  * Reference treats v3 as out of scope (xtable-core pins iceberg 1.4
  * writes); the semantics here follow the public spec directly.
  */
object IcebergRowLineage {

  /** Reserved materialized-column names (spec §Reserved Field IDs:
    * `_row_id` = 2147483540, `_last_updated_sequence_number` =
    * 2147483539). The names are what lands in parquet; the ids matter
    * only to engines projecting by field id, which resolve these by the
    * spec's reservation, not the file schema.
    */
  val RowIdCol = "_row_id"
  val LastUpdatedCol = "_last_updated_sequence_number"

  /** Per live data file: (canonical path, explicit entry `first_row_id`
    * if assigned, the file's data sequence number). Distributed like
    * [[IcebergManifests.liveDataFileSeqs]] — one executor iterator per
    * manifest, never an O(files) driver list.
    */
  def liveFileLineage(spark: SparkSession, manifestListPath: String)
      : Dataset[(String, Option[Long], Long)] = {
    import spark.implicits._
    val pairs = IcebergManifests.readManifestListRecords(manifestListPath)
      .filter(r => IcebergManifests.contentOf(r) == 0)
      .map(m => (m.get("manifest_path").toString,
        IcebergManifests.longOf(m.get("sequence_number"), 0L)))
    val bconf = graft.util.HadoopConfs.broadcastSession(spark)
    graft.util.Par.ds(spark, pairs, 64)
      .mapPartitions { it =>
        it.flatMap { case (p, seq) =>
          IcebergManifests.readManifest(p, bconf.value.value)
            .filter(_.get("status").asInstanceOf[Int] !=
              IcebergManifests.Status.Deleted)
            .map { e =>
              val df = e.get("data_file").asInstanceOf[GenericRecord]
              val fr = Option(IcebergManifests.fieldOr(df, "first_row_id"))
                .map {
                  case l: java.lang.Long => l.longValue
                  case i: java.lang.Integer => i.longValue.toLong
                }
              (graft.util.PathUtils.canonical(
                df.get("file_path").toString), fr, seq)
            }
        }
      }
  }

  /** Delete-aware keyed scan of the table at `seq` with each live row's
    * RESOLVED lineage appended: `__row_id` and `__last_seq` (plus the
    * `__scan_path`/`__scan_pos` keys the delete-aware scan already
    * carries). The scan schema is widened by the two materialized
    * columns — files that never materialized them read null there, and
    * the spec inheritance rule fills the gap. A live row whose id cannot
    * be resolved (a v3 entry missing `first_row_id` — an invariant
    * breach) fails the query loudly rather than fabricating lineage.
    */
  def keyedScanWithLineage(spark: SparkSession, tablePath: String,
      m: IcebergTableMetadata, seq: Long, name: String): DataFrame = {
    val src = new IcebergConversionSource(spark, tablePath, name)
    val base = src.currentTable()
    val ext = StructType(base.schema.fields ++ Seq(
      StructField(RowIdCol, LongType, nullable = true),
      StructField(LastUpdatedCol, LongType, nullable = true)))
    val snap = src.snapshotAtSeq(m, seq, base.copy(schemaJson = ext.json),
      seq.toString)
    val live = IcebergDeletes.scan(spark, snap, m, seq, tablePath, keyed = true)
    val manifestList = m.snapshotBySeq(seq).getOrElse(
      throw new IllegalStateException(
        s"no snapshot at sequence $seq at $tablePath")).manifestList
    val lin = liveFileLineage(spark, manifestList)
      .toDF("__lin_path", "__first_row_id", "__data_seq")
    // the lineage side is O(live files) small rows — broadcast below the
    // same byte gate the equality-delete sequence map uses
    val nDataFiles = IcebergManifests.readManifestListRecords(manifestList)
      .filter(r => IcebergManifests.contentOf(r) == 0)
      .map(r => IcebergManifests.longOf(r.get("added_data_files_count"), 0L) +
        IcebergManifests.longOf(r.get("existing_data_files_count"), 0L))
      .sum
    val right =
      if (nDataFiles * 150L <= 64L * 1024 * 1024) broadcast(lin) else lin
    live
      .join(right, col("__scan_path") === col("__lin_path"), "left")
      .withColumn("__row_id",
        coalesce(col(RowIdCol), col("__first_row_id") + col("__scan_pos")))
      .withColumn("__row_id", when(col("__row_id").isNotNull, col("__row_id"))
        .otherwise(raise_error(concat(
          lit("v3 row lineage unresolvable for data file "),
          col("__scan_path"),
          lit(" — entry lacks first_row_id and the row has no " +
            "materialized _row_id")))))
      .withColumn("__last_seq",
        coalesce(col(LastUpdatedCol), col("__data_seq")))
      .drop("__lin_path", "__first_row_id", "__data_seq",
        RowIdCol, LastUpdatedCol)
  }

  /** The v2→v3 upgrade assignment: rewrite the carried DATA manifest
    * records so every live entry carries an explicit `first_row_id`,
    * cumulative in (manifest-list order, manifest entry order). Returns
    * the rewritten summaries — each keeping its source record's
    * sequence_number and spec id — and the total row count (the table's
    * starting `next-row-id`). Two streaming passes per manifest (count,
    * then rewrite), distributed one task per manifest past a handful.
    */
  def assignOnUpgrade(spark: SparkSession, dataRecs: Seq[GenericRecord],
      schema: StructType, mdir: String,
      specFieldsById: Map[Int, Seq[(String, Int)]] = Map.empty)
      : (Seq[IcebergManifests.ManifestSummary], Long) = {
    if (dataRecs.isEmpty) return (Nil, 0L)
    val metas: Seq[(String, Long, Int)] = dataRecs.map { r =>
      (r.get("manifest_path").toString,
        IcebergManifests.longOf(r.get("sequence_number"), 0L),
        r.get("partition_spec_id") match {
          case i: java.lang.Integer => i.intValue
          case _ => 0
        })
    }
    // executor tasks read and write through the session's Hadoop
    // settings, same as every other distributed manifest writer in this
    // engine
    val bconf = graft.util.HadoopConfs.broadcastSession(spark)
    def liveRows(mp: String): Long =
      IcebergManifests.readManifest(mp, bconf.value.value)
        .filter(_.get("status").asInstanceOf[Int] !=
          IcebergManifests.Status.Deleted)
        .map(_.get("data_file").asInstanceOf[GenericRecord]
          .get("record_count").asInstanceOf[Long])
        .sum
    val counts: Seq[Long] =
      if (metas.size <= 4) metas.map(t => liveRows(t._1))
      else {
        import spark.implicits._
        graft.util.Par.ds(spark, metas.map(_._1).zipWithIndex, 64)
          .map { case (mp, i) => (i, liveRows(mp)) }
          .collect().sortBy(_._1).map(_._2).toSeq
      }
    val bases = counts.scanLeft(0L)(_ + _)
    val schemaJson = schema.json
    val md = mdir
    def rewriteOne(mp: String, origSeq: Long, specId: Int, base: Long)
        : IcebergManifests.ManifestSummary = {
      val sch = org.apache.spark.sql.types.DataType.fromJson(schemaJson)
        .asInstanceOf[StructType]
      var cum = base
      var n = 0
      var rows = 0L
      val np = s"$md/m-${UUID.randomUUID()}-rowids.avro"
      val entries = IcebergManifests.readManifest(mp, bconf.value.value)
        .filter(_.get("status").asInstanceOf[Int] !=
          IcebergManifests.Status.Deleted)
        .map { e =>
          val (_, fe) = IcebergManifests.fromEntry(e, sch)
          val out = IcebergManifests.toEntry(fe,
            IcebergManifests.Status.Existing,
            IcebergManifests.longOf(e.get("snapshot_id"), 0L), sch,
            firstRowId = Some(cum),
            specFields = specFieldsById.getOrElse(specId, null))
          cum += fe.recordCount
          n += 1; rows += fe.recordCount
          out
        }
      val len = IcebergManifests.writeManifest(np, entries,
        new graft.io.TableStore(bconf.value.value))
      IcebergManifests.ManifestSummary(np, len, origSeq, 0, n, 0, 0L,
        rows, content = 0, specId = specId)
    }
    val jobs = metas.zip(bases).map { case ((mp, s, sid), b) => (mp, s, sid, b) }
    val summaries =
      if (jobs.size <= 4) jobs.map(j => rewriteOne(j._1, j._2, j._3, j._4))
      else {
        val sc = spark.sparkContext
        sc.parallelize(jobs, math.min(jobs.size, 128))
          .map(j => rewriteOne(j._1, j._2, j._3, j._4))
          .collect().toSeq
      }
    (summaries, bases.last)
  }
}

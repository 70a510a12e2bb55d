package graft.formats.iceberg

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{FileEntry, TableSnapshot}
import graft.plans.Placement
import graft.plans.Placement.Placed
import graft.util.PathUtils

/** Row-level change feed over an Iceberg table — the Iceberg twin of
  * [[graft.formats.delta.DeltaChanges]]: `changesBetween(s0, s1)` returns
  * every row inserted or deleted by the snapshots in `(s0, s1]`
  * (sequence numbers), tagged `_change_type` and `_commit_version`.
  *
  * Per snapshot step the diff reads ONLY what the commit could have
  * touched: data files added/removed by the step, plus the target files
  * of any NEW position-delete files (position deletes name their file).
  * New EQUALITY deletes can mask rows in any older file, so a step that
  * adds them falls back to a full two-sided diff — correctness first,
  * the narrow path for the overwhelmingly common append/delete-by-pos
  * traffic. REPLACE snapshots (delete compaction — layout-only, same
  * rows) contribute nothing, recognized by the snapshot summary
  * operation, exactly as Delta's `dataChange=false` commits.
  *
  * Updates surface as their delete+insert pair — the reconstruction
  * limit without CDC sidecar files, the same contract as DeltaChanges.
  */
object IcebergChanges {

  def changesBetween(spark: SparkSession, tablePath: String,
      fromSeq: Long, toSeq: Long): DataFrame = {
    require(fromSeq >= 0 && fromSeq < toSeq,
      s"need 0 <= fromSeq < toSeq, got $fromSeq..$toSeq")
    val version = IcebergMetadata.currentVersion(tablePath).getOrElse(
      throw new IllegalStateException(s"no Iceberg table at $tablePath"))
    val m = IcebergMetadata.read(tablePath, version)
    val steps = m.snapshots
      .filter(s => s.sequenceNumber > fromSeq && s.sequenceNumber <= toSeq)
      .sortBy(_.sequenceNumber)
    require(steps.nonEmpty,
      s"no snapshots in ($fromSeq, $toSeq] at $tablePath — expired?")
    val src = new IcebergConversionSource(spark, tablePath,
      PathUtils.canonical(tablePath).stripSuffix("/").split('/').last)
    // a sequence's listing is immutable (manifests are write-once), so
    // one snapshot per sequence serves step N's after side and step
    // N+1's before side: one manifest decode per boundary
    val snaps = scala.collection.mutable.Map.empty[Long, Option[TableSnapshot]]
    def snapAt(s: Long): Option[TableSnapshot] = snaps.getOrElseUpdate(s,
      if (s == 0 || m.snapshotBySeq(s).isEmpty) None
      else Some(src.snapshotAtSeq(m, s, src.currentTable(), s.toString)))
    var prev = fromSeq
    val parts = steps.map { s =>
      val d = changesOf(spark, src, m, tablePath, prev, s, snapAt)
      prev = s.sequenceNumber
      d
    }
    parts.reduce(_ unionByName _)
  }

  private def changesOf(spark: SparkSession, src: IcebergConversionSource,
      m: IcebergTableMetadata, tablePath: String, prevSeq: Long,
      snap: IcebergSnapshot, snapAt: Long => Option[TableSnapshot])
      : DataFrame = {
    import spark.implicits._
    val seq = snap.sequenceNumber
    val schema = m.schema
    val cols = schema.fieldNames.toSeq.map(col)
    val emptyFeed = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(schema.fields :+
        org.apache.spark.sql.types.StructField("_change_type",
          org.apache.spark.sql.types.StringType)))
      .withColumn("_commit_version", lit(seq))
    // REPLACE = layout-only rewrite (delete compaction): same rows, new
    // (file, pos) everywhere — by definition no row-level change
    if (snap.operation == "replace") return emptyFeed

    def listingAt(s: Long): Placed[FileEntry] =
      snapAt(s).map(_.listing.placed).getOrElse(Left(Vector.empty))
    val (beforeListing, afterListing) = (listingAt(prevSeq), listingAt(seq))

    // delete files NEW in this step widen the touched set
    val prevDeletePaths =
      IcebergDeletes.liveDeleteRefs(m, prevSeq).map(_.path).toSet
    val newDeletes = IcebergDeletes.liveDeleteRefs(m, seq)
      .filterNot(r => prevDeletePaths.contains(r.path))
    val newEq = newDeletes.exists(_.content == 2)
    // position-delete targets: parquet delete files name theirs in rows;
    // v3 deletion vectors name theirs in the manifest entry (field 143)
    // — a driver-side list bounded by the commit's touched-file count
    val (newDvs, newPosFiles) = newDeletes.filter(_.content == 1)
      .partition(_.isDeletionVector)
    val dvTargets: Seq[String] = newDvs.flatMap(_.referencedDataFile)
      .map(graft.util.PathUtils.canonical).distinct
    // pos-delete PARQUET files need a data read to learn their targets;
    // DV targets are already on the driver (manifest field 143)
    lazy val posTargets: DataFrame = {
      val fromFiles =
        if (newPosFiles.isEmpty) None
        else Some(spark.read.parquet(newPosFiles.map(_.path): _*)
          .select(graft.util.PathCols.canonical(col("file_path"))
            .as("__p")))
      val fromDvs =
        if (newDvs.isEmpty) None
        else Some(dvTargets.toDF("__p"))
      (fromFiles.toSeq ++ fromDvs.toSeq)
        .reduceOption(_ union _).map(_.distinct())
        .getOrElse(spark.emptyDataset[String].toDF("__p"))
    }

    def emptyKeyed: DataFrame =
      emptyFeed.drop("_change_type", "_commit_version")
        .withColumn("__scan_path", lit(null).cast("string"))
        .withColumn("__scan_pos", lit(null).cast("long"))

    /** The keyed, delete-masked read of `files` as of sequence `at`. */
    def read(at: Long, files: Placed[FileEntry]): DataFrame =
      if (at == 0 || m.snapshotBySeq(at).isEmpty) emptyKeyed
      else IcebergDeletes.scan(spark, graft.plans.SnapshotFileIndex.snapshot(
        spark, src.currentTable(), at.toString, files), m, at, tablePath,
        keyed = true)

    val (after, before) = (beforeListing, afterListing) match {
      case (Left(bl), Left(al)) if newPosFiles.isEmpty =>
        // both listings on the driver: the diff and the touched-file
        // restriction are set operations on the same path equality the
        // anti-/semi-joins below compare, with no Spark job
        val beforePaths = bl.iterator.map(_.path).toSet
        val afterPaths = al.iterator.map(_.path).toSet
        val addedP = al.iterator.map(_.path)
          .filterNot(beforePaths).toSeq
        val removedP = bl.iterator.map(_.path)
          .filterNot(afterPaths).toSeq
        def touching(entries: IndexedSeq[FileEntry], touched: Seq[String])
            : Placed[FileEntry] =
          if (newEq) Left(entries)   // equality deletes reach any file
          else { val t = touched.toSet; Left(entries.filter(e => t(e.path))) }
        // PURE-APPEND step fast path (guide §1.2): no new delete files,
        // nothing removed, every added path absent from the before
        // listing — the before side restricted to the touched set is
        // empty by construction, so the anti-joins are provably no-ops
        // and the step's changes are exactly the added files' live rows
        // tagged `insert` (the after read keeps the same keyed/
        // delete-masked path, so prior-sequence delete semantics are
        // untouched).
        if (newDeletes.isEmpty && removedP.isEmpty && addedP.nonEmpty)
          return read(seq, touching(al, addedP))
            .select(cols :+ lit("insert").as("_change_type"): _*)
            .withColumn("_commit_version", lit(seq))
        (read(seq, touching(al, (addedP ++ dvTargets).distinct)),
          read(prevSeq, touching(bl,
            (addedP ++ removedP ++ dvTargets).distinct)))
      case _ =>
        val beforeFiles = Placement.dataset(spark, beforeListing)
        val afterFiles = Placement.dataset(spark, afterListing)
        val beforePaths = beforeFiles.select("path").as[String]
        val afterPaths = afterFiles.select("path").as[String]
        val added = afterPaths.toDF("__p")
          .join(beforePaths.toDF("__q"), col("__p") === col("__q"),
            "left_anti")
        val removed = beforePaths.toDF("__p")
          .join(afterPaths.toDF("__q"), col("__p") === col("__q"),
            "left_anti")
        def touching(files: Dataset[FileEntry], touched: DataFrame)
            : Placed[FileEntry] =
          if (newEq) Right(files)   // equality deletes reach any file
          else Right(files.join(touched, files("path") === touched("__p"),
            "left_semi").as[FileEntry])
        (read(seq, touching(afterFiles, added.union(posTargets))),
          read(prevSeq, touching(beforeFiles,
            added.union(removed).union(posTargets))))
    }

    val key = Seq("__scan_path", "__scan_pos")
    val inserts = after.join(before.select(key.map(col): _*), key,
        "left_anti")
      .select(cols :+ lit("insert").as("_change_type"): _*)
    val deletes = before.join(after.select(key.map(col): _*), key,
        "left_anti")
      .select(cols :+ lit("delete").as("_change_type"): _*)
    inserts.unionByName(deletes).withColumn("_commit_version", lit(seq))
  }
}

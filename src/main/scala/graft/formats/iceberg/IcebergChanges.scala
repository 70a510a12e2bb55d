package graft.formats.iceberg

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{FileEntry, TableSnapshot}
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
    var prev = fromSeq
    val parts = steps.map { s =>
      val d = changesOf(spark, src, m, tablePath, prev, s)
      prev = s.sequenceNumber
      d
    }
    parts.reduce(_ unionByName _)
  }

  private def changesOf(spark: SparkSession, src: IcebergConversionSource,
      m: IcebergTableMetadata, tablePath: String, prevSeq: Long,
      snap: IcebergSnapshot): DataFrame = {
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

    // the UNFILTERED listing at a sequence is immutable (manifests are
    // write-once), so it is persisted under a per-sequence key and
    // SHARED: step N's after-read, step N+1's before-read and both
    // added/removed diffs at that boundary all reuse one manifest scan
    // instead of re-running it (the safe half of the sharing the r13
    // collision fix removed — the FILTERED per-step listings below keep
    // their unique ids)
    def snapAt(s: Long): Option[TableSnapshot] =
      if (s == 0 || m.snapshotBySeq(s).isEmpty) None
      else Some(src.snapshotAtSeq(m, s, src.currentTable(), s"$s-cdfbase"))
    def listingAt(s: Long): Dataset[FileEntry] =
      snapAt(s).map(graft.plans.SnapshotFileIndex.listingFor)
        .getOrElse(spark.emptyDataset[FileEntry])
    // SMALL tables diff their listings DRIVER-SIDE (guide §1.2): the
    // per-sequence listing is already collected once by the listing
    // fast path (localFor), so added/removed and the touched-file
    // restriction become Set operations instead of 2 anti-joins + 2
    // semi-joins worth of Spark jobs per step. Tables past the
    // localMax threshold keep the distributed path below (None).
    val beforeLocal: Option[IndexedSeq[FileEntry]] =
      snapAt(prevSeq).map(graft.plans.SnapshotFileIndex.localFor)
        .getOrElse(Some(IndexedSeq.empty))
    val afterLocal: Option[IndexedSeq[FileEntry]] =
      snapAt(seq).map(graft.plans.SnapshotFileIndex.localFor)
        .getOrElse(Some(IndexedSeq.empty))
    lazy val beforeListing = listingAt(prevSeq).select("path").as[String]
    lazy val afterListing = listingAt(seq).select("path").as[String]
    lazy val added = afterListing.toDF("__p")
      .join(beforeListing.toDF("__q"), col("__p") === col("__q"),
        "left_anti")
    lazy val removed = beforeListing.toDF("__p")
      .join(afterListing.toDF("__q"), col("__p") === col("__q"),
        "left_anti")

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

    // UNIQUE id per read: adjacent steps read the SAME sequence with
    // DIFFERENT touched sets (step N's after vs step N+1's before) —
    // under a shared "$at-cdf" id the execution-time listing cache
    // (SnapshotFileIndex.listingFor keys on basePath#commitId) served
    // one step's filtered listing to the other, surfacing phantom
    // deletes/inserts in multi-step feeds
    def keyedRead(at: Long, files: Dataset[FileEntry]): DataFrame = {
      val sub = TableSnapshot(src.currentTable(), files,
        s"$at-cdf-${java.util.UUID.randomUUID()}")
      val out = IcebergDeletes.scan(spark, sub, m, at, tablePath, keyed = true)
      graft.plans.SnapshotFileIndex.invalidate(sub)
      out
    }

    def read(at: Long, touched: DataFrame): DataFrame = {
      val listing = listingAt(at)
      if (at == 0 || m.snapshotBySeq(at).isEmpty) return emptyKeyed
      val files =
        if (newEq) listing   // equality deletes reach any file: full diff
        else listing.join(touched, listing("path") === touched("__p"),
          "left_semi").as[FileEntry]
      keyedRead(at, files)
    }

    def readLocal(at: Long, entries: IndexedSeq[FileEntry],
        touched: Seq[String]): DataFrame = {
      if (at == 0 || m.snapshotBySeq(at).isEmpty) return emptyKeyed
      val sel =
        if (newEq) entries
        else { val t = touched.toSet; entries.filter(e => t(e.path)) }
      keyedRead(at, spark.createDataset(sel))
    }

    val (after, before) = (beforeLocal, afterLocal) match {
      case (Some(bl), Some(al)) if newPosFiles.isEmpty =>
        // driver-side diff: the same path-equality comparisons the
        // anti-/semi-joins made, on listings the fast path already holds
        val beforePaths = bl.iterator.map(_.path).toSet
        val afterPaths = al.iterator.map(_.path).toSet
        val addedP = al.iterator.map(_.path)
          .filterNot(beforePaths).toSeq
        val removedP = bl.iterator.map(_.path)
          .filterNot(afterPaths).toSeq
        // PURE-APPEND step fast path (guide §1.2): no new delete files,
        // nothing removed, every added path absent from the before
        // listing — the before side restricted to the touched set is
        // empty by construction, so the anti-joins are provably no-ops
        // and the step's changes are exactly the added files' live rows
        // tagged `insert` (the after read keeps the same keyed/
        // delete-masked path, so prior-sequence delete semantics are
        // untouched).
        if (newDeletes.isEmpty && removedP.isEmpty && addedP.nonEmpty)
          return readLocal(seq, al, addedP)
            .select(cols :+ lit("insert").as("_change_type"): _*)
            .withColumn("_commit_version", lit(seq))
        (readLocal(seq, al, (addedP ++ dvTargets).distinct),
          readLocal(prevSeq, bl,
            (addedP ++ removedP ++ dvTargets).distinct))
      case _ =>
        (read(seq, added.union(posTargets)),
          read(prevSeq, added.union(removed).union(posTargets)))
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

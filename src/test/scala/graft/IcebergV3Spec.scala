package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.formats.iceberg._
import graft.sources.ParquetDirectorySource
import graft.sync.TableFormatSync

/** Iceberg format-version 3: puffin deletion vectors (read + DV-commit
  * write + the one-DV-per-file merge rule), v3 metadata round-trip, and
  * the v3 data-write refusal. Byte-level codec cases pin the spec's
  * Delta-compatible blob frame.
  */
class IcebergV3Spec extends SparkSuite {

  private def hconf = graft.util.HadoopConfs.session(spark)

  private def syncNation(prefix: String): (String, graft.model.FileEntry) = {
    val stage = tmpDir(prefix + "_src")
    spark.read.parquet(s"${sf("sf0.001")}/nation.parquet")
      .repartition(1).sortWithinPartitions("n_nationkey")
      .write.mode("overwrite").parquet(stage)
    val table = tmpDir(prefix + "_tbl")
    val src = new ParquetDirectorySource(spark, stage, "nation")
    val outcomes = TableFormatSync.syncSnapshot(
      Seq(new IcebergConversionTarget(spark, table)),
      src.currentSnapshot(), src.sourceFormat)
    assert(outcomes.forall(_.status == "SUCCESS"), outcomes.mkString(";"))
    val f = new IcebergConversionSource(spark, table, "nation")
      .currentSnapshot().files.collect()(0)
    (table, f)
  }

  test("puffin round-trip: footer metadata, blob coordinates, CRC") {
    val p = tmpDir("puffin") + "/dv.puffin"
    val dvs = Seq(
      Puffin.Dv("data/f1.parquet", Seq(0L, 5L, 17L)),
      // positions straddling several 32-bit keys (multi-bitmap portable)
      Puffin.Dv("data/f2.parquet",
        Seq(3L, (1L << 32) + 4L, (5L << 32) + 9L)))
    val blobs = Puffin.writeDeletionVectors(p, snapshotId = 42L,
      sequenceNumber = 7L, dvs)
    assert(blobs.size == 2)
    val (read, props) = Puffin.readBlobs(p, hconf)
    assert(props.get("created-by").contains("graft"))
    assert(read.map(_.blobType).distinct == Seq(Puffin.DeletionVectorV1))
    assert(read.map(_.snapshotId).distinct == Seq(42L))
    read.zip(dvs).foreach { case (b, dv) =>
      assert(b.properties("referenced-data-file") == dv.referencedDataFile)
      assert(b.properties("cardinality") == dv.positions.size.toString)
      val pos = Puffin.readDeletionVector(p, b.offset, b.length, hconf)
      assert(pos.toSeq.sorted == dv.positions.sorted)
    }
    // a flipped payload byte must fail the CRC, not decode quietly
    val bytes = Files.readAllBytes(Paths.get(p))
    bytes(read.head.offset.toInt + 9) =
      (bytes(read.head.offset.toInt + 9) ^ 0x1).toByte
    Files.write(Paths.get(p), bytes)
    val e = intercept[IllegalArgumentException] {
      Puffin.readDeletionVector(p, read.head.offset, read.head.length,
        hconf)
    }
    assert(e.getMessage.contains("CRC"), e.getMessage)
  }

  test("portable bitmap serialization carries explicit ascending keys") {
    import graft.formats.delta.DeletionVectors
    val positions = Seq(1L, (2L << 32) | 3L, (2L << 32) | 9L, (7L << 32))
    val payload = DeletionVectors.serializeBitmap(positions)
    val buf = java.nio.ByteBuffer.wrap(payload)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    assert(buf.getInt == 1681511377) // magic, LE == bytes D1 D3 39 64
    assert(buf.getLong == 3L)        // three NON-EMPTY bitmaps (0, 2, 7)
    assert(buf.getInt == 0)          // first key explicit — not implied
    assert(DeletionVectors.deserializeBitmap(payload).toSeq.sorted ==
      positions.sorted)
    // delta-spark's key-dense portable stream (empty bitmaps serialized
    // with their keys) reads identically — the reader trusts keys
    val rb0 = new org.roaringbitmap.RoaringBitmap(); rb0.add(1)
    val rb1 = new org.roaringbitmap.RoaringBitmap() // empty, key 1
    val rb2 = new org.roaringbitmap.RoaringBitmap(); rb2.add(5)
    val size = 4 + 8 + Seq(rb0, rb1, rb2)
      .map(4 + _.serializedSizeInBytes()).sum
    val dense = java.nio.ByteBuffer.allocate(size)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    dense.putInt(1681511377); dense.putLong(3L)
    Seq(rb0, rb1, rb2).zipWithIndex.foreach { case (rb, k) =>
      dense.putInt(k)
      val b = java.nio.ByteBuffer.allocate(rb.serializedSizeInBytes())
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      rb.serialize(b); b.flip(); dense.put(b)
    }
    assert(DeletionVectors.deserializeBitmap(dense.array()).toSeq.sorted ==
      Seq(1L, (2L << 32) | 5L))
  }

  test("DV commit upgrades to v3, masks rows, merges per-file, and " +
    "serves row-level DML") {
    val (table, f) = syncNation("icev3")
    val all = spark.read.parquet(s"${sf("sf0.001")}/nation.parquet")
      .orderBy("n_nationkey").collect().map(_.getAs[Number]("n_nationkey").longValue)

    IcebergDeletes.appendDeletionVectors(spark, table,
      Map(f.path -> (0L until f.recordCount).filter(_ % 4 == 0)))
    val m1 = IcebergMetadata.read(table,
      IcebergMetadata.currentVersion(table).get)
    assert(m1.formatVersion == 3)
    val served1 = new IcebergConversionSource(spark, table, "nation")
      .toDataFrame.orderBy("n_nationkey").collect()
      .map(_.getAs[Number]("n_nationkey").longValue)
    assert(served1.toSeq ==
      all.zipWithIndex.filter(_._2 % 4 != 0).map(_._1).toSeq)

    // second DV on the same file MERGES (one live DV per data file)
    IcebergDeletes.appendDeletionVectors(spark, table,
      Map(f.path -> (0L until f.recordCount).filter(_ % 7 == 2)))
    val m2 = IcebergMetadata.read(table,
      IcebergMetadata.currentVersion(table).get)
    val refs = IcebergDeletes.liveDeleteRefs(m2, m2.headSequence)
    assert(refs.size == 1 && refs.head.isDeletionVector, refs)
    val served2 = new IcebergConversionSource(spark, table, "nation")
      .toDataFrame.orderBy("n_nationkey").collect()
      .map(_.getAs[Number]("n_nationkey").longValue)
    assert(served2.toSeq == all.zipWithIndex
      .filter { case (_, i) => i % 4 != 0 && i % 7 != 2 }.map(_._1).toSeq)

    // time travel BEFORE the DVs still serves every row
    val seq0 = m2.snapshots.map(_.sequenceNumber).min
    val at0 = new IcebergConversionSource(spark, table, "nation")
      .toDataFrameAt(seq0).count()
    assert(at0 == all.length.toLong)

    // predicate DELETE on a v3 table routes into deletion vectors —
    // distributed executor-side puffin write, merged into the ONE live
    // DV for the file
    val survivorKey = served2.head
    val nDel = IcebergDeletes.deleteWhere(spark, table,
      col("n_nationkey") === survivorKey)
    assert(nDel == 1L, s"deleted $nDel")
    val m3 = IcebergMetadata.read(table,
      IcebergMetadata.currentVersion(table).get)
    val refs3 = IcebergDeletes.liveDeleteRefs(m3, m3.headSequence)
    assert(refs3.size == 1 && refs3.head.isDeletionVector, refs3)
    val served3 = new IcebergConversionSource(spark, table, "nation")
      .toDataFrame.orderBy("n_nationkey").collect()
      .map(_.getAs[Number]("n_nationkey").longValue)
    assert(served3.toSeq == served2.toSeq.filterNot(_ == survivorKey))

    // BLIND APPENDS work on v3: fresh rows get fresh row lineage —
    // explicit data_file.first_row_id per entry, snapshot first-row-id,
    // next-row-id advanced — and the live DV keeps masking old rows
    val preAppend = IcebergMetadata.read(table,
      IcebergMetadata.currentVersion(table).get)
    val stage = tmpDir("icev3_append_stage")
    spark.read.parquet(s"${sf("sf0.001")}/nation.parquet")
      .limit(7).write.mode("overwrite").parquet(stage)
    IcebergDeletes.appendDataFiles(spark, table, stage)
    val m4 = IcebergMetadata.read(table,
      IcebergMetadata.currentVersion(table).get)
    assert(m4.nextRowId == preAppend.nextRowId + 7, m4.nextRowId)
    assert(m4.currentSnapshot.flatMap(_.firstRowId)
      .contains(preAppend.nextRowId))
    val served4 = new IcebergConversionSource(spark, table, "nation")
      .toDataFrame.count()
    assert(served4 == served3.length.toLong + 7, served4)
    // the appended manifest's entries carry explicit first_row_id
    val appendManifest = IcebergManifests.readManifestListRecords(
        m4.currentSnapshot.get.manifestList)
      .filter(r => IcebergManifests.contentOf(r) == 0)
      .map(_.get("manifest_path").toString)
      .find(_.contains("-append")).get
    val firstRowIds = IcebergManifests.readManifest(appendManifest, hconf)
      .map { e =>
        val df = e.get("data_file")
          .asInstanceOf[org.apache.avro.generic.GenericRecord]
        if (df.getSchema.getField("first_row_id") == null) null
        else df.get("first_row_id")
      }.toSeq
    assert(firstRowIds.nonEmpty && firstRowIds.forall(_ != null),
      firstRowIds.toString)
    assert(firstRowIds.map(_.asInstanceOf[Long]).min == preAppend.nextRowId)

    // UPDATES work on v3 since r14 (the rewrite materializes each
    // matched row's _row_id — see the dedicated lineage test); here just
    // prove the DML lands and the count holds
    val preUpd = new IcebergConversionSource(spark, table, "nation")
      .toDataFrame.count()
    val updKey = served3.head
    val nUpd = IcebergDeletes.updateWhere(spark, table,
      col("n_nationkey") === updKey,
      Map("n_regionkey" -> lit(99L)))
    assert(nUpd > 0L)
    val afterUpd = new IcebergConversionSource(spark, table, "nation")
      .toDataFrame
    assert(afterUpd.count() == preUpd)
    assert(afterUpd.filter(col("n_nationkey") === updKey)
      .collect().forall(_.getAs[Number]("n_regionkey").longValue == 99L))

    // file-level consumers refuse while DVs are live (same guard as v2
    // row-level deletes): sync would serve deleted rows back
    val e2 = intercept[graft.model.DeletionVectorsUnsupported] {
      new IcebergConversionSource(spark, table, "nation").currentSnapshot()
    }
    assert(e2.getMessage.contains("delete file"), e2.getMessage)
  }

  test("change feed classifies DV commits as row-level deletes") {
    val (table, f) = syncNation("icev3cdf")
    IcebergDeletes.appendDeletionVectors(spark, table,
      Map(f.path -> Seq(0L, 4L, 9L)))
    // second DV commit supersedes the first (merge) — its step must
    // surface ONLY the newly masked rows
    IcebergDeletes.appendDeletionVectors(spark, table,
      Map(f.path -> Seq(1L, 4L))) // 4 already deleted: no new change
    val all = spark.read.parquet(s"${sf("sf0.001")}/nation.parquet")
      .orderBy("n_nationkey").collect()
      .map(_.getAs[Number]("n_nationkey").longValue)
    val feed = IcebergChanges.changesBetween(spark, table, 1L, 3L)
      .select("n_nationkey", "_change_type", "_commit_version")
      .collect()
      .map(r => (r.getAs[Number]("n_nationkey").longValue,
        r.getString(1), r.getLong(2)))
      .sortBy(t => (t._3, t._1))
    val expected =
      (Seq(0, 4, 9).map(p => (all(p), "delete", 2L)) ++
        Seq((all(1), "delete", 3L))).sortBy(t => (t._3, t._1))
    assert(feed.toSeq == expected, feed.mkString(", "))
  }

  test("a million-position deletion vector round-trips compactly and fast") {
    val p = tmpDir("puffin1m") + "/dv1m.puffin"
    val positions = (0L until 3000000L by 3).toSeq // 10^6 positions
    val t0 = System.nanoTime()
    val blobs = Puffin.writeDeletionVectors(p, 1L, 1L,
      Seq(Puffin.Dv("data/big.parquet", positions)))
    val writeSec = (System.nanoTime() - t0) / 1e9
    val size = java.nio.file.Files.size(java.nio.file.Paths.get(p))
    // roaring keeps a stride-3 million-position set well under 2 bytes
    // per position — the whole vector for a 3M-row file is ~KBs-to-MBs,
    // which is why executor-side decode (not driver collect) is the
    // right read shape
    assert(size < (1L << 21), s"puffin size $size for 1M positions")
    val t1 = System.nanoTime()
    val read = Puffin.readDeletionVector(p, blobs.head.offset,
      blobs.head.length, hconf)
    val readSec = (System.nanoTime() - t1) / 1e9
    assert(read.length == 1000000, read.length)
    assert(read(0) == 0L && read(999999) == 2999997L)
    // decode is a per-DV executor cost — it must stay in the
    // well-under-a-second class (measured ~tens of ms; 5s is the alarm
    // threshold, not the expectation)
    assert(readSec < 5.0, f"DV decode took $readSec%.2f s")
    info(f"1M-position DV: $size bytes, write $writeSec%.3f s, " +
      f"decode $readSec%.3f s")
  }

  test("a compressed puffin footer refuses rather than misparse") {
    val p = tmpDir("puffin_lz4") + "/dv.puffin"
    Puffin.writeDeletionVectors(p, 1L, 1L,
      Seq(Puffin.Dv("data/f.parquet", Seq(1L, 2L))))
    // flip the footer flags' compression bit (4 LE bytes before the
    // trailing magic, after the 4-byte payload-size word)
    val bytes = Files.readAllBytes(Paths.get(p))
    bytes(bytes.length - 8) = 1
    Files.write(Paths.get(p), bytes)
    val e = intercept[IllegalArgumentException](Puffin.readBlobs(p, hconf))
    assert(e.getMessage.contains("lz4"), e.getMessage)
  }

  test("update and compaction preserve lineage on a PARTITIONED v3 " +
    "table (partition columns are metadata-only in the scan)") {
    val stage = tmpDir("icev3plin_src")
    spark.read.parquet(s"${sf("sf0.001")}/nation.parquet")
      .repartition(col("n_regionkey"))
      .sortWithinPartitions("n_regionkey", "n_nationkey")
      .write.mode("overwrite").partitionBy("n_regionkey").parquet(stage)
    val table = tmpDir("icev3plin_tbl")
    val src = new ParquetDirectorySource(spark, stage, "nation")
    val outcomes = TableFormatSync.syncSnapshot(
      Seq(new IcebergConversionTarget(spark, table)),
      src.currentSnapshot(), src.sourceFormat)
    assert(outcomes.forall(_.status == "SUCCESS"), outcomes.mkString(";"))
    assert(IcebergDeletes.upgradeToV3(spark, table))
    def lineage(): Map[Long, Long] = {
      val m = IcebergMetadata.read(table,
        IcebergMetadata.currentVersion(table).get)
      IcebergRowLineage.keyedScanWithLineage(spark, table, m,
        m.headSequence, "nation")
        .select(col("n_nationkey"), col("__row_id")).collect()
        .map(r => (r.getAs[Number](0).longValue, r.getLong(1))).toMap
    }
    val ids0 = lineage()
    assert(ids0.size == 25 && ids0.values.toSet.size == 25)

    // update a row in one partition: id kept, partition value served
    val k = ids0.keys.min
    assert(IcebergDeletes.updateWhere(spark, table,
      col("n_nationkey") === k, Map("n_name" -> lit("upd"))) == 1L)
    assert(lineage() == ids0)
    val updRow = new IcebergConversionSource(spark, table, "nation")
      .toDataFrame.filter(col("n_nationkey") === k).collect()
    assert(updRow.length == 1 &&
      updRow.head.getAs[String]("n_name") == "upd")
    assert(updRow.head.getAs[Number]("n_regionkey") != null)

    // DV delete across partitions, then compaction: map invariant
    assert(IcebergDeletes.deleteWhere(spark, table,
      col("n_nationkey") % 3 === 1) > 0L)
    val ids2 = lineage()
    assert(ids2 == ids0.filter { case (key, _) => key % 3 != 1 })
    assert(IcebergDeletes.rewriteWithDeletes(spark, table))
    assert(lineage() == ids2)
    // partition columns still served correctly after the rewrite
    val all = new IcebergConversionSource(spark, table, "nation")
      .toDataFrame.select("n_nationkey", "n_regionkey").collect()
      .map(r => (r.getAs[Number](0).longValue,
        r.getAs[Number](1).longValue)).toMap
    val expected = spark.read.parquet(s"${sf("sf0.001")}/nation.parquet")
      .select("n_nationkey", "n_regionkey").collect()
      .map(r => (r.getAs[Number](0).longValue,
        r.getAs[Number](1).longValue)).toMap
      .filter { case (key, _) => key % 3 != 1 }
    assert(all == expected,
      s"missing=${expected.keySet -- all.keySet} " +
        s"mismatch=${all.filter { case (key, v) => expected.get(key).exists(_ != v) }}")
  }

  test("DV commits on a PARTITIONED table carry the referenced file's " +
    "partition tuple and merge per file") {
    val stage = tmpDir("icev3part_src")
    spark.read.parquet(s"${sf("sf0.001")}/nation.parquet")
      .repartition(col("n_regionkey"))
      .write.mode("overwrite").partitionBy("n_regionkey").parquet(stage)
    val table = tmpDir("icev3part_tbl")
    val src = new ParquetDirectorySource(spark, stage, "nation")
    val outcomes = TableFormatSync.syncSnapshot(
      Seq(new IcebergConversionTarget(spark, table)),
      src.currentSnapshot(), src.sourceFormat)
    assert(outcomes.forall(_.status == "SUCCESS"), outcomes.mkString(";"))
    val files = new IcebergConversionSource(spark, table, "nation")
      .currentSnapshot().files.collect()
    assert(files.length > 1, "expected one file per region")
    val regionByFile = files.map(f => f.path ->
      f.partitionValues.find(_.field == "n_regionkey").get.value).toMap

    // which keys sit at positions 0/1 of the region-0 file (positions,
    // not keys, are what a DV masks)
    val f0 = files.find(f => regionByFile(f.path) == "0").get
    val headKeys = spark.read.parquet(f0.path)
      .select(col("n_nationkey"), col("_metadata.row_index").as("pos"))
      .filter(col("pos") < 2).collect()
      .map(_.getAs[Number]("n_nationkey").longValue).toSet

    // first DV commit upgrades the PARTITIONED table to v3
    IcebergDeletes.appendDeletionVectors(spark, table,
      Map(f0.path -> Seq(0L, 1L)))
    val m1 = IcebergMetadata.read(table,
      IcebergMetadata.currentVersion(table).get)
    assert(m1.formatVersion == 3)
    assert(m1.partitionSpec.nonEmpty)

    // predicate DELETE routes into DVs across SEVERAL partitions and
    // merges with the live DV on the region-0 file
    val nDel = IcebergDeletes.deleteWhere(spark, table,
      col("n_nationkey") % 2 === 0)
    assert(nDel > 0L)
    val m2 = IcebergMetadata.read(table,
      IcebergMetadata.currentVersion(table).get)
    val refs = IcebergDeletes.liveDeleteRefs(m2, m2.headSequence)
    assert(refs.forall(_.isDeletionVector), refs)
    // spec rule holds per file even across partitions
    assert(refs.map(_.referencedDataFile.get).distinct.size == refs.size,
      s"more than one live DV for a file: $refs")
    assert(refs.exists(r => graft.util.PathUtils.canonical(
      r.referencedDataFile.get) == f0.path), "merged region-0 DV missing")

    // each DV manifest entry carries the REFERENCED data file's
    // partition tuple in a typed r102 struct
    import org.apache.avro.generic.GenericRecord
    val dvManifests = IcebergManifests.readManifestListRecords(
        m2.currentSnapshot.get.manifestList)
      .filter(r => IcebergManifests.contentOf(r) == 1)
      .map(_.get("manifest_path").toString)
    val entries = dvManifests.flatMap(IcebergManifests.readManifest(_, hconf))
      .filter(_.get("status").asInstanceOf[Int] !=
        IcebergManifests.Status.Deleted)
    assert(entries.nonEmpty)
    entries.foreach { e =>
      val df = e.get("data_file").asInstanceOf[GenericRecord]
      val part = df.get("partition").asInstanceOf[GenericRecord]
      val ref = graft.util.PathUtils.canonical(
        df.get("referenced_data_file").toString)
      val got = Option(part.get("n_regionkey")).map(_.toString).orNull
      assert(got == regionByFile(ref),
        s"DV entry partition $got != data file partition " +
          s"${regionByFile(ref)} for $ref")
    }
    // entries carried through a superseding commit are re-stamped
    // EXISTING, freshly added ones are ADDED
    val statuses = entries.map(_.get("status").asInstanceOf[Int]).toSet
    assert(statuses.subsetOf(Set(IcebergManifests.Status.Added,
      IcebergManifests.Status.Existing)), statuses.toString)

    // the delete-aware read serves exactly the surviving rows
    val all = spark.read.parquet(s"${sf("sf0.001")}/nation.parquet")
      .collect().map(_.getAs[Number]("n_nationkey").longValue).toSet
    val expected = (all -- headKeys).filter(_ % 2 != 0)
    val served = new IcebergConversionSource(spark, table, "nation")
      .toDataFrame.collect()
      .map(_.getAs[Number]("n_nationkey").longValue).toSet
    assert(served == expected,
      s"missing=${expected -- served} extra=${served -- expected}")
  }

  test("row lineage survives update, merge, delete, compaction, and " +
    "sync into a v3 table") {
    val nationPath = s"${sf("sf0.001")}/nation.parquet"
    def lineage(table: String): Map[Long, (Long, Long)] = {
      val m = IcebergMetadata.read(table,
        IcebergMetadata.currentVersion(table).get)
      IcebergRowLineage.keyedScanWithLineage(spark, table, m,
        m.headSequence, "nation")
        .select(col("n_nationkey"), col("__row_id"), col("__last_seq"))
        .collect()
        .map(r => (r.getAs[Number](0).longValue,
          (r.getLong(1), r.getLong(2)))).toMap
    }
    val (table, _) = syncNation("icev3lin")

    // explicit upgrade (no DV needed): ids assigned positionally — the
    // single sorted file makes id == rank of n_nationkey
    assert(IcebergDeletes.upgradeToV3(spark, table))
    assert(!IcebergDeletes.upgradeToV3(spark, table)) // idempotent
    val m0 = IcebergMetadata.read(table,
      IcebergMetadata.currentVersion(table).get)
    assert(m0.formatVersion == 3)
    val ids0 = lineage(table)
    assert(m0.nextRowId == ids0.size.toLong, m0.nextRowId)
    val ranked = ids0.keys.toSeq.sorted.zipWithIndex
      .map { case (k, i) => k -> i.toLong }.toMap
    assert(ids0.map { case (k, (id, _)) => k -> id } == ranked)
    assert(ids0.values.map(_._2).toSet.size == 1) // one original data seq

    val keys = ids0.keys.toSeq.sorted
    val (k1, k2, k3, k4) = (keys(1), keys(5), keys(9), keys(13))

    // UPDATE: the row keeps its id; its last-updated seq moves to the
    // update commit (inherited from the new file); others untouched
    assert(IcebergDeletes.updateWhere(spark, table,
      col("n_nationkey") === k1, Map("n_name" -> lit("updated"))) == 1L)
    val ids1 = lineage(table)
    assert(ids1(k1)._1 == ids0(k1)._1, "update must preserve _row_id")
    assert(ids1(k1)._2 > ids0(k1)._2, "update must advance last-updated")
    assert((ids1 - k1) == (ids0 - k1))

    // MERGE: matched key keeps the target's id; the insert gets a FRESH
    // id past the pre-merge watermark
    val mPre = IcebergMetadata.read(table,
      IcebergMetadata.currentVersion(table).get)
    val nation = spark.read.parquet(nationPath)
    val keyType = nation.schema("n_nationkey").dataType
    val source = nation.filter(col("n_nationkey") === k2)
        .withColumn("n_name", lit("merged"))
      .union(nation.filter(col("n_nationkey") === k4)
        .withColumn("n_nationkey", lit(990L).cast(keyType)))
    val (nm, ni) = IcebergDeletes.mergeInto(spark, table, source,
      Seq("n_nationkey"))
    assert(nm == 1L && ni == 1L, s"matched=$nm inserted=$ni")
    val ids2 = lineage(table)
    assert(ids2(k2)._1 == ids0(k2)._1, "merge must preserve matched ids")
    assert(ids2(990L)._1 >= mPre.nextRowId, "insert needs a fresh id")
    assert((ids2 - k2 - 990L) == (ids1 - k2))

    // DELETE via DV: survivors untouched
    assert(IcebergDeletes.deleteWhere(spark, table,
      col("n_nationkey") === k3) == 1L)
    val ids3a = lineage(table)
    assert(ids3a == ids2 - k3)

    // standalone EQUALITY delete stays legal in v3 (it copies no rows,
    // so lineage needs nothing): one more key gone, survivors untouched
    val k5 = keys(17)
    import spark.implicits._
    IcebergDeletes.appendEqualityDeletes(spark, table,
      Seq(k5).toDF("n_nationkey"), Seq("n_nationkey"))
    val ids3 = lineage(table)
    assert(ids3 == ids3a - k5)

    // COMPACTION: rows copied unmodified keep BOTH lineage fields —
    // the whole (id, last_updated) map is invariant across the rewrite
    assert(IcebergDeletes.rewriteWithDeletes(spark, table))
    val m4 = IcebergMetadata.read(table,
      IcebergMetadata.currentVersion(table).get)
    assert(m4.formatVersion == 3)
    assert(IcebergDeletes.liveDeleteRefs(m4, m4.headSequence).isEmpty)
    val ids4 = lineage(table)
    assert(ids4 == ids3, "compaction must preserve id AND last-updated")
    // and the compacted parquet physically materializes both columns
    val compactFiles = new IcebergConversionSource(spark, table, "nation")
      .currentSnapshot().files.collect()
    val physical = spark.read.parquet(compactFiles.map(_.path): _*)
    assert(physical.columns.contains("_row_id") &&
      physical.columns.contains("_last_updated_sequence_number"),
      physical.columns.mkString(","))

    // SYNC INTO v3: a second source file appears; the carried file's
    // rows keep their ids, the new file's rows draw from the watermark
    val stage2 = tmpDir("icev3lin2_src")
    spark.read.parquet(nationPath)
      .repartition(1).sortWithinPartitions("n_nationkey")
      .write.mode("overwrite").parquet(stage2)
    val table2 = tmpDir("icev3lin2_tbl")
    val src2 = new ParquetDirectorySource(spark, stage2, "nation")
    val out2 = TableFormatSync.syncSnapshot(
      Seq(new IcebergConversionTarget(spark, table2)),
      src2.currentSnapshot(), src2.sourceFormat)
    assert(out2.forall(_.status == "SUCCESS"), out2.mkString(";"))
    assert(IcebergDeletes.upgradeToV3(spark, table2))
    val pre = lineage(table2)
    val preMeta = IcebergMetadata.read(table2,
      IcebergMetadata.currentVersion(table2).get)
    // second file: 5 rows with shifted keys so the two files are disjoint
    spark.read.parquet(nationPath).limit(5)
      .withColumn("n_nationkey", (col("n_nationkey") + 1000L).cast(keyType))
      .repartition(1).write.mode("append").parquet(stage2)
    val src2b = new ParquetDirectorySource(spark, stage2, "nation")
    val out2b = TableFormatSync.syncSnapshot(
      Seq(new IcebergConversionTarget(spark, table2)),
      src2b.currentSnapshot(), src2b.sourceFormat)
    assert(out2b.forall(_.status == "SUCCESS"), out2b.mkString(";"))
    val post = lineage(table2)
    val postMeta = IcebergMetadata.read(table2,
      IcebergMetadata.currentVersion(table2).get)
    assert(postMeta.formatVersion == 3, "sync must not downgrade v3")
    val (fresh, carriedRows) = post.partition(_._1 >= 1000L)
    assert(carriedRows == pre, "carried file's rows must keep their ids")
    assert(fresh.size == 5)
    assert(fresh.values.map(_._1).toSeq.sorted ==
      (preMeta.nextRowId until preMeta.nextRowId + 5).toSeq,
      fresh.toString)
    assert(postMeta.nextRowId == preMeta.nextRowId + 5)
  }

  test("DV for a non-live data file refuses") {
    val (table, _) = syncNation("icev3bad")
    val e = intercept[IllegalArgumentException] {
      IcebergDeletes.appendDeletionVectors(spark, table,
        Map(s"$table/data/ghost.parquet" -> Seq(0L)))
    }
    assert(e.getMessage.contains("non-live"), e.getMessage)
  }
}

package graft

import java.nio.file.{Files, Paths}

import graft.formats.delta._
import graft.sources.CatalogConversionSource
import graft.sync.TableFormatSync

class DeletionVectorSpec extends SparkSuite {

  test("DV rewrites surface on both sides of per-commit diffs") {
    // hand-written log: v0 creates files a,b; v1 rewrites a with a
    // deletion vector (add a + remove a in the same commit) and truly
    // removes b
    val table = tmpDir("dv_table")
    val log = Paths.get(table, "_delta_log")
    Files.createDirectories(log)
    val schema = """{\"type\":\"struct\",\"fields\":[{\"name\":\"id\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}}]}"""
    def meta(v: Long) =
      s"""{"metaData":{"id":"t","schemaString":"$schema","partitionColumns":[],"configuration":{},"createdTime":1,"format":{"provider":"parquet","options":{}}}}"""
    Files.writeString(log.resolve("00000000000000000000.json"),
      s"""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}
         |${meta(0)}
         |{"add":{"path":"a.parquet","size":10,"modificationTime":1,"dataChange":true,"partitionValues":{},"stats":""}}
         |{"add":{"path":"b.parquet","size":10,"modificationTime":1,"dataChange":true,"partitionValues":{},"stats":""}}
         |""".stripMargin)
    Files.writeString(log.resolve("00000000000000000001.json"),
      s"""${meta(1)}
         |{"add":{"path":"a.parquet","size":10,"modificationTime":2,"dataChange":true,"partitionValues":{},"stats":"","deletionVector":{"storageType":"u","pathOrInlineDv":"x","offset":1,"sizeInBytes":40,"cardinality":2}}}
         |{"remove":{"path":"a.parquet","deletionTimestamp":2,"dataChange":true}}
         |{"remove":{"path":"b.parquet","deletionTimestamp":2,"dataChange":true}}
         |""".stripMargin)

    val src = new DeltaConversionSource(spark, table, "dv")
    val change = src.changeForCommit("1")
    val added = placedRows(change.diff.added)
    val removed = placedRows(change.diff.removed).map(_.path)
    // a.parquet DV-rewrite surfaces on BOTH sides (add carries the DV —
    // a diff that hid it would let targets advance past the delete);
    // b.parquet: real removal
    assert(added.map(_.path.split('/').last).toSeq == Seq("a.parquet"),
      added.map(_.path).mkString(","))
    assert(added.head.deletionVector.exists(_.cardinality == 2))
    assert(removed.map(_.split('/').last).toSeq.sorted ==
      Seq("a.parquet", "b.parquet"))
    // live set at head: only a.parquet (with DV, file still live)
    val live = src.currentSnapshot().files.collect().map(_.path.split('/').last)
    assert(live.toSeq == Seq("a.parquet"))
  }

  test("z85 / roaring bitmap codec round-trips (uuid, inline, file)") {
    import java.util.UUID
    val uuid = UUID.fromString("12345678-9abc-4def-8123-456789abcdef")
    assert(DeletionVectors.decodeUuid(DeletionVectors.encodeUuid(uuid)) == uuid)
    // multi-bitmap positions: low range + one past the 32-bit boundary
    val positions = Seq(0L, 1L, 7L, 4096L, (1L << 32) + 5L)
    val payload = DeletionVectors.serializeBitmap(positions)
    assert(DeletionVectors.deserializeBitmap(payload).toSeq == positions.sorted)
    val inline = DeletionVectors.inlineDescriptor(positions)
    assert(inline.storageType == "i" && inline.cardinality == 5)
    assert(DeletionVectors.deletedPositions(
      new org.apache.hadoop.conf.Configuration(), "/nowhere", inline)
      .toSeq == positions.sorted)
    // u-type file write → descriptor → read, with a prefix directory
    val table = tmpDir("dv_codec")
    val conf = new org.apache.hadoop.conf.Configuration()
    val descs = DeletionVectors.writeDvFile(conf, table, "ab", uuid,
      Seq(Seq(2L, 3L), Seq(10L)))
    assert(descs.map(_.cardinality) == Seq(2L, 1L))
    assert(DeletionVectors.absolutePath(table, descs.head) ==
      s"$table/ab/deletion_vector_$uuid.bin")
    assert(DeletionVectors.deletedPositions(conf, table, descs(0)).toSeq
      == Seq(2L, 3L))
    assert(DeletionVectors.deletedPositions(conf, table, descs(1)).toSeq
      == Seq(10L))
  }

  /** A real two-file Delta table whose head carries a live DV on one file:
    * v0 adds both files, v1 attaches a DV to file A (add-with-DV + remove,
    * the delta-spark row-level DELETE shape). Before round 6 this table
    * read back the deleted rows through every path.
    */
  private def liveDvTable(): (String, graft.model.DvDescriptor) = {
    import java.util.UUID
    val table = tmpDir("dv_live")
    val conf = new org.apache.hadoop.conf.Configuration()
    // two single-row-group parquet files with known in-file row order
    val stage = tmpDir("dv_stage")
    spark.range(0, 10).toDF("id").coalesce(1)
      .sortWithinPartitions("id").write.parquet(s"$stage/a")
    spark.range(100, 105).toDF("id").coalesce(1)
      .sortWithinPartitions("id").write.parquet(s"$stage/b")
    def move(src: String, name: String): Unit = {
      val f = new java.io.File(src).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(f.toPath, Paths.get(table, name))
    }
    Files.createDirectories(Paths.get(table))
    move(s"$stage/a", "a.parquet"); move(s"$stage/b", "b.parquet")
    // DV over file a: delete positions 1 and 3 (ids 1 and 3)
    val uuid = UUID.fromString("00112233-4455-4677-8899-aabbccddeeff")
    val desc = DeletionVectors.writeDvFile(conf, table, "", uuid,
      Seq(Seq(1L, 3L))).head
    val log = Paths.get(table, "_delta_log")
    Files.createDirectories(log)
    val schema = """{\"type\":\"struct\",\"fields\":[{\"name\":\"id\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}}]}"""
    val meta =
      s"""{"metaData":{"id":"t","schemaString":"$schema","partitionColumns":[],"configuration":{},"createdTime":1,"format":{"provider":"parquet","options":{}}}}"""
    Files.writeString(log.resolve("00000000000000000000.json"),
      s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}
         |$meta
         |{"add":{"path":"a.parquet","size":100,"modificationTime":1,"dataChange":true,"partitionValues":{},"stats":""}}
         |{"add":{"path":"b.parquet","size":100,"modificationTime":1,"dataChange":true,"partitionValues":{},"stats":""}}
         |""".stripMargin)
    Files.writeString(log.resolve("00000000000000000001.json"),
      s"""{"add":{"path":"a.parquet","size":100,"modificationTime":2,"dataChange":true,"partitionValues":{},"stats":"","deletionVector":{"storageType":"${desc.storageType}","pathOrInlineDv":"${desc.pathOrInlineDv}","offset":${desc.offset},"sizeInBytes":${desc.sizeInBytes},"cardinality":${desc.cardinality}}}}
         |{"remove":{"path":"a.parquet","deletionTimestamp":2,"dataChange":true}}
         |""".stripMargin)
    (table, desc)
  }

  test("live deletion vectors are masked by toDataFrame") {
    val (table, desc) = liveDvTable()
    val src = new DeltaConversionSource(spark, table, "dv_live")
    val snap = src.currentSnapshot()
    val live = snap.files.collect()
    val dvd = live.find(_.path.endsWith("a.parquet")).get.deletionVector
    assert(dvd.contains(desc))
    assert(live.find(_.path.endsWith("b.parquet")).get.deletionVector.isEmpty)
    // ids 1 and 3 are row-level deleted; everything else survives
    val got = src.toDataFrame.select("id").collect().map(_.getLong(0)).sorted
    assert(got.toSeq ==
      ((0L to 9L).filterNot(Set(1L, 3L)) ++ (100L to 104L)).sorted)
  }

  test("format(\"graft\") and snapshot sync refuse live deletion vectors") {
    val (table, _) = liveDvTable()
    val e1 = intercept[graft.model.DeletionVectorsUnsupported] {
      spark.read.format("graft").load(table).collect()
    }
    assert(e1.getMessage.contains("deletion vector"))
    val src = new DeltaConversionSource(spark, table, "dv_live")
    val tgt = new graft.formats.iceberg.IcebergConversionTarget(
      spark, tmpDir("dv_refuse_tgt"))
    val e2 = intercept[Exception] {
      TableFormatSync.syncSnapshot(Seq(tgt), src.currentSnapshot(), "DELTA")
    }
    def dvCaused(t: Throwable): Boolean =
      t != null && (t.isInstanceOf[graft.model.DeletionVectorsUnsupported] ||
        dvCaused(t.getCause))
    assert(dvCaused(e2), e2.toString)
  }

  test("checkpoints preserve deletion-vector descriptors") {
    val (table, desc) = liveDvTable()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType)))
    DeltaSnapshot.writeCheckpoint(spark, table, 1L, schema)
    // replay from the checkpoint only (liveFiles picks it up)
    val live = DeltaSnapshot.liveFiles(spark, table, Seq(0L, 1L), schema)
      .collect()
    assert(live.find(_.path.endsWith("a.parquet")).get.deletionVector
      .contains(desc))
    // and the masked read still serves the correct rows post-checkpoint
    val src = new DeltaConversionSource(spark, table, "dv_ckpt")
    val got = src.toDataFrame.select("id").collect().map(_.getLong(0)).sorted
    assert(got.toSeq ==
      ((0L to 9L).filterNot(Set(1L, 3L)) ++ (100L to 104L)).sorted)
  }

  test("delta-log path codec round-trips URI-encodable characters") {
    import graft.util.PathUtils
    assert(PathUtils.toDeltaUri("cat=a b/x y.parquet") ==
      "cat=a%20b/x%20y.parquet")
    assert(PathUtils.fromDeltaUri("cat=a%20b/x%20y.parquet") ==
      "cat=a b/x y.parquet")
    // literal percent and plus survive the round trip
    assert(PathUtils.fromDeltaUri(PathUtils.toDeltaUri("cat=50% off/a+b.parquet"))
      == "cat=50% off/a+b.parquet")
    // undecorated paths pass through
    assert(PathUtils.toDeltaUri("cat=1/a.parquet") == "cat=1/a.parquet")
    assert(PathUtils.fromDeltaUri("file:///t/a.parquet") == "/t/a.parquet")
  }

  /** ADVICE r6: DV anti-join keys must match under URL-encoded paths. A
    * partition value with a space (and a literal percent) makes
    * `_metadata.file_path` differ from the raw listing path unless both
    * sides canonicalize identically.
    */
  test("live DVs mask correctly under URL-encoded partition paths") {
    import java.util.UUID
    val table = tmpDir("dv_part")
    val conf = new org.apache.hadoop.conf.Configuration()
    val stage = tmpDir("dv_part_stage")
    spark.range(0, 10).toDF("id").coalesce(1)
      .sortWithinPartitions("id").write.parquet(s"$stage/a")
    spark.range(100, 103).toDF("id").coalesce(1)
      .sortWithinPartitions("id").write.parquet(s"$stage/b")
    def move(src: String, rel: String): Unit = {
      val f = new java.io.File(src).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = Paths.get(table, rel)
      Files.createDirectories(dst.getParent)
      Files.move(f.toPath, dst)
    }
    move(s"$stage/a", "cat=a b/a.parquet")
    move(s"$stage/b", "cat=50% off/b.parquet")
    val uuid = UUID.fromString("00112233-4455-4677-8899-aabbccddeeff")
    val desc = DeletionVectors.writeDvFile(conf, table, "", uuid,
      Seq(Seq(1L, 3L))).head
    val log = Paths.get(table, "_delta_log")
    Files.createDirectories(log)
    val schema = """{\"type\":\"struct\",\"fields\":[{\"name\":\"id\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}},{\"name\":\"cat\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}}]}"""
    val meta =
      s"""{"metaData":{"id":"t","schemaString":"$schema","partitionColumns":["cat"],"configuration":{},"createdTime":1,"format":{"provider":"parquet","options":{}}}}"""
    // paths exactly as delta-spark writes them: URL-encoded relative URIs
    Files.writeString(log.resolve("00000000000000000000.json"),
      s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}
         |$meta
         |{"add":{"path":"cat=a%20b/a.parquet","size":100,"modificationTime":1,"dataChange":true,"partitionValues":{"cat":"a b"},"stats":""}}
         |{"add":{"path":"cat=50%25%20off/b.parquet","size":100,"modificationTime":1,"dataChange":true,"partitionValues":{"cat":"50% off"},"stats":""}}
         |""".stripMargin)
    Files.writeString(log.resolve("00000000000000000001.json"),
      s"""{"add":{"path":"cat=a%20b/a.parquet","size":100,"modificationTime":2,"dataChange":true,"partitionValues":{"cat":"a b"},"stats":"","deletionVector":{"storageType":"${desc.storageType}","pathOrInlineDv":"${desc.pathOrInlineDv}","offset":${desc.offset},"sizeInBytes":${desc.sizeInBytes},"cardinality":${desc.cardinality}}}}
         |{"remove":{"path":"cat=a%20b/a.parquet","deletionTimestamp":2,"dataChange":true}}
         |""".stripMargin)

    val src = new DeltaConversionSource(spark, table, "dv_part")
    val live = src.currentSnapshot().files.collect()
    // listing paths are decoded filesystem paths
    assert(live.map(_.path).forall(p => !p.contains("%2")))
    assert(live.find(_.path.endsWith("a.parquet")).get.path.contains("cat=a b/"))
    val got = src.toDataFrame.select("id", "cat").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val want = ((0L to 9L).filterNot(Set(1L, 3L)).map(_ -> "a b") ++
      (100L to 102L).map(_ -> "50% off")).sortBy(_._1)
    assert(got.toSeq == want)
  }

  test("catalog conversion source detects formats from layout") {
    val src = new graft.sources.ParquetDirectorySource(spark,
      sf("sf0.001/nation.parquet"), "nation")
    val deltaDir = tmpDir("cat_delta")
    TableFormatSync.syncSnapshot(
      Seq(new DeltaConversionTarget(spark, deltaDir)),
      src.currentSnapshot(), src.sourceFormat)
    assert(CatalogConversionSource.detectFormat(deltaDir) == "DELTA")
    assert(CatalogConversionSource.detectFormat(sf("sf0.001")) == "PARQUET")

    val resolved = CatalogConversionSource.fromPath(spark, deltaDir, "nation")
    assert(resolved.sourceFormat == "DELTA")
    assert(resolved.currentSnapshot().files.count() == 1)

    // via the session catalog
    val fq = graft.sync.CatalogSync.syncTable(spark, "cat_db",
      src.currentTable())
    val fromCat = CatalogConversionSource.fromCatalog(spark, fq)
    assert(fromCat.sourceFormat == "PARQUET")
    graft.sync.CatalogSync.dropTable(spark, fq)
  }

  test("deleteWhere writes DVs that union across commits") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val table = tmpDir("dv_delete_where")
    val src = new graft.sources.ParquetDirectorySource(spark,
      sf("sf0.001/nation.parquet"), "nation")
    TableFormatSync.syncSnapshot(
      Seq(new DeltaConversionTarget(spark, table)),
      src.currentSnapshot(), src.sourceFormat)
    val keys = spark.read.parquet(sf("sf0.001/nation.parquet"))
      .select("n_nationkey").as[Long].collect().toSeq

    val n1 = DeltaDeletes.deleteWhere(spark, table,
      col("n_nationkey") % 3 === 0)
    assert(n1 == keys.count(_ % 3 == 0).toLong)
    def readKeys() = new DeltaConversionSource(spark, table, "nation")
      .toDataFrame.select("n_nationkey").as[Long].collect().sorted.toSeq
    assert(readKeys() == keys.filter(_ % 3 != 0).sorted)

    // second DELETE: the file's new DV must hold the UNION of both
    val n2 = DeltaDeletes.deleteWhere(spark, table,
      col("n_nationkey") % 5 === 0)
    assert(n2 == keys.count(k => k % 5 == 0 && k % 3 != 0).toLong)
    assert(readKeys() == keys.filter(k => k % 3 != 0 && k % 5 != 0).sorted)

    // the 1:1 relation refuses while DVs are live — phantom-row guard
    intercept[graft.model.DeletionVectorsUnsupported](
      spark.read.format("graft").load(table).count())

    // no match → no commit
    val before = DeltaLog.listVersions(table,
      graft.util.HadoopConfs.session(spark))
    assert(DeltaDeletes.deleteWhere(spark, table, lit(false)) == 0L)
    assert(DeltaLog.listVersions(table,
      graft.util.HadoopConfs.session(spark)) == before)
  }

  test("updateWhere rewrites matching rows in one commit") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val table = tmpDir("dv_update_where")
    val src = new graft.sources.ParquetDirectorySource(spark,
      sf("sf0.001/nation.parquet"), "nation")
    TableFormatSync.syncSnapshot(
      Seq(new DeltaConversionTarget(spark, table)),
      src.currentSnapshot(), src.sourceFormat)
    val keys = spark.read.parquet(sf("sf0.001/nation.parquet"))
      .select("n_nationkey").as[Long].collect().toSeq

    val versionsBefore = DeltaLog.listVersions(table,
      graft.util.HadoopConfs.session(spark)).size
    val n = DeltaDeletes.updateWhere(spark, table,
      col("n_nationkey") % 4 === 0,
      Map("n_nationkey" -> (col("n_nationkey") + 1000)))
    assert(n == keys.count(_ % 4 == 0).toLong)
    // exactly ONE commit for mask + re-insert
    assert(DeltaLog.listVersions(table,
      graft.util.HadoopConfs.session(spark)).size == versionsBefore + 1)

    def readKeys() = new DeltaConversionSource(spark, table, "nation")
      .toDataFrame.select("n_nationkey").as[Long].collect().sorted.toSeq
    val want = keys.map(k => if (k % 4 == 0) k + 1000 else k).sorted
    assert(readKeys() == want)

    // a second update hits rows living in the UPDATE-written file
    val n2 = DeltaDeletes.updateWhere(spark, table,
      col("n_nationkey") >= 1000,
      Map("n_nationkey" -> (col("n_nationkey") - 1000)))
    assert(n2 == n)
    assert(readKeys() == keys.sorted)
  }

  test("mergeInto upserts in one commit and refuses ambiguous sources") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val table = tmpDir("dv_merge_into")
    val src = new graft.sources.ParquetDirectorySource(spark,
      sf("sf0.001/nation.parquet"), "nation")
    TableFormatSync.syncSnapshot(
      Seq(new DeltaConversionTarget(spark, table)),
      src.currentSnapshot(), src.sourceFormat)
    val nation = spark.read.parquet(sf("sf0.001/nation.parquet"))

    // source: updated values for keys %3==0, fresh keys +500 for %5==0
    val source = nation.filter(col("n_nationkey") % 3 === 0)
      .withColumn("n_regionkey", col("n_regionkey") + 100)
      .unionByName(nation.filter(col("n_nationkey") % 5 === 0)
        .withColumn("n_nationkey", col("n_nationkey") + 500))
    val versionsBefore = DeltaLog.listVersions(table,
      graft.util.HadoopConfs.session(spark)).size
    val (matched, inserted) = DeltaDeletes.mergeInto(spark, table, source,
      Seq("n_nationkey"))
    val keys = nation.select("n_nationkey").as[Long].collect().toSeq
    assert(matched == keys.count(_ % 3 == 0).toLong)
    assert(inserted == keys.count(_ % 5 == 0).toLong)
    assert(DeltaLog.listVersions(table,
      graft.util.HadoopConfs.session(spark)).size == versionsBefore + 1)

    val got = new DeltaConversionSource(spark, table, "nation")
      .toDataFrame.select("n_nationkey", "n_regionkey")
      .as[(Long, Long)].collect().toMap
    val regions = nation.select("n_nationkey", "n_regionkey")
      .as[(Long, Long)].collect().toMap
    assert(got.size == keys.size + keys.count(_ % 5 == 0))
    for ((k, r) <- regions)
      assert(got(k) == (if (k % 3 == 0) r + 100 else r), s"key $k")
    for (k <- keys if k % 5 == 0) assert(got(k + 500) == regions(k))

    // a second merge matches rows living in merge-written files (the
    // filtered source keeps the 9 original %3 keys PLUS inserted key 510)
    val (m2, i2) = DeltaDeletes.mergeInto(spark, table,
      source.filter(col("n_nationkey") % 3 === 0), Seq("n_nationkey"))
    val expectM2 = keys.count(_ % 3 == 0) +
      keys.count(k => k % 5 == 0 && (k + 500) % 3 == 0)
    assert(m2 == expectM2 && i2 == 0L)

    // ambiguous source (duplicate keys) is refused, same as delta-spark
    intercept[IllegalArgumentException] {
      DeltaDeletes.mergeInto(spark, table,
        source.unionByName(source), Seq("n_nationkey"))
    }
  }

  test("commit CAS fails loudly when a writer lands between plan and commit") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val table = tmpDir("dv_cas")
    val src = new graft.sources.ParquetDirectorySource(spark,
      sf("sf0.001/nation.parquet"), "nation")
    TableFormatSync.syncSnapshot(
      Seq(new DeltaConversionTarget(spark, table)),
      src.currentSnapshot(), src.sourceFormat)

    val plan = DeltaDeletes.planDelete(spark, table,
      col("n_nationkey") % 3 === 0).get
    // interfering writer commits the next version first
    assert(DeltaDeletes.deleteWhere(spark, table,
      col("n_nationkey") === 1) == 1L)
    // the stale plan must NOT clobber it — loud CAS failure
    intercept[IllegalStateException] {
      DeltaDeletes.commit(spark, table, plan, DeltaSnapshot.state(spark,
        table, DeltaLog.listVersions(table, graft.util.HadoopConfs
          .session(spark)).filter(_ <= plan.snap.commitId.toLong)),
        "DELETE", Iterator.empty)
    }
    // the interfering commit survives untouched
    val keys = new DeltaConversionSource(spark, table, "nation")
      .toDataFrame.select("n_nationkey").as[Long].collect().toSeq
    assert(!keys.contains(1L) && keys.contains(3L))
  }

  test("DV commits merge existing protocol features instead of replacing") {
    import org.apache.spark.sql.functions._
    val table = tmpDir("dv_protocol_merge")
    val src = new graft.sources.ParquetDirectorySource(spark,
      sf("sf0.001/nation.parquet"), "nation")
    TableFormatSync.syncSnapshot(
      Seq(new DeltaConversionTarget(spark, table)),
      src.currentSnapshot(), src.sourceFormat)
    val conf = graft.util.HadoopConfs.session(spark)

    // legacy (1,2) table: the upgrade must enumerate the implied features
    assert(DeltaDeletes.deleteWhere(spark, table,
      col("n_nationkey") === 0) == 1L)
    val p1 = DeltaSnapshot.protocolInfo(spark, table,
      DeltaLog.listVersions(table, conf)).get
    assert(p1.minReaderVersion == 3 && p1.minWriterVersion == 7)
    assert(p1.readerFeatures == Seq("deletionVectors"))
    assert(p1.writerFeatures ==
      Seq("appendOnly", "deletionVectors", "invariants"))

    // a later writer adds an unrelated (maintained) table feature; the
    // next DV commit must carry it forward, not drop it. An UNMAINTAINED
    // feature would instead refuse the write (requireWritable) — that
    // path is pinned in ErrorPathSpec.
    val v = DeltaLog.listVersions(table, conf).last + 1
    assert(DeltaLog.writeCommit(table, v, Iterator(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors","timestampNtz"],"writerFeatures":["appendOnly","deletionVectors","invariants","timestampNtz"]}}""")))
    assert(DeltaDeletes.deleteWhere(spark, table,
      col("n_nationkey") === 1) == 1L)
    val p2 = DeltaSnapshot.protocolInfo(spark, table,
      DeltaLog.listVersions(table, conf)).get
    assert(p2.readerFeatures.contains("timestampNtz") &&
      p2.readerFeatures.contains("deletionVectors"))
    assert(p2.writerFeatures.contains("timestampNtz") &&
      p2.writerFeatures.contains("invariants"))
  }

  test("updateWhere and mergeInto route rows on identity-partitioned tables") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val stage = tmpDir("dv_part_stage") + "/t"
    val table = tmpDir("dv_part_table")
    spark.read.parquet(sf("sf0.001/nation.parquet"))
      .write.partitionBy("n_regionkey").parquet(stage)
    val src = new graft.sources.ParquetDirectorySource(spark, stage, "nation")
    TableFormatSync.syncSnapshot(
      Seq(new DeltaConversionTarget(spark, table)),
      src.currentSnapshot(), src.sourceFormat)
    val nation = spark.read.parquet(sf("sf0.001/nation.parquet"))
    val keys = nation.select("n_nationkey").as[Long].collect().toSeq
    def dsrc() = new DeltaConversionSource(spark, table, "nation")
    val rtype = dsrc().currentTable().schema("n_regionkey").dataType

    // UPDATE moves every %3 row into a brand-new partition value 9
    val n = DeltaDeletes.updateWhere(spark, table,
      col("n_nationkey") % 3 === 0, Map("n_regionkey" -> lit(9).cast(rtype)))
    assert(n == keys.count(_ % 3 == 0).toLong)
    val got = dsrc().toDataFrame.select("n_nationkey", "n_regionkey")
      .as[(Long, Long)].collect().toMap
    val want = nation.select("n_nationkey", "n_regionkey")
      .as[(Long, Long)].collect().toMap
      .map { case (k, r) => k -> (if (k % 3 == 0) 9L else r) }
    assert(got == want)
    // the replacement files carry partition values in commit metadata
    assert(dsrc().currentSnapshot().files.collect()
      .flatMap(_.partitionValues)
      .exists(p => p.field == "n_regionkey" && p.value == "9"))

    // MERGE updates one key into partition 9 and inserts a fresh key there
    val source = nation.filter(col("n_nationkey") === 1)
      .withColumn("n_regionkey", lit(9).cast(rtype))
      .unionByName(nation.filter(col("n_nationkey") === 2)
        .withColumn("n_nationkey", col("n_nationkey") + 995)
        .withColumn("n_regionkey", lit(9).cast(rtype)))
    val (m, i) = DeltaDeletes.mergeInto(spark, table, source,
      Seq("n_nationkey"))
    assert(m == 1L && i == 1L)
    val after = dsrc().toDataFrame.select("n_nationkey", "n_regionkey")
      .as[(Long, Long)].collect().toMap
    assert(after(1L) == 9L && after(997L) == 9L)
    assert(after.size == want.size + 1)
  }

  test("updateWhere recomputes generated partitions on DAY-transformed tables") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val stage = tmpDir("dv_day_stage") + "/t"
    val table = tmpDir("dv_day_table")
    val events = graft.queries.Tables.normalizeTs(
        spark.read.parquet(sf("sf0.001/events.parquet")))
      .limit(200)
    events.withColumn("ts_day", date_format(col("ts"), "yyyy-MM-dd"))
      .repartition(col("ts_day"))
      .write.partitionBy("ts_day").parquet(stage)
    val spec = graft.model.PartitionSpecDSL.parse("ts:DAY:yyyy-MM-dd")
    val src = new graft.sources.ParquetDirectorySource(
      spark, stage, "events_by_day", spec)
    TableFormatSync.syncSnapshot(
      Seq(new DeltaConversionTarget(spark, table)),
      src.currentSnapshot(), src.sourceFormat)
    def dsrc() = new DeltaConversionSource(spark, table, "events_by_day")
    val schema = dsrc().currentTable().schema
    val before = dsrc().toDataFrame.count()

    // UPDATE moves matching rows one day forward: the DAY-generated
    // partition value must be recomputed from the shifted ts, so the
    // replacement files land in (and register under) the NEW day
    val n = DeltaDeletes.updateWhere(spark, table,
      dayofmonth(col("ts")) === 1,
      Map("ts" -> (col("ts") + expr("INTERVAL 1 DAY"))))
    assert(n > 0, "fixture needs at least one day-1 event")
    val got = dsrc().toDataFrame
    assert(got.count() == before)
    assert(got.filter(dayofmonth(col("ts")) === 1).count() == 0)
    // commit metadata: some replacement file registered under day 02
    val days = dsrc().currentSnapshot().files.collect()
      .flatMap(_.partitionValues).filter(_.field == "ts_day").map(_.value)
    assert(days.exists(_.endsWith("-02")), days.distinct.mkString(","))

    // partition pruning still serves the moved rows under their new day
    val moved = got.filter(col("ts_day").endsWith("-02")).count()
    assert(moved >= n, s"moved rows must be visible under day 02 ($moved < $n)")
    assert(schema.fieldNames.contains("ts"))
  }
}

package graft

import java.nio.file.{Files, Paths}

import graft.formats.delta._
import graft.model._
import graft.sources.ParquetDirectorySource
import graft.spi.SyncMetadata
import graft.sync.ConversionController

// delta-spark's checkpoint column layout, with the EXTRA fields a real
// writer emits (tags, DV maxRowIndex, nullable offset) that graft's
// reader must skip — used by the real-writer-shaped checkpoint test
case class RealCkptDv(storageType: String, pathOrInlineDv: String,
    offset: java.lang.Integer, sizeInBytes: Int, cardinality: Long,
    maxRowIndex: java.lang.Long)
case class RealCkptAdd(path: String, partitionValues: Map[String, String],
    size: Long, modificationTime: Long, dataChange: Boolean, stats: String,
    tags: Map[String, String], deletionVector: Option[RealCkptDv])
case class RealCkptFormat(provider: String, options: Map[String, String])
case class RealCkptMeta(id: String, name: String, format: RealCkptFormat,
    schemaString: String, partitionColumns: Seq[String],
    configuration: Map[String, String], createdTime: java.lang.Long)
case class RealCkptProtocol(minReaderVersion: Int, minWriterVersion: Int,
    readerFeatures: Seq[String], writerFeatures: Seq[String])
case class RealCkptRow(add: Option[RealCkptAdd],
    metaData: Option[RealCkptMeta], protocol: Option[RealCkptProtocol])

// V2-checkpoint shapes (PROTOCOL.md §V2 Checkpoint Table Feature): the
// main UUID-named file carries protocol/metaData/checkpointMetadata and
// `sidecar` pointers; the add actions live in sidecar parquet files
case class V2Sidecar(path: String, sizeInBytes: Long,
    modificationTime: Long)
case class V2CkptMeta(version: Long, tags: Map[String, String])
case class V2MainRow(protocol: Option[RealCkptProtocol],
    metaData: Option[RealCkptMeta], sidecar: Option[V2Sidecar],
    checkpointMetadata: Option[V2CkptMeta])
case class V2SideRow(add: Option[RealCkptAdd])

class CheckpointAndScaleSpec extends SparkSuite {

  test("checkpoint written at interval and replay works without old commits") {
    val dataDir = tmpDir("ckpt_data")
    val target = tmpDir("ckpt_delta")
    val srcFile = Paths.get(sf("sf0.001/region.parquet"))
    val controller = new ConversionController
    def src = new ParquetDirectorySource(spark, dataDir, "region")

    // 12 commits → checkpoint at version 10
    for (i <- 1 to 12) {
      Files.copy(srcFile, Paths.get(dataDir, s"f$i.parquet"))
      Paths.get(dataDir, s"f$i.parquet").toFile.setLastModified(i * 1000000L)
      val r = controller.sync(src,
        Seq(new DeltaConversionTarget(spark, target)))
      assert(r.forall(_.status == "SUCCESS"), s"commit $i: ${r.mkString(";")}")
    }
    assert(Files.exists(Paths.get(DeltaLog.checkpointFile(target, 10))))
    assert(new DeltaConversionSource(spark, target, "region")
      .currentSnapshot().files.count() == 12)

    // log cleanup (Delta logRetention maintenance): the pre-checkpoint
    // JSON prefix is deleted through the API — replay must come from the
    // checkpoint + tail
    val removed = DeltaLog.cleanupLogBeforeCheckpoint(target,
      new org.apache.hadoop.conf.Configuration())
    assert(removed == 10, s"removed $removed")
    val live = new DeltaConversionSource(spark, target, "region")
      .currentSnapshot().files.collect()
    assert(live.length == 12, s"got ${live.length}")
    // stats survived the checkpoint round trip
    assert(live.forall(_.columnStats.nonEmpty))
    assert(live.forall(_.recordCount > 0))
  }

  test("checkpoints are spec-shaped: nested actions, hint size, metaData fallback") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.StructType
    import spark.implicits._
    val dataDir = tmpDir("spec_ckpt_data")
    val target = tmpDir("spec_ckpt_delta")
    val srcFile = Paths.get(sf("sf0.001/region.parquet"))
    val controller = new ConversionController
    def src = new ParquetDirectorySource(spark, dataDir, "region")
    for (i <- 1 to 12) {
      Files.copy(srcFile, Paths.get(dataDir, s"f$i.parquet"))
      Paths.get(dataDir, s"f$i.parquet").toFile.setLastModified(i * 1000000L)
      val r = controller.sync(src,
        Seq(new DeltaConversionTarget(spark, target)))
      assert(r.forall(_.status == "SUCCESS"), s"commit $i")
    }
    // PROTOCOL.md §Checkpoints: one action per row under nullable structs
    // — the layout a real Delta reader loads from _last_checkpoint
    val df = spark.read.parquet(DeltaLog.checkpointFile(target, 10))
    assert(Set("add", "metaData", "protocol").subsetOf(df.columns.toSet))
    val addSchema = df.schema("add").dataType.asInstanceOf[StructType]
    for (f <- Seq("path", "partitionValues", "size", "modificationTime",
        "dataChange", "stats", "deletionVector"))
      assert(addSchema.fieldNames.contains(f), f)
    assert(df.filter(col("metaData").isNotNull).count() == 1)
    assert(df.filter(col("protocol").isNotNull).count() == 1)
    val adds = df.filter(col("add").isNotNull)
    assert(adds.count() == 11)      // live set at version 10
    // spec: action paths are URL-encoded URIs (absolute here — zero-copy
    // sync keeps data outside the table dir) that resolve to the live
    // set; checkpoint actions carry dataChange=false
    val paths = adds.select("add.path").as[String].collect()
    val livePaths = new DeltaConversionSource(spark, target, "region")
      .currentSnapshot().files.collect().map(_.path).toSet
    assert(paths.map(p => graft.util.PathUtils.resolve(target,
      graft.util.PathUtils.fromDeltaUri(p))).forall(livePaths.contains))
    assert(adds.select("add.dataChange").as[Boolean].collect().forall(!_))
    // _last_checkpoint: version + required action-count size
    val hint = graft.util.Jsons.mapper.readTree(Files.readAllBytes(
      Paths.get(s"$target/_delta_log/_last_checkpoint")))
    assert(hint.get("version").asLong == 10)
    assert(hint.get("size").asLong == df.count())

    // real-writer shape: the JSON tail after cleanup carries NO metaData
    // (delta-spark writes it only at creation/changes) — the table's
    // schema must resolve from the checkpoint's metaData row
    assert(DeltaLog.cleanupLogBeforeCheckpoint(target,
      new org.apache.hadoop.conf.Configuration()) == 10)
    for (v <- Seq(10L, 11L)) {
      val p = Paths.get(DeltaLog.versionFile(target, v))
      import scala.jdk.CollectionConverters._
      val kept = Files.readAllLines(p).asScala
        .filterNot(_.contains("\"metaData\""))
      Files.write(p, kept.mkString("\n").getBytes("UTF-8"))
    }
    val back = new DeltaConversionSource(spark, target, "region")
    assert(back.currentTable().schema.fieldNames.contains("r_regionkey"))
    assert(back.currentSnapshot().files.count() == 12)
  }

  test("reads a delta-spark-shaped checkpoint (extra columns, inline DV)") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val table = tmpDir("real_ckpt")
    // three single-row-group files with known in-file row order
    def mkFile(name: String, from: Long, until: Long): Unit = {
      val stage = s"${tmpDir(s"real_ckpt_stage_$name")}/out"
      spark.range(from, until).toDF("id").coalesce(1)
        .sortWithinPartitions("id").write.parquet(stage)
      val f = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(f.toPath, Paths.get(table, name))
    }
    mkFile("a.parquet", 0L, 10L)        // gets an inline DV over pos 1,3
    mkFile("b.parquet", 100L, 105L)     // plain, from the checkpoint
    mkFile("c.parquet", 200L, 202L)     // from the JSON tail
    val dv = graft.formats.delta.DeletionVectors
      .inlineDescriptor(Seq(1L, 3L))
    val schemaStr = new org.apache.spark.sql.types.StructType()
      .add("id", org.apache.spark.sql.types.LongType).json

    // checkpoint v0 in the REAL writer's layout: metaData lives ONLY here
    // (delta-spark writes it to JSON only at creation), protocol carries
    // table features, adds carry tags and a DV with extra fields
    val rows = Seq(
      RealCkptRow(Some(RealCkptAdd("a.parquet", Map.empty, 100L, 1L,
        dataChange = false, """{"numRecords":10}""", Map("w" -> "1"),
        Some(RealCkptDv(dv.storageType, dv.pathOrInlineDv, null,
          dv.sizeInBytes, dv.cardinality, 3L)))), None, None),
      RealCkptRow(Some(RealCkptAdd("b.parquet", Map.empty, 100L, 1L,
        dataChange = false, """{"numRecords":5}""", Map.empty, None)),
        None, None),
      RealCkptRow(None, Some(RealCkptMeta("tbl-uuid", "t",
        RealCkptFormat("parquet", Map.empty), schemaStr, Nil, Map.empty,
        5L)), None),
      RealCkptRow(None, None, Some(RealCkptProtocol(3, 7,
        Seq("deletionVectors"), Seq("deletionVectors")))))
    val stage = s"${tmpDir("real_ckpt_parquet")}/out"
    spark.createDataset(rows).coalesce(1).write.mode("overwrite")
      .parquet(stage)
    val log = Paths.get(table, "_delta_log")
    Files.createDirectories(log)
    val part = new java.io.File(stage).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    Files.move(part.toPath,
      Paths.get(DeltaLog.checkpointFile(table, 0L)))
    Files.writeString(log.resolve("_last_checkpoint"),
      """{"version":0,"size":4}""")
    // JSON tail: v1 adds c.parquet — no metaData, like a real log
    Files.writeString(log.resolve("00000000000000000001.json"),
      """{"add":{"path":"c.parquet","size":100,"modificationTime":2,"dataChange":true,"partitionValues":{},"stats":"{\"numRecords\":2}"}}""" + "\n")

    val src = new DeltaConversionSource(spark, table, "real_ckpt")
    // schema resolved from the checkpoint's metaData row
    assert(src.currentTable().schema.fieldNames.toSeq == Seq("id"))
    val live = src.currentSnapshot().files.collect()
    assert(live.length == 3, live.map(_.path).mkString(","))
    assert(live.find(_.path.endsWith("a.parquet")).get.deletionVector
      .contains(dv))
    // masked read: a minus deleted positions, plus b, plus the JSON add
    val got = src.toDataFrame.select("id").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == ((0L to 9L).filterNot(Set(1L, 3L)) ++
      (100L to 104L) ++ (200L to 201L)).sorted)
  }

  test("multi-part checkpoints list and replay as one checkpoint") {
    // write a table, checkpoint it, then split the checkpoint into the
    // protocol's multi-part naming — listing must treat the parts as one
    // complete checkpoint and replay must union them
    val dataDir = tmpDir("mp_data")
    val target = tmpDir("mp_delta")
    Files.copy(Paths.get(sf("sf0.001/supplier.parquet")),
      Paths.get(dataDir, "f1.parquet"))
    val src = new ParquetDirectorySource(spark, dataDir, "supplier")
    val r = graft.sync.TableFormatSync.syncSnapshot(
      Seq(new DeltaConversionTarget(spark, target)),
      src.currentSnapshot(), src.sourceFormat)
    assert(r.forall(_.status == "SUCCESS"))
    DeltaSnapshot.writeCheckpoint(spark, target, 0L,
      src.currentTable().schema)
    val single = Paths.get(DeltaLog.checkpointFile(target, 0L))
    assert(Files.exists(single))

    // split: copy the single checkpoint into two identical halves under
    // part naming (content split does not matter for the listing logic)
    val conf = new org.apache.hadoop.conf.Configuration()
    Files.copy(single, Paths.get(
      DeltaLog.checkpointPartFile(target, 0L, 1, 2)))
    // incomplete multi-part (1 of 2): must NOT be treated as complete;
    // the single-file checkpoint still wins
    assert(DeltaLog.latestCheckpoint(target, 0L, conf)
      .map(_.files.size).contains(1))
    Files.copy(single, Paths.get(
      DeltaLog.checkpointPartFile(target, 0L, 2, 2)))
    Files.delete(single)
    // now only the complete 2-part checkpoint remains
    val cp = DeltaLog.latestCheckpoint(target, 0L, conf)
    assert(cp.map(_.version).contains(0L))
    val parts = cp.get.files
    assert(parts.size == 2, parts.toString)
    // replay through the parts (each holds the full set here, so the
    // de-duplicating replay must still see every path)
    val live = new DeltaConversionSource(spark, target, "supplier")
      .currentSnapshot().files.collect()
    assert(live.length == 1 && live.forall(_.recordCount > 0))
  }

  test("LoadTest-shaped scale: 100k synthetic file actions through delta sync") {
    // mirrors the reference's load test (LoadTest.java:68-95: 1000
    // partitions x 100 files) — metadata-plane only, no physical files
    import spark.implicits._
    val target = tmpDir("scale_delta")
    val n = 100000
    val schema = spark.read.parquet(sf("sf0.001/region.parquet")).schema
    val files = spark.range(n).map { i =>
      val part = i % 1000
      FileEntry(s"/data/p=$part/f$i.parquet", 1000L + i, 100L, "parquet",
        Seq(PartitionMember("p", part.toString)),
        Seq(FileColumnStat("r_regionkey", Some((i % 5).toString),
          Some(((i % 5) + 1).toString), 0L, 100L, 64L)),
        1000000L)
    }
    val tgt = new DeltaConversionTarget(spark, target)
    val t0 = System.nanoTime()
    tgt.beginSync(TableDescriptor("scale", TableFormats.Delta, target,
      schema, Seq(PartitionFieldSpec("p", Transform.Value)),
      Layout.HivePartitioned, 0L))
    tgt.syncMetadata(SyncMetadata("1", Nil, TableFormats.Parquet, target))
    tgt.syncSchema(schema)
    tgt.syncPartitionSpec(Seq(PartitionFieldSpec("p", Transform.Value)))
    tgt.syncFilesForSnapshot(files.toDF().as[FileEntry])
    tgt.completeSync()
    val fullSyncSec = (System.nanoTime() - t0) / 1e9

    val back = new DeltaConversionSource(spark, target, "scale")
    assert(back.currentSnapshot().files.count() == n)

    // incremental commit touching 1000 files
    val t1 = System.nanoTime()
    val adds = spark.range(n, n + 1000).map { i =>
      FileEntry(s"/data/p=${i % 1000}/f$i.parquet", 1000L, 100L, "parquet",
        Seq(PartitionMember("p", (i % 1000).toString)), Nil, 2000000L)
    }
    val tgt2 = new DeltaConversionTarget(spark, target)
    tgt2.beginSync(back.currentTable())
    tgt2.syncMetadata(SyncMetadata("2", Nil, TableFormats.Parquet, target))
    tgt2.syncSchema(schema)
    tgt2.syncPartitionSpec(Seq(PartitionFieldSpec("p", Transform.Value)))
    tgt2.syncFilesForDiff(FilesDelta(adds.toDF().as[FileEntry],
      spark.emptyDataset[FileEntry]))
    tgt2.completeSync()
    val incSyncSec = (System.nanoTime() - t1) / 1e9

    assert(new DeltaConversionSource(spark, target, "scale")
      .currentSnapshot().files.count() == n + 1000)
    info(f"full sync of $n files: $fullSyncSec%.1fs, " +
      f"incremental 1000-file commit: $incSyncSec%.1fs")
    assert(fullSyncSec < 120, s"full sync too slow: $fullSyncSec")
    assert(incSyncSec < 60, s"incremental too slow: $incSyncSec")

    // the converted-table read path at 100k files: partition pruning and
    // stats skipping run against the distributed listing, so a
    // one-partition query plans with 0.1% of the files and the driver
    // never materializes the rest
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.{LongType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    val index = new graft.plans.SnapshotFileIndex(spark,
      new DeltaConversionSource(spark, target, "scale").currentSnapshot())
    val t2 = System.nanoTime()
    val p7 = AttributeReference("p", StringType)()
    val oneDir = index.listFiles(
      Seq(EqualTo(p7, Literal(UTF8String.fromString("7"), StringType))), Nil)
    val planSec = (System.nanoTime() - t2) / 1e9
    assert(oneDir.map(_.files.size).sum == 101,   // 100 full + 1 incremental
      oneDir.map(_.files.size).sum.toString)
    info(f"partition-pruned listFiles over ${n + 1000} files: $planSec%.1fs")
    assert(planSec < 30, s"pruned planning too slow: $planSec")
    // stats skipping composes: r_regionkey bounds [i%5,(i%5)+1] exclude >5
    val k = AttributeReference("r_regionkey", LongType)()
    val skipped = index.listFiles(
      Seq(EqualTo(p7, Literal(UTF8String.fromString("7"), StringType))),
      Seq(GreaterThan(k, Literal(100L, LongType))))
    // the 1 incremental file has no stats (kept); all 100 full-sync files
    // prove excludable
    assert(skipped.map(_.files.size).sum == 1,
      skipped.map(_.files.size).sum.toString)
  }

  test("LoadTest-shaped scale through the iceberg target (50k files)") {
    import spark.implicits._
    val target = tmpDir("scale_ice")
    val n = 50000
    val schema = spark.read.parquet(sf("sf0.001/region.parquet")).schema
    val files = spark.range(n).map { i =>
      FileEntry(s"/data/p=${i % 1000}/f$i.parquet", 1000L + i, 100L, "parquet",
        Seq(PartitionMember("p", (i % 1000).toString)),
        Seq(FileColumnStat("r_regionkey", Some((i % 5).toString),
          Some(((i % 5) + 1).toString), 0L, 100L, 64L)),
        1000000L)
    }
    val tgt = new graft.formats.iceberg.IcebergConversionTarget(spark, target)
    val t0 = System.nanoTime()
    tgt.beginSync(TableDescriptor("scale", TableFormats.Iceberg, target,
      schema, Seq(PartitionFieldSpec("p", Transform.Value)),
      Layout.HivePartitioned, 0L))
    tgt.syncMetadata(SyncMetadata("1", Nil, TableFormats.Parquet, target))
    tgt.syncSchema(schema)
    tgt.syncPartitionSpec(Seq(PartitionFieldSpec("p", Transform.Value)))
    tgt.syncFilesForSnapshot(files.toDF().as[FileEntry])
    tgt.completeSync()
    val sec = (System.nanoTime() - t0) / 1e9
    val back = new graft.formats.iceberg.IcebergConversionSource(
      spark, target, "scale")
    assert(back.currentSnapshot().files.count() == n)
    // bounds survive the avro round trip at scale
    val one = back.currentSnapshot().files.filter(_.path.endsWith("/f7.parquet"))
      .head().columnStats.head
    assert(one.min.contains("2") && one.max.contains("3"))
    info(f"iceberg full sync of $n files: $sec%.1fs")
    assert(sec < 120, s"iceberg sync too slow: $sec")
  }

  test("v2 checkpoint (UUID name + sidecar files) replays after log " +
    "cleanup") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val t = tmpDir("ckpt_v2")
    // v0: two files, v1: one more — then v0's JSON is cleaned and the
    // live set must come from the v2 checkpoint's SIDECARS + the v1 tail
    graft.formats.delta.DeltaWrite.write(spark, t,
      (0L until 10L).map(i => (i, s"a$i")).toDF("id", "name")
        .repartition(2), overwrite = false)
    graft.formats.delta.DeltaWrite.write(spark, t,
      (10L until 15L).map(i => (i, s"a$i")).toDF("id", "name")
        .coalesce(1), overwrite = false)

    // the v0 live set, as a real writer would checkpoint it at version 0
    val v0Adds = DeltaSnapshot.actions(spark, t, Seq(0L))
      .filter(col("kind") === "add").collect()
    assert(v0Adds.length == 2)
    val schemaJson = new DeltaConversionSource(spark, t, "t")
      .currentTable().schemaJson

    def writeAs(df: org.apache.spark.sql.DataFrame, dest: String): Long = {
      val stage = tmpDir("ckpt_v2_stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.createDirectories(Paths.get(dest).getParent)
      Files.move(part.toPath, Paths.get(dest))
      Files.size(Paths.get(dest))
    }

    // two sidecars, one add each (paths RELATIVE to the table root, the
    // shape real delta-spark sidecars carry)
    val sidecarNames = v0Adds.zipWithIndex.map { case (r, i) =>
      val rel = r.path.stripPrefix(t).stripPrefix("/")
      val add = RealCkptAdd(rel, Map.empty,
        r.size, r.modificationTime,
        dataChange = true, stats = null, tags = null, deletionVector = None)
      val name = s"sc-$i-${java.util.UUID.randomUUID()}.parquet"
      writeAs(Seq(V2SideRow(Some(add))).toDF(),
        s"${DeltaLog.logPath(t)}/_sidecars/$name")
      name
    }

    val mainRows =
      Seq(V2MainRow(Some(RealCkptProtocol(1, 2, null, null)), None, None,
          Some(V2CkptMeta(0L, null))),
        V2MainRow(None, Some(RealCkptMeta("v2-test", null,
          RealCkptFormat("parquet", Map.empty), schemaJson, Nil,
          Map.empty, 1L)), None, None)) ++
      sidecarNames.map { n =>
        val p = Paths.get(s"${DeltaLog.logPath(t)}/_sidecars/$n")
        V2MainRow(None, None,
          Some(V2Sidecar(n, Files.size(p), 1000L)), None)
      }
    writeAs(mainRows.toDF(), s"${DeltaLog.logPath(t)}/" +
      f"${0L}%020d.checkpoint.${java.util.UUID.randomUUID()}.parquet")

    // log cleanup: v0 JSON gone — only the v2 checkpoint can serve it
    Files.delete(Paths.get(DeltaLog.versionFile(t, 0L)))

    val df = new DeltaConversionSource(spark, t, "t").toDataFrame
    assert(df.count() == 15, s"v2 replay lost rows: ${df.count()}")
    assert(df.agg(org.apache.spark.sql.functions.sum("id")).head.getLong(0)
      == (0L until 15L).sum)
    // schema and protocol must come from the v2 main file
    val meta = DeltaSnapshot.metadata(spark, t,
      DeltaLog.listVersions(t, graft.util.HadoopConfs.session(spark)))
    assert(meta.exists(_.schemaString == schemaJson))
  }

  test("v2 checkpoint WRITE: spec-shaped main + sidecars, policy-routed, " +
    "replays after cleanup") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val t = tmpDir("ckpt_v2_write")
    val conf = graft.util.HadoopConfs.session(spark)
    graft.formats.delta.DeltaWrite.write(spark, t,
      (0L until 12L).map(i => (i, s"n$i")).toDF("id", "name")
        .repartition(3), overwrite = false)
    graft.formats.delta.DeltaWrite.write(spark, t,
      (12L until 20L).map(i => (i, s"n$i")).toDF("id", "name")
        .coalesce(1), overwrite = false)
    val schema = new DeltaConversionSource(spark, t, "t")
      .currentTable().schema

    DeltaSnapshot.writeCheckpointV2(spark, t, 1L, schema)

    // shape parity with delta-spark's v2 dialect: UUID-named main file,
    // sidecar parquet under _delta_log/_sidecars, checkpointMetadata
    // action pinning the version, sidecar actions carrying
    // path/sizeInBytes/modificationTime
    val logFiles = new java.io.File(s"$t/_delta_log").listFiles()
      .map(_.getName)
    val mainName = logFiles.find(n =>
      n.matches("0{19}1\\.checkpoint\\.[0-9a-f-]{36}\\.parquet"))
    assert(mainName.isDefined, logFiles.toSeq.sorted.mkString(","))
    assert(!logFiles.exists(_ == f"${1L}%020d.checkpoint.parquet"),
      "classic checkpoint must not also be written")
    val sidecarFiles = new java.io.File(s"$t/_delta_log/_sidecars")
      .listFiles().map(_.getName).filter(_.endsWith(".parquet"))
    assert(sidecarFiles.nonEmpty)
    val main = spark.read.parquet(s"$t/_delta_log/${mainName.get}")
    assert(Seq("checkpointMetadata", "sidecar", "metaData", "protocol")
      .forall(main.columns.contains), main.columns.toSeq)
    assert(main.filter(col("checkpointMetadata").isNotNull)
      .select("checkpointMetadata.version").as[Long].head() == 1L)
    val scRows = main.filter(col("sidecar").isNotNull)
      .select("sidecar.path", "sidecar.sizeInBytes",
        "sidecar.modificationTime").collect()
    assert(scRows.map(_.getString(0)).toSet == sidecarFiles.toSet)
    assert(scRows.forall(_.getLong(1) > 0L))
    // main file itself carries NO adds — they are all in sidecars
    assert(!main.columns.contains("add"))

    // the engine's own read path replays it after cleanup of v0's JSON
    Files.delete(Paths.get(DeltaLog.versionFile(t, 0L)))
    val df = new DeltaConversionSource(spark, t, "t").toDataFrame
    assert(df.count() == 20)
    assert(df.agg(org.apache.spark.sql.functions.sum("id")).head.getLong(0)
      == (0L until 20L).sum)

    // policy routing: a table carrying delta.checkpointPolicy=v2 gets the
    // v2 shape from the GENERIC writeCheckpoint entry point
    val t2 = tmpDir("ckpt_v2_policy")
    graft.formats.delta.DeltaWrite.write(spark, t2,
      (0L until 5L).map(i => (i, s"p$i")).toDF("id", "name").coalesce(1),
      overwrite = false)
    val m0 = DeltaSnapshot.metadata(spark, t2,
      DeltaLog.listVersions(t2, conf)).get
    val mJson = graft.util.Jsons.toJson(Map("metaData" -> Map(
      "id" -> m0.id, "format" -> Map("provider" -> "parquet",
        "options" -> Map.empty),
      "schemaString" -> m0.schemaString,
      "partitionColumns" -> m0.partitionColumns,
      "configuration" -> Map("delta.checkpointPolicy" -> "v2"),
      "createdTime" -> m0.createdTime)))
    assert(DeltaLog.writeCommit(t2, 1L, Iterator(mJson)))
    DeltaSnapshot.writeCheckpoint(spark, t2, 1L, m0.schema)
    val names2 = new java.io.File(s"$t2/_delta_log").listFiles().map(_.getName)
    assert(names2.exists(_.matches(
      "0{19}1\\.checkpoint\\.[0-9a-f-]{36}\\.parquet")), names2.toSeq)
    assert(!names2.contains(f"${1L}%020d.checkpoint.parquet"))
    val back = new DeltaConversionSource(spark, t2, "t2").toDataFrame
    assert(back.count() == 5)
  }
}

package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._

import graft.formats.delta._
import graft.formats.iceberg._
import graft.model._
import graft.sources.ParquetDirectorySource
import graft.spi.SyncMode
import graft.sync.{ConversionController, TableFormatSync}

class IcebergSyncSpec extends SparkSuite {

  private def fullSync(src: graft.spi.ConversionSource,
      tgt: graft.spi.ConversionTarget): Unit = {
    val outcomes = TableFormatSync.syncSnapshot(
      Seq(tgt), src.currentSnapshot(), src.sourceFormat)
    assert(outcomes.forall(_.status == "SUCCESS"), outcomes.mkString(";"))
  }

  test("parquet -> iceberg full sync round-trips rows and stats") {
    val target = tmpDir("ice_li")
    fullSync(new ParquetDirectorySource(spark, sf("sf0.001/lineitem.parquet"),
      "lineitem"), new IcebergConversionTarget(spark, target))
    val back = new IcebergConversionSource(spark, target, "lineitem")
    val snap = back.currentSnapshot()
    val direct = spark.read.parquet(sf("sf0.001/lineitem.parquet"))
    assert(back.toDataFrame.count() == direct.count())
    // bounds round-trip through Iceberg binary single-value format
    val stats = snap.files.collect().flatMap(_.columnStats)
      .filter(_.field == "l_quantity")
    val expMin = direct.agg(min("l_quantity")).head.getDouble(0)
    assert(stats.flatMap(_.min).map(_.toDouble).min == expMin)

    // name mapping: graft data files carry no Iceberg field ids, so the
    // metadata must publish schema.name-mapping.default matching the
    // schema's id assignment (Iceberg spec §Name Mapping Serialization)
    val meta = IcebergMetadata.read(target,
      IcebergMetadata.currentVersion(target).get)
    val nm = meta.properties.get("schema.name-mapping.default")
    assert(nm.isDefined, "schema.name-mapping.default missing on create")
    val tree = graft.util.Jsons.mapper.readTree(nm.get)
    import scala.jdk.CollectionConverters._
    val mapped = tree.elements().asScala.map(e =>
      e.get("names").get(0).asText -> e.get("field-id").asInt).toMap
    val expected = meta.schema.fields.map(f =>
      f.name -> IcebergSchemas.fieldId(f)).toMap
    assert(mapped == expected, s"name mapping $mapped != schema $expected")
  }

  test("name mapping covers nested structs, lists and maps") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("tags", ArrayType(StringType)),
      StructField("attrs", MapType(StringType, ArrayType(LongType))),
      StructField("loc", StructType(Seq(
        StructField("lat", DoubleType), StructField("lon", DoubleType))))))
    val assigned = IcebergSchemas.assignFieldIds(schema)
    val ids = IcebergSchemas.allFieldIds(assigned)
    val tree = graft.util.Jsons.mapper.readTree(
      IcebergSchemas.nameMappingJson(assigned))
    import scala.jdk.CollectionConverters._
    def find(n: com.fasterxml.jackson.databind.JsonNode, name: String) =
      n.elements().asScala.find(_.get("names").get(0).asText == name).get
    assert(find(tree, "id").get("field-id").asInt == ids("id"))
    val tags = find(tree, "tags")
    assert(find(tags.get("fields"), "element").get("field-id").asInt ==
      ids("tags.element"))
    val attrs = find(tree, "attrs")
    assert(find(attrs.get("fields"), "key").get("field-id").asInt ==
      ids("attrs.key"))
    val attrsValue = find(attrs.get("fields"), "value")
    assert(attrsValue.get("field-id").asInt == ids("attrs.value"))
    assert(find(attrsValue.get("fields"), "element").get("field-id").asInt ==
      ids("attrs.value.element"))
    val loc = find(tree, "loc")
    assert(find(loc.get("fields"), "lat").get("field-id").asInt ==
      ids("loc.lat"))
  }

  test("corrupt commit (sync never completed) is rolled back on next sync") {
    val dataDir = tmpDir("ice_rb_data")
    val target = tmpDir("ice_rb")
    Files.copy(Paths.get(sf("sf0.001/region.parquet")),
      Paths.get(dataDir, "f1.parquet"))
    val src = new ParquetDirectorySource(spark, dataDir, "region")
    fullSync(src, new IcebergConversionTarget(spark, target))
    val v1 = IcebergMetadata.currentVersion(target).get
    val m1 = IcebergMetadata.read(target, v1)
    val goodSnap = m1.currentSnapshot.get

    // simulate a crashed sync: a new metadata version whose snapshot claims
    // a FUTURE source commit, but whose sync bookkeeping (properties) was
    // never updated — the state a crash between commit and bookkeeping
    // leaves behind
    val orphan = IcebergSnapshot(goodSnap.snapshotId + 1,
      goodSnap.sequenceNumber + 1, System.currentTimeMillis(),
      goodSnap.manifestList, Some("99999999999999"))
    assert(IcebergMetadata.write(target, v1 + 1, m1.copy(
      snapshots = m1.snapshots :+ orphan,
      currentSnapshotId = orphan.snapshotId,
      lastSequenceNumber = orphan.sequenceNumber)))

    // next sync must roll the orphan back before applying its own commit
    fullSync(src, new IcebergConversionTarget(spark, target))
    val mFinal = IcebergMetadata.read(target,
      IcebergMetadata.currentVersion(target).get)
    assert(!mFinal.snapshots.exists(
      _.sourceIdentifier.contains("99999999999999")),
      mFinal.snapshots.toString)
    // table still reads the correct rows
    val back = new IcebergConversionSource(spark, target, "region")
    assert(back.toDataFrame.count() ==
      spark.read.parquet(sf("sf0.001/region.parquet")).count())
  }

  test("snapshot expiration forces fallback-to-full past the horizon") {
    val dataDir = tmpDir("ice_exp_data")
    val iceDir = tmpDir("ice_exp")
    val deltaDir = tmpDir("ice_exp_delta")
    val srcFile = Paths.get(sf("sf0.001/region.parquet"))
    val controller = new ConversionController
    def parquetSrc = new ParquetDirectorySource(spark, dataDir, "region")
    def iceSrc = new IcebergConversionSource(spark, iceDir, "region")

    // three commits into iceberg; sync the FIRST into delta
    Files.copy(srcFile, Paths.get(dataDir, "f1.parquet"))
    Paths.get(dataDir, "f1.parquet").toFile.setLastModified(1000000L)
    assert(controller.sync(parquetSrc,
      Seq(new IcebergConversionTarget(spark, iceDir)))
      .forall(_.status == "SUCCESS"))
    assert(controller.sync(iceSrc,
      Seq(new DeltaConversionTarget(spark, deltaDir)))
      .forall(_.status == "SUCCESS"))
    for (i <- 2 to 3) {
      Files.copy(srcFile, Paths.get(dataDir, s"f$i.parquet"))
      Paths.get(dataDir, s"f$i.parquet").toFile.setLastModified(i * 1000000L)
      assert(controller.sync(parquetSrc,
        Seq(new IcebergConversionTarget(spark, iceDir)))
        .forall(_.status == "SUCCESS"))
    }

    val expired = IcebergMaintenance.expireSnapshots(iceDir, retainLast = 1)
    assert(expired.size == 2, expired.toString)
    // the current snapshot still reads everything…
    assert(iceSrc.currentSnapshot().files.count() == 3)
    // …but per-commit replay from the delta sync point is impossible now
    assert(!iceSrc.isIncrementalSyncSafeFrom("1"))
    val r = controller.sync(iceSrc,
      Seq(new DeltaConversionTarget(spark, deltaDir)))
    assert(r.head.status == "SUCCESS" && r.head.mode == SyncMode.Full,
      r.mkString(";"))
    assert(new DeltaConversionSource(spark, deltaDir, "region")
      .currentSnapshot().files.count() == 3)
  }

  test("orphan-file removal sweeps expired manifests, keeps live reads") {
    val dataDir = tmpDir("ice_orp_data")
    val iceDir = tmpDir("ice_orp")
    val srcFile = Paths.get(sf("sf0.001/region.parquet"))
    val controller = new ConversionController
    def parquetSrc = new ParquetDirectorySource(spark, dataDir, "region")
    def iceSrc = new IcebergConversionSource(spark, iceDir, "region")
    for (i <- 1 to 3) {
      Files.copy(srcFile, Paths.get(dataDir, s"f$i.parquet"))
      Paths.get(dataDir, s"f$i.parquet").toFile.setLastModified(i * 1000000L)
      assert(controller.sync(parquetSrc,
        Seq(new IcebergConversionTarget(spark, iceDir)))
        .forall(_.status == "SUCCESS"))
    }
    // stray temp file a crashed writer might leave behind (mtime pinned
    // in the past — a same-millisecond stamp made this flaky)
    Files.writeString(Paths.get(iceDir, "metadata", "stray-tmp.avro"), "x")
    Paths.get(iceDir, "metadata", "stray-tmp.avro").toFile
      .setLastModified(System.currentTimeMillis() - 60000L)

    // nothing expired yet: every manifest is referenced, only the stray
    // sweeps
    val first = IcebergMaintenance.removeOrphanFiles(spark, iceDir)
    assert(first.deleted == 1L, first.toString)

    val expired = IcebergMaintenance.expireSnapshots(iceDir, retainLast = 1)
    assert(expired.size == 2)
    val second = IcebergMaintenance.removeOrphanFiles(spark, iceDir)
    // two expired snapshots → their manifest lists (and superseded
    // manifests) are now orphans
    assert(second.deleted >= 2, second.toString)
    // live read unharmed; a third sweep finds nothing
    assert(iceSrc.currentSnapshot().files.count() == 3)
    assert(iceSrc.toDataFrame.count() ==
      spark.read.parquet(sf("sf0.001/region.parquet")).count() * 3)
    assert(IcebergMaintenance.removeOrphanFiles(spark, iceDir).deleted == 0L)
  }

  test("delta -> iceberg cross-format sync preserves rows") {
    val deltaDir = tmpDir("x_delta")
    val iceDir = tmpDir("x_ice")
    fullSync(new ParquetDirectorySource(spark, sf("sf0.001/orders.parquet"),
      "orders"), new DeltaConversionTarget(spark, deltaDir))
    val deltaSrc = new DeltaConversionSource(spark, deltaDir, "orders")
    fullSync(deltaSrc, new IcebergConversionTarget(spark, iceDir))
    val ice = new IcebergConversionSource(spark, iceDir, "orders")
    val a = ice.toDataFrame.agg(sum(col("o_totalprice").cast("decimal(25,6)")))
      .head.getDecimal(0)
    val b = spark.read.parquet(sf("sf0.001/orders.parquet"))
      .agg(sum(col("o_totalprice").cast("decimal(25,6)"))).head.getDecimal(0)
    assert(a == b)
  }

  test("iceberg -> delta reverse sync preserves rows") {
    val iceDir = tmpDir("r_ice")
    val deltaDir = tmpDir("r_delta")
    fullSync(new ParquetDirectorySource(spark, sf("sf0.001/customer.parquet"),
      "customer"), new IcebergConversionTarget(spark, iceDir))
    fullSync(new IcebergConversionSource(spark, iceDir, "customer"),
      new DeltaConversionTarget(spark, deltaDir))
    val back = new DeltaConversionSource(spark, deltaDir, "customer").toDataFrame
    assert(back.count() ==
      spark.read.parquet(sf("sf0.001/customer.parquet")).count())
  }

  test("incremental sync into iceberg applies adds and removes") {
    val dataDir = tmpDir("ice_inc_data")
    val target = tmpDir("ice_inc")
    val srcFile = Paths.get(sf("sf0.001/nation.parquet"))
    Files.copy(srcFile, Paths.get(dataDir, "f1.parquet"))
    Paths.get(dataDir, "f1.parquet").toFile.setLastModified(1000000L)
    val controller = new ConversionController
    def src = new ParquetDirectorySource(spark, dataDir, "nation")
    val r1 = controller.sync(src, Seq(new IcebergConversionTarget(spark, target)))
    assert(r1.head.status == "SUCCESS" && r1.head.mode == SyncMode.Full)

    Files.copy(srcFile, Paths.get(dataDir, "f2.parquet"))
    Paths.get(dataDir, "f2.parquet").toFile.setLastModified(2000000L)
    val r2 = controller.sync(src, Seq(new IcebergConversionTarget(spark, target)))
    assert(r2.head.status == "SUCCESS" && r2.head.mode == SyncMode.Incremental,
      r2.mkString(";"))
    val live = new IcebergConversionSource(spark, target, "nation")
      .currentSnapshot().files.collect()
    assert(live.length == 2)

    // snapshot-mode resync after external delete removes the file
    Files.delete(Paths.get(dataDir, "f2.parquet"))
    val r3 = controller.sync(src, Seq(new IcebergConversionTarget(spark, target)),
      SyncMode.Full)
    assert(r3.head.status == "SUCCESS")
    val after = new IcebergConversionSource(spark, target, "nation")
      .currentSnapshot().files.collect()
    assert(after.length == 1, after.map(_.path).mkString(","))
  }

  test("ADDED manifests written in tasks carry partition summaries") {
    import spark.implicits._
    // 100 001 adds: past the driver's row budget, so the ADDED manifest
    // is written in tasks
    val target = tmpDir("ice_task_summaries")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType)))
    val spec = Seq(PartitionFieldSpec("p", Transform.Value))
    val tgt = new IcebergConversionTarget(spark, target)
    tgt.beginSync(TableDescriptor("t", TableFormats.Iceberg, target, schema,
      spec, Layout.HivePartitioned, 0L))
    tgt.syncMetadata(graft.spi.SyncMetadata("1", Nil, TableFormats.Parquet,
      target))
    tgt.syncSchema(schema)
    tgt.syncPartitionSpec(spec)
    tgt.syncFilesForSnapshot(spark.range(100001L).map(i =>
      FileEntry(s"/data/p=${i % 3}/f$i.parquet", 1000L, 10L, "parquet",
        Seq(PartitionMember("p", (i % 3).toString)), Nil, 1000L)))
    tgt.completeSync()
    val m = IcebergMetadata.read(target,
      IcebergMetadata.currentVersion(target).get)
    val recs =
      IcebergManifests.dataManifests(m.currentSnapshot.get.manifestList)
    assert(recs.nonEmpty)
    val bounds = recs.map { r =>
      val ps = r.get("partitions")
      assert(ps != null, s"no partition summary on ${r.get("manifest_path")}")
      val f = ps.asInstanceOf[java.util.List[_]].get(0)
        .asInstanceOf[org.apache.avro.generic.GenericRecord]
      def text(k: String) = new String(f.get(k).asInstanceOf[
        java.nio.ByteBuffer].array(), "UTF-8")
      (text("lower_bound"), text("upper_bound"))
    }
    assert(bounds.map(_._1).min == "0" && bounds.map(_._2).max == "2",
      bounds.toString)
  }

  /** Commit `diffs` in turn to an Iceberg target partitioned by `p`,
    * each side placed as given.
    */
  private def commitDiffs(target: String, at: Option[graft.plans.Placement],
      diffs: Seq[FilesDelta]): Unit = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType)))
    val spec = Seq(PartitionFieldSpec("p", Transform.Value))
    diffs.zipWithIndex.foreach { case (diff, i) =>
      val tgt = new IcebergConversionTarget(spark, target)
      tgt.at = at
      tgt.beginSync(TableDescriptor("t", TableFormats.Iceberg, target,
        schema, spec, Layout.HivePartitioned, 0L))
      tgt.syncMetadata(graft.spi.SyncMetadata((i + 1).toString, Nil,
        TableFormats.Parquet, target))
      tgt.syncSchema(schema)
      tgt.syncPartitionSpec(spec)
      tgt.syncFilesForDiff(diff)
      tgt.completeSync()
    }
  }

  private def partEntry(i: Int, p: String) = FileEntry(
    s"/data/p=$p/f$i.parquet", 100L + i, 10L, "parquet",
    Seq(PartitionMember("p", p)), Nil, 1000L + i)

  /** Each data manifest's (lower, upper) partition bound text. */
  private def listBounds(target: String): Seq[(String, String)] = {
    val m = IcebergMetadata.read(target,
      IcebergMetadata.currentVersion(target).get)
    IcebergManifests.dataManifests(m.currentSnapshot.get.manifestList)
      .map { r =>
        val ps = r.get("partitions")
        assert(ps != null,
          s"no partition summary on ${r.get("manifest_path")}")
        val f = ps.asInstanceOf[java.util.List[_]].get(0)
          .asInstanceOf[org.apache.avro.generic.GenericRecord]
        def text(k: String) = new String(f.get(k).asInstanceOf[
          java.nio.ByteBuffer].array(), "UTF-8")
        (text("lower_bound"), text("upper_bound"))
      }
  }

  test("carried and rewritten manifests keep their partition summaries") {
    import spark.implicits._
    def side(es: Seq[FileEntry]) = Left(es.toIndexedSeq)
    val base = Seq(partEntry(1, "a"), partEntry(2, "c"), partEntry(3, "b"))
    // driver carry-forward: commit 2 carries the base manifest untouched,
    // commit 3 rewrites it without one file
    val t1 = tmpDir("ice_carry_summaries")
    commitDiffs(t1, None, Seq(
      FilesDelta(side(base), side(Nil)),
      FilesDelta(side(Seq(partEntry(4, "x"))), side(Nil))))
    assert(listBounds(t1).toSet == Set(("a", "c"), ("x", "x")))
    commitDiffs(t1, None, Seq(
      FilesDelta(side(Seq(partEntry(5, "y"))), side(Seq(base(1))))))
    assert(IcebergConversionTarget.lastCarryForwardMode == "driver-set")
    assert(listBounds(t1).toSet == Set(("a", "b"), ("x", "x"), ("y", "y")))
    // distributed carry-forward: the removes stay a Dataset, survivors
    // are rewritten by the anti-join
    val t2 = tmpDir("ice_carry_summaries_tasks")
    commitDiffs(t2, Some(graft.plans.Placement.Tasks), Seq(
      FilesDelta(side(base), side(Nil)),
      FilesDelta(side(Seq(partEntry(4, "x"))),
        Right(spark.createDataset(Seq(base(1)))))))
    assert(IcebergConversionTarget.lastCarryForwardMode ==
      "distributed-anti-join")
    assert(listBounds(t2).toSet == Set(("a", "b"), ("x", "x")))
  }

  test("an incremental commit opens the previous manifest list once") {
    val target = tmpDir("ice_list_reads")
    commitDiffs(target, None, Seq(FilesDelta(
      Left(Vector(partEntry(1, "a"), partEntry(2, "b"))), Left(Vector.empty))))
    val prevList = IcebergMetadata.read(target,
      IcebergMetadata.currentVersion(target).get)
      .currentSnapshot.get.manifestList
    val keys = Seq(
      "spark.hadoop.fs.file.impl" -> classOf[OpenRecordingFileSystem].getName,
      "spark.hadoop.fs.file.impl.disable.cache" -> "true")
    OpenRecordingFileSystem.opened.clear()
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try commitDiffs(target, None, Seq(FilesDelta(
      Left(Vector(partEntry(3, "c"))), Left(Vector(partEntry(1, "a"))))))
    finally keys.foreach { case (k, _) => spark.conf.unset(k) }
    val opens = OpenRecordingFileSystem.opened.toArray.toSeq
      .count(_ == graft.util.PathUtils.canonical(prevList))
    assert(opens == 1, s"previous manifest list opened $opens times")
  }

  test("field ids stay stable across repeated syncs") {
    val target = tmpDir("ice_ids")
    def sync() = fullSync(new ParquetDirectorySource(spark,
      sf("sf0.001/region.parquet"), "region"),
      new IcebergConversionTarget(spark, target))
    sync()
    val ids1 = IcebergSchemas.leafFields(
      new IcebergConversionSource(spark, target, "region").currentTable().schema)
    sync()
    val ids2 = IcebergSchemas.leafFields(
      new IcebergConversionSource(spark, target, "region").currentTable().schema)
    assert(ids1.map(t => (t._1, t._2)) == ids2.map(t => (t._1, t._2)))
    assert(ids1.map(_._1).distinct.size == ids1.size)
  }

  test("field ids survive hudi round trips incl. external avro evolution") {
    import graft.formats.hudi._
    val dataDir = tmpDir("idt_data")
    Files.copy(Paths.get(sf("sf0.001/region.parquet")),
      Paths.get(dataDir, "f1.parquet"))

    // parquet → iceberg1: the authoritative id assignment
    val ice1 = tmpDir("idt_ice1")
    fullSync(new ParquetDirectorySource(spark, dataDir, "region"),
      new IcebergConversionTarget(spark, ice1))
    val ids1 = IcebergSchemas.leafFields(
      new IcebergConversionSource(spark, ice1, "region").currentTable().schema)
      .map(t => t._2 -> t._1).toMap

    // iceberg1 → hudi: target persists the id registry in extraMetadata
    val hudiDir = tmpDir("idt_hudi")
    fullSync(new IcebergConversionSource(spark, ice1, "region"),
      new HudiConversionTarget(spark, hudiDir))
    val lastInstant = HudiTimeline.listInstants(hudiDir).last
    val commit = HudiTimeline.readCommit(hudiDir, lastInstant)
    assert(commit.extraMetadata.contains(HudiIdTracking.Key))

    // an EXTERNAL Hudi writer commits an evolved schema — Avro only, no
    // spark-json, no id metadata (the exact case IdTracker exists for)
    Files.copy(Paths.get(sf("sf0.001/region.parquet")),
      Paths.get(dataDir, "f2.parquet"))
    val evolved = spark.read.parquet(s"$dataDir/f2.parquet").schema
      .add("ext_col", org.apache.spark.sql.types.LongType)
    val avro = graft.model.AvroSchemas.fromSpark(evolved, "hudi_record")
      .toString
    val inst2 = (BigInt(lastInstant) + 1).toString
    assert(HudiTimeline.writeCommit(HudiTimeline.CommitMeta(inst2, "commit",
      Map("" -> Seq(HudiTimeline.WriteStat(
        HudiTimeline.fileId(s"$hudiDir/f2.parquet"), "../" +
          Paths.get(dataDir).getFileName + "/f2.parquet", 5, 100))),
      Map.empty, Map("avroSchema" -> avro)), hudiDir))

    // hudi source re-applies the registry onto the avro-derived schema
    val hudiSchema = new HudiConversionSource(spark, hudiDir, "region")
      .currentTable().schema
    val hudiIds = IcebergSchemas.allFieldIds(hudiSchema)
    ids1.foreach { case (path, id) =>
      assert(hudiIds.get(path).contains(id), s"$path: ${hudiIds.get(path)} != $id")
    }
    assert(hudiIds("ext_col") > ids1.values.max)

    // hudi → iceberg2 (a FRESH iceberg table, no shared state with ice1):
    // same ids as iceberg1, and the external column keeps its fresh id
    val ice2 = tmpDir("idt_ice2")
    fullSync(new HudiConversionSource(spark, hudiDir, "region"),
      new IcebergConversionTarget(spark, ice2))
    val ids2 = IcebergSchemas.allFieldIds(
      new IcebergConversionSource(spark, ice2, "region").currentTable().schema)
    ids1.foreach { case (path, id) =>
      assert(ids2.get(path).contains(id), s"$path: ${ids2.get(path)} != $id")
    }
    assert(ids2("ext_col") == hudiIds("ext_col"))
  }
}

/** A local filesystem that records every path it opens. */
class OpenRecordingFileSystem extends org.apache.hadoop.fs.LocalFileSystem {
  override def open(f: org.apache.hadoop.fs.Path, bufferSize: Int)
      : org.apache.hadoop.fs.FSDataInputStream = {
    OpenRecordingFileSystem.opened.add(f.toUri.getPath)
    super.open(f, bufferSize)
  }
  // the table store reads a local file on the file this resolves
  override def pathToFile(f: org.apache.hadoop.fs.Path): java.io.File = {
    OpenRecordingFileSystem.opened.add(f.toUri.getPath)
    super.pathToFile(f)
  }
}

object OpenRecordingFileSystem {
  val opened = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.types._

import graft.formats.delta.{DeltaConversionSource, DeltaLog, DeltaSnapshot}
import graft.formats.hudi.{HudiConversionSource, HudiConversionTarget, HudiMetadataIndex, HudiMetadataTable, HudiTimeline}
import graft.formats.iceberg.{IcebergConversionSource, IcebergConversionTarget, IcebergManifests, IcebergMetadata}
import graft.formats.paimon.{PaimonConversionSource, PaimonFormat}
import graft.io.TableStore
import graft.model._
import graft.plans.Placement
import graft.plans.Placement.Placed
import graft.sources.ParquetDirectorySource
import graft.spi.ConversionTarget
import graft.sync.TableFormatSync

/** Every format's listing decode gives the same `FileEntry`s, field for
  * field, whether it runs on the driver or in tasks: the golden fixtures
  * plus generated tables that stress each format's per-path winner rule.
  * Every target's commit writes give the same table from driver rows and
  * from tasks.
  */
class PlacementEquivalenceSpec extends SparkSuite {

  private val Both = Seq(Placement.Driver, Placement.Tasks)

  private lazy val store = TableStore(spark)

  private def golden(name: String): String =
    new java.io.File(s"src/test/resources/golden/$name").getAbsolutePath

  private def rows(p: Placed[FileEntry]): Seq[FileEntry] =
    p.fold(identity, _.collect().toSeq).sortBy(_.path)

  /** Decodes under both placements; returns the (identical) entries. */
  private def same(what: String)(decode: Placement => Placed[FileEntry])
      : Seq[FileEntry] = {
    val Seq(driver, tasks) = Both.map(at => decode(at))
    assert(driver.isLeft && tasks.isRight, what)
    val (d, t) = (rows(driver), rows(tasks))
    assert(d == t, s"$what: driver $d != tasks $t")
    d
  }

  // ---- Delta ----

  private def deltaListings(dir: String): Unit = {
    val conf = graft.util.HadoopConfs.session(spark)
    val versions = DeltaLog.listVersions(dir, conf)
    val schema = new DeltaConversionSource(spark, dir, "t").currentTable()
      .schema
    same(s"$dir live files")(at => DeltaSnapshot.listing(spark, dir,
      versions, schema, Some(at)))
    versions.foreach { v =>
      same(s"$dir v$v adds")(at =>
        DeltaSnapshot.placedChanges(spark, dir, v, schema, Some(at))._1)
      same(s"$dir v$v removes")(at =>
        DeltaSnapshot.placedChanges(spark, dir, v, schema, Some(at))._2)
    }
  }

  test("delta golden fixtures decode identically in both placements") {
    Seq("delta_dimGeography", "delta_dv_people", "delta_mapped_people",
      "delta_rowtracking").foreach(n => deltaListings(golden(n)))
  }

  test("delta winner rule: add and remove of one path in one version, " +
      "plus a DV'd add") {
    val dir = tmpDir("place_delta")
    val schema = StructType(Seq(StructField("id", LongType)))
    val schemaJson = schema.json.replace("\"", "\\\"")
    def add(path: String, t: Long, dv: Boolean = false) =
      s"""{"add":{"path":"$path","size":100,"modificationTime":$t,""" +
        s""""partitionValues":{},"dataChange":true,""" +
        s""""stats":"{\\"numRecords\\":3,\\"minValues\\":{\\"id\\":1},""" +
        s"""\\"maxValues\\":{\\"id\\":$t},\\"nullCount\\":{\\"id\\":0}}"""" +
        (if (dv) ""","deletionVector":{"storageType":"u",""" +
          """"pathOrInlineDv":"ab^-aqEH.-t@S}K{vb[*k^","offset":1,""" +
          """"sizeInBytes":36,"cardinality":2}""" else "") + "}}"
    def remove(path: String) =
      s"""{"remove":{"path":"$path","deletionTimestamp":5,"dataChange":true}}"""
    val log = Seq(
      Seq("""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
        s"""{"metaData":{"id":"p","format":{"provider":"parquet",""" +
          s""""options":{}},"schemaString":"$schemaJson",""" +
          """"partitionColumns":[],"configuration":{},"createdTime":1}}""",
        add("a.parquet", 1), add("b.parquet", 1), add("c.parquet", 1)),
      // one version both adds (with a DV) and removes a.parquet: the add
      // wins whichever line comes first
      Seq(add("a.parquet", 2, dv = true), remove("a.parquet"),
        remove("b.parquet"), add("b.parquet", 2)),
      Seq(remove("c.parquet"), add("d.parquet", 3)))
    Files.createDirectories(Paths.get(dir, "_delta_log"))
    log.zipWithIndex.foreach { case (lines, v) =>
      Files.write(Paths.get(DeltaLog.versionFile(dir, v.toLong)),
        lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    }
    deltaListings(dir)
    val live = same("generated delta")(at => DeltaSnapshot.listing(spark,
      dir, Seq(0L, 1L, 2L), schema, Some(at)))
    assert(live.map(_.path.split('/').last) ==
      Seq("a.parquet", "b.parquet", "d.parquet"))
    assert(live.head.deletionVector.map(_.cardinality).contains(2L))
    assert(live.forall(_.columnStats.exists(_.field == "id")))
  }

  // ---- Iceberg ----

  private def icebergListings(dir: String): Unit = {
    val m = IcebergMetadata.read(dir, IcebergMetadata.currentVersion(dir).get)
    m.snapshots.foreach { s =>
      same(s"$dir snapshot ${s.sequenceNumber}")(at =>
        IcebergManifests.liveFiles(spark,
          IcebergManifests.dataManifests(s.manifestList), m.schema, Some(at)))
    }
  }

  test("iceberg golden fixtures decode identically in both placements") {
    Seq("iceberg_trades", "iceberg_trades_evolved", "iceberg_v3_dv")
      .foreach(n => icebergListings(golden(n)))
  }

  test("iceberg winner rule: DELETED-status entries drop out") {
    val dir = tmpDir("place_iceberg")
    val schema = StructType(Seq(StructField("id", LongType)))
    def entry(i: Int) = FileEntry(s"$dir/data/f$i.parquet", 100L + i, 10L,
      "parquet", Nil, Seq(FileColumnStat("id", Some("1"), Some(s"$i"), 0L,
        10L, 0L)), 1000L + i)
    val manifests = (0 until 3).map { m =>
      val path = s"$dir/metadata/m$m.avro"
      Files.createDirectories(Paths.get(dir, "metadata"))
      // each manifest: two live entries and one DELETED
      val es = (0 until 3).map(j => (entry(m * 3 + j),
        if (j == 2) IcebergManifests.Status.Deleted
        else IcebergManifests.Status.Added))
      val len = IcebergManifests.writeManifest(path, es.iterator.map {
        case (f, st) => IcebergManifests.toEntry(f, st, 1L, schema)
      }, store)
      IcebergManifests.ManifestSummary(path, len, 1L, 2, 0, 1, 20L, 0L)
    }
    val list = s"$dir/metadata/snap-1.avro"
    IcebergManifests.writeManifestListRecords(list, Nil, manifests, store)
    val live = same("generated iceberg")(at => IcebergManifests.liveFiles(
      spark, IcebergManifests.dataManifests(list), schema, Some(at)))
    assert(live.map(_.path) ==
      Seq(0, 1, 3, 4, 6, 7).map(entry(_).path).sorted)
  }

  // ---- Hudi ----

  private def hudiListing(dir: String): Seq[FileEntry] = {
    val src = new HudiConversionSource(spark, dir, "t")
    val last = HudiTimeline.listInstants(dir).last
    same(s"$dir at $last")(at =>
      src.toFileEntries(src.liveStats(last), Some(at)))
  }

  test("hudi golden fixtures decode identically in both placements") {
    Seq("hudi_dimCustomer", "hudi_v1_trips").foreach(n => hudiListing(golden(n)))
  }

  test("hudi winner rule: equal lastModifiedMillis go to the later delta") {
    val data = tmpDir("place_hudi_data")
    Files.copy(Paths.get(sf("sf0.001/region.parquet")),
      Paths.get(data, "f1.parquet"))
    val dir = tmpDir("place_hudi")
    val src = new ParquetDirectorySource(spark, data, "region")
    val out = TableFormatSync.syncSnapshot(
      Seq(new HudiConversionTarget(spark, dir)), src.currentSnapshot(),
      src.sourceFormat)
    assert(out.forall(_.status == "SUCCESS"), out.mkString(";"))
    val indexed = HudiMetadataIndex.read(spark, dir).collect()
    assert(indexed.length == 1)
    def restated(records: Long) = indexed.head.copy(recordCount = records,
      columnStats = indexed.head.columnStats.map(_.copy(numValues = records)))
    // two later deltas restate the same path at the same timestamp: the
    // later name wins, in the JSON-only index and across parquet + JSON
    HudiMetadataIndex.writeSmall(dir, "99990101000000000", Seq(restated(7L)))
    assert(hudiListing(dir).map(_.recordCount) == Seq(7L))
    import spark.implicits._
    HudiMetadataIndex.write(spark, dir, "99990101000000001",
      Seq(restated(9L)).toDS())
    assert(hudiListing(dir).map(_.recordCount) == Seq(9L))
    HudiMetadataIndex.writeSmall(dir, "99990101000000002", Seq(restated(8L)))
    assert(hudiListing(dir).map(_.recordCount) == Seq(8L))
  }

  /** A Hudi table synced from `files` parquet files of sf0.001 orders. */
  private def hudiTable(name: String, files: Int): String = {
    val data = tmpDir(s"${name}_data")
    spark.read.parquet(sf("sf0.001/orders.parquet")).repartition(files)
      .write.mode("overwrite").parquet(data)
    val dir = tmpDir(name)
    val src = new ParquetDirectorySource(spark, data, "orders")
    val out = TableFormatSync.syncSnapshot(
      Seq(new HudiConversionTarget(spark, dir)), src.currentSnapshot(),
      src.sourceFormat)
    assert(out.forall(_.status == "SUCCESS"), out.mkString(";"))
    dir
  }

  test("hudi footer fallback: listed files the index lacks decode " +
      "identically in both placements") {
    val dir = hudiTable("place_hudi_partial", 6)
    val full = hudiListing(dir)
    assert(full.size == 6 && full.forall(_.columnStats.nonEmpty))
    // keep index entries for two of the six files: the other four take
    // the footer read
    val kept = HudiMetadataIndex.read(spark, dir).collect()
      .sortBy(_.path).take(2).toSeq
    val indexDir = Paths.get(HudiMetadataIndex.indexDir(dir))
    Files.walk(indexDir).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.delete(p))
    HudiMetadataIndex.writeSmall(dir, "00000000000000001", kept)
    assert(HudiMetadataIndex.read(spark, dir).count() == 2)
    assert(hudiListing(dir) == full)
  }

  test("hudi index deltas written without the deletionVector column " +
      "read in both placements") {
    val dir = hudiTable("place_hudi_old", 3)
    val full = hudiListing(dir)
    val entries = HudiMetadataIndex.read(spark, dir).collect().toSeq
    val indexDir = Paths.get(HudiMetadataIndex.indexDir(dir))
    Files.walk(indexDir).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.delete(p))
    import spark.implicits._
    entries.toDS().drop("deletionVector").write
      .parquet(s"$indexDir/00000000000000001")
    Seq(Placement.Driver, Placement.Tasks).foreach { at =>
      val ds = HudiMetadataIndex.deltas(dir)
      assert(ds.map(_.isParquet) == Seq(true))
      assert(rows(HudiMetadataIndex.read(spark, ds, at)) ==
        entries.sortBy(_.path), at)
    }
    assert(hudiListing(dir) == full)
  }

  // ---- Paimon ----

  private def paimonListings(dir: String): Seq[FileEntry] = {
    val src = new PaimonConversionSource(spark, dir, "t")
    PaimonFormat.listSnapshotIds(dir).map { id =>
      same(s"$dir snapshot $id")(at =>
        src.listing(PaimonFormat.readSnapshot(dir, id), Some(at)))
    }.last
  }

  test("paimon golden fixtures decode identically in both placements") {
    Seq("paimon_orders", "paimon_orders_evolved")
      .foreach(n => paimonListings(golden(n)))
  }

  test("paimon winner rule: more than 4 manifests, with deletes") {
    val dir = tmpDir("place_paimon")
    val schema = StructType(Seq(StructField("id", LongType)))
    PaimonFormat.writeSchema(dir,
      PaimonFormat.PaimonSchema(0, schema, Nil, Map.empty))
    def entry(i: Int) = FileEntry(s"$dir/bucket-0/f$i.parquet", 100L + i,
      10L, "parquet", Nil, Seq(FileColumnStat("id", Some("1"), Some(s"$i"),
        0L, 10L, 0L)), 1000L + i)
    val mdir = PaimonFormat.manifestDir(dir)
    // six manifests of two adds each; the last also deletes three paths
    // added by earlier manifests
    val manifests = (0 until 6).map { m =>
      val name = s"manifest-$m"
      val adds = Seq(entry(2 * m), entry(2 * m + 1))
        .map(PaimonFormat.toEntry(_, PaimonFormat.Kind.Add))
      val dels = if (m < 5) Nil else Seq(0, 3, 7).map(i =>
        PaimonFormat.toEntry(entry(i), PaimonFormat.Kind.Delete))
      (name, PaimonFormat.writeManifest(s"$mdir/$name",
        (adds ++ dels).iterator, store))
    }
    PaimonFormat.writeManifestList(s"$mdir/list-base", manifests.take(5),
      store)
    PaimonFormat.writeManifestList(s"$mdir/list-delta", manifests.drop(5),
      store)
    assert(PaimonFormat.writeSnapshot(dir, PaimonFormat.PaimonSnapshot(1L,
      0L, "APPEND", 1L, "list-delta", "list-base", None)))
    val live = paimonListings(dir)
    assert(live.map(_.path) ==
      ((0 until 12).toSet -- Set(0, 3, 7)).toSeq.map(entry(_).path).sorted)
  }

  // ---- commit writes ----

  private val commitSchema = StructType(Seq(StructField("id", LongType),
    StructField("p", StringType)))
  private val commitSpec = Seq(PartitionFieldSpec("p", Transform.Value))

  /** File `i` of partition `p` under `dir`, Hudi-named so its file id
    * comes from the name.
    */
  private def commitEntry(dir: String, i: Int, p: String) = FileEntry(
    s"$dir/p=$p/fg-${i}_0-1-0_20260101000000000.parquet", 100L + i,
    10L + i, "parquet", Seq(PartitionMember("p", p)),
    Seq(FileColumnStat("id", Some("1"), Some(s"${10 + i}"), 0L, 10L + i,
      0L)), 1000L + i)

  /** A three-file base commit, then one diff (three adds over two
    * partitions, one remove) placed at `at`: driver rows, or a
    * two-partition Dataset in the same row order whose target keeps it
    * in tasks.
    */
  private def commitBaseAndDiff(dir: String, target: ConversionTarget,
      at: Placement): Unit = {
    import spark.implicits._
    def side(rows: Seq[FileEntry]): Placed[FileEntry] = at match {
      case Placement.Driver => Left(rows.toIndexedSeq)
      case Placement.Tasks =>
        Right(spark.createDataset(spark.sparkContext.parallelize(rows, 2)))
    }
    def commit(instant: String, diff: FilesDelta): Unit = {
      target.beginSync(TableDescriptor("t", TableFormats.Parquet, dir,
        commitSchema, commitSpec, Layout.HivePartitioned, 0L))
      target.syncMetadata(graft.spi.SyncMetadata(instant, Nil,
        TableFormats.Parquet, dir))
      target.syncSchema(commitSchema)
      target.syncPartitionSpec(commitSpec)
      target.syncFilesForDiff(diff)
      target.completeSync()
    }
    val base =
      Seq(1, 2, 3).map(i => commitEntry(dir, i, if (i < 3) "a" else "b"))
    commit("1", FilesDelta(Left(base.toIndexedSeq), Left(Vector.empty)))
    commit("2", FilesDelta(
      side(Seq(commitEntry(dir, 6, "b"), commitEntry(dir, 4, "a"),
        commitEntry(dir, 5, "b"))),
      side(Seq(base(1)))))
  }

  /** Commits under both placements into fresh tables; returns both dirs
    * after checking the read-back listings agree on every field.
    */
  private def sameCommit(what: String, target: (String, Placement) =>
      ConversionTarget, read: String => Seq[FileEntry]): (String, String) = {
    val Seq(d, t) = Both.map { at =>
      val dir = tmpDir(s"commit_${what}_$at")
      commitBaseAndDiff(dir, target(dir, at), at)
      dir
    }
    def listing(dir: String) = read(dir)
      .map(e => e.copy(path = e.path.stripPrefix(dir))).sortBy(_.path)
    val (ld, lt) = (listing(d), listing(t))
    assert(ld.map(_.path) == Seq(1, 3, 4, 5, 6).map(i => commitEntry("", i,
      if (i == 1 || i == 4) "a" else "b").path).sorted, what)
    assert(ld == lt, s"$what: driver $ld != tasks $lt")
    (d, t)
  }

  test("delta commits the same lines from driver rows and from tasks") {
    val (d, t) = sameCommit("delta", (dir, _) =>
      new graft.formats.delta.DeltaConversionTarget(spark, dir),
      dir => new DeltaConversionSource(spark, dir, "t").currentSnapshot()
        .files.collect().toSeq)
    // add lines verbatim and in order; removes by path (their
    // deletionTimestamp is the commit's clock)
    def actions(dir: String) = Files.readAllLines(
        Paths.get(DeltaLog.versionFile(dir, 1L))).asScala.toSeq
      .filter(l => l.startsWith("{\"add\"") || l.startsWith("{\"remove\""))
      .map(l => if (l.startsWith("{\"add\"")) l
        else l.substring(0, l.indexOf("\"deletionTimestamp\"")))
    assert(actions(d).size == 4 && actions(d) == actions(t))
  }

  test("hudi commits the same stat lines, index and metadata table from " +
      "driver rows and from tasks") {
    val (d, t) = sameCommit("hudi", (dir, at) => {
        val tgt = new HudiConversionTarget(spark, dir)
        tgt.at = Some(at)
        tgt
      },
      // the entries' lastModifiedMillis is the commit instant, a clock
      dir => new HudiConversionSource(spark, dir, "t").currentSnapshot()
        .files.collect().toSeq.map(_.copy(lastModifiedMillis = 0L)))
    def commit(dir: String) = {
      val c = HudiTimeline.readCommit(dir, HudiTimeline.listInstants(dir).last)
      (c.action, c.partitionToWriteStats.toSeq.sortBy(_._1).map {
        case (p, ss) => p -> ss.map(s => (s.fileId, s.path, s.numWrites,
          s.fileSizeInBytes))
      }, c.partitionToReplaceFileIds.toSeq.sortBy(_._1))
    }
    assert(commit(d)._1 == "replacecommit" && commit(d) == commit(t))
    assert(HudiMetadataTable.readFiles(d) == HudiMetadataTable.readFiles(t))
    def index(dir: String) = HudiMetadataIndex.read(spark, dir).collect()
      .map(e => e.copy(path = e.path.stripPrefix(dir))).sortBy(_.path).toSeq
    assert(index(d).size == 6 && index(d) == index(t))
  }

  test("iceberg commits the same manifest-list counts and partition " +
      "summaries from driver rows and from tasks") {
    val (d, t) = sameCommit("iceberg", (dir, at) => {
        val tgt = new IcebergConversionTarget(spark, dir)
        tgt.at = Some(at)
        tgt
      },
      dir => new IcebergConversionSource(spark, dir, "t").currentSnapshot()
        .files.collect().toSeq)
    def list(dir: String) = {
      val m = IcebergMetadata.read(dir, IcebergMetadata.currentVersion(dir).get)
      IcebergManifests.dataManifests(m.currentSnapshot.get.manifestList)
    }
    def long(r: org.apache.avro.generic.GenericRecord, k: String) =
      r.get(k).toString.toLong
    def totals(dir: String) = {
      val rs = list(dir)
      (rs.map(r => long(r, "added_data_files_count") +
        long(r, "existing_data_files_count")).sum,
        rs.map(r => long(r, "added_rows_count") +
          long(r, "existing_rows_count")).sum)
    }
    assert(totals(d) == ((5L, 11L + 13 + 14 + 15 + 16)))
    assert(totals(d) == totals(t))
    def summaries(dir: String) = list(dir)
      .filter(r => long(r, "added_data_files_count") > 0)
      .map(r => Option(r.get("partitions")).map(_.toString))
    assert(summaries(d).size == 1 && summaries(d).head.isDefined)
    assert(summaries(d) == summaries(t))
  }

  test("paimon commits the same snapshot from driver rows and from tasks") {
    val (d, t) = sameCommit("paimon", (dir, at) => {
        val tgt = new graft.formats.paimon.PaimonConversionTarget(spark, dir)
        tgt.at = Some(at)
        tgt
      },
      dir => new PaimonConversionSource(spark, dir, "t").currentSnapshot()
        .files.collect().toSeq)
    def counts(dir: String) = {
      val s = PaimonFormat.readSnapshot(dir,
        PaimonFormat.listSnapshotIds(dir).last)
      (s.commitKind, s.totalRecordCount, s.deltaRecordCount)
    }
    assert(counts(d) == (("COMPACT", Some(11L + 13 + 14 + 15 + 16),
      Some(14L + 15 + 16 - 12))))
    assert(counts(d) == counts(t))
  }
}

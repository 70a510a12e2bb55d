package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.types._

import graft.formats.delta.{DeltaConversionSource, DeltaLog, DeltaSnapshot}
import graft.formats.hudi.{HudiConversionSource, HudiConversionTarget, HudiMetadataIndex, HudiTimeline}
import graft.formats.iceberg.{IcebergManifests, IcebergMetadata}
import graft.formats.paimon.{PaimonConversionSource, PaimonFormat}
import graft.model._
import graft.plans.Placement
import graft.plans.Placement.Placed
import graft.sources.ParquetDirectorySource
import graft.sync.TableFormatSync

/** Every format's listing decode gives the same `FileEntry`s, field for
  * field, whether it runs on the driver or in tasks: the golden fixtures
  * plus generated tables that stress each format's per-path winner rule.
  */
class PlacementEquivalenceSpec extends SparkSuite {

  private val Both = Seq(Placement.Driver, Placement.Tasks)

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
      })
      IcebergManifests.ManifestSummary(path, len, 1L, 2, 0, 1, 20L, 0L)
    }
    val list = s"$dir/metadata/snap-1.avro"
    IcebergManifests.writeManifestList(list, manifests)
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
        (adds ++ dels).iterator))
    }
    PaimonFormat.writeManifestList(s"$mdir/list-base", manifests.take(5))
    PaimonFormat.writeManifestList(s"$mdir/list-delta", manifests.drop(5))
    assert(PaimonFormat.writeSnapshot(dir, PaimonFormat.PaimonSnapshot(1L,
      0L, "APPEND", 1L, "list-delta", "list-base", None)))
    val live = paimonListings(dir)
    assert(live.map(_.path) ==
      ((0 until 12).toSet -- Set(0, 3, 7)).toSeq.map(entry(_).path).sorted)
  }
}

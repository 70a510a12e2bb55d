package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.types._

import graft.formats.delta._

/** Delta column mapping: a table written with
  * `delta.columnMapping.mode = name` stores parquet columns (and stats /
  * partition-value keys) under physical names; the logical schema maps them
  * via field metadata. Reading by logical name without the mapping yields
  * all-null columns — the failure mode this spec pins down.
  */
class ColumnMappingSpec extends SparkSuite {

  private val PhysId = "col-9f2a"
  private val PhysName = "col-b71c"

  /** Hand-written column-mapped table: physical-named parquet + a log whose
    * metaData carries the mapping (fixture mirrors delta-spark output).
    */
  private def writeFixture(): String = {
    val table = tmpDir("cmap_delta")
    import spark.implicits._
    Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"))
      .toDF(PhysId, PhysName)
      .coalesce(1).write.mode("overwrite").parquet(table + "/stage")
    val part = new java.io.File(table + "/stage").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, Paths.get(table, "f1.parquet"))
    val size = Files.size(Paths.get(table, "f1.parquet"))

    val logical = StructType(Seq(
      StructField("s_id", LongType, nullable = true,
        metadata = new MetadataBuilder()
          .putString(DeltaColumnMapping.PhysicalNameKey, PhysId)
          .putLong(DeltaColumnMapping.IdKey, 1L).build()),
      StructField("s_name", StringType, nullable = true,
        metadata = new MetadataBuilder()
          .putString(DeltaColumnMapping.PhysicalNameKey, PhysName)
          .putLong(DeltaColumnMapping.IdKey, 2L).build())))
    val schemaJson = logical.json.replace("\"", "\\\"")
    val stats =
      s"""{\\"numRecords\\":3,\\"minValues\\":{\\"$PhysId\\":1},""" +
      s"""\\"maxValues\\":{\\"$PhysId\\":3},""" +
      s"""\\"nullCount\\":{\\"$PhysId\\":0,\\"$PhysName\\":0}}"""
    val log =
      s"""{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}
         |{"metaData":{"id":"cmap-test","schemaString":"$schemaJson","partitionColumns":[],"configuration":{"${DeltaColumnMapping.ModeKey}":"name"},"createdTime":1}}
         |{"add":{"path":"f1.parquet","size":$size,"modificationTime":1000,"partitionValues":{},"stats":"$stats","dataChange":true}}
         |""".stripMargin
    Files.createDirectories(Paths.get(table, "_delta_log"))
    Files.write(Paths.get(table, "_delta_log",
      "00000000000000000000.json"), log.getBytes(StandardCharsets.UTF_8))
    table
  }

  test("column-mapped delta table reads logical names with real values") {
    val table = writeFixture()
    val src = new DeltaConversionSource(spark, table, "mapped")
    val schema = src.currentTable().schema
    assert(schema.fieldNames.toSeq == Seq("s_id", "s_name"))

    val df = src.toDataFrame
    assert(df.columns.toSeq == Seq("s_id", "s_name"))
    val rows = df.orderBy("s_id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(rows.map(_.getString(1)).toSeq == Seq("alpha", "beta", "gamma"))
  }

  test("stats and listing surface logical field names") {
    val table = writeFixture()
    val src = new DeltaConversionSource(spark, table, "mapped")
    val files = src.currentSnapshot().files.collect()
    assert(files.length == 1)
    val statFields = files.head.columnStats.map(_.field)
    assert(statFields.contains("s_id"), statFields.mkString(","))
    assert(!statFields.exists(_.startsWith("col-")), statFields.mkString(","))
    val idStat = files.head.columnStats.find(_.field == "s_id").get
    assert(idStat.min.contains("1") && idStat.max.contains("3"))
  }

  test("column mapping renames nested struct fields at every level") {
    val table = tmpDir("cmap_nested")
    import org.apache.spark.sql.functions.{col, struct}
    import spark.implicits._
    // physical layout: col-k bigint, col-s struct<col-x bigint, col-y string>
    Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("col-k", "x", "y")
      .select(col("col-k"),
        struct(col("x").as("col-x"), col("y").as("col-y")).as("col-s"))
      .coalesce(1).write.mode("overwrite").parquet(table + "/stage")
    val part = new java.io.File(table + "/stage").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, Paths.get(table, "f1.parquet"))
    val size = Files.size(Paths.get(table, "f1.parquet"))

    def mapped(phys: String, id: Long) = new MetadataBuilder()
      .putString(DeltaColumnMapping.PhysicalNameKey, phys)
      .putLong(DeltaColumnMapping.IdKey, id).build()
    val logical = StructType(Seq(
      StructField("k", LongType, nullable = true, metadata = mapped("col-k", 1)),
      StructField("s", StructType(Seq(
        StructField("x", LongType, nullable = true, metadata = mapped("col-x", 3)),
        StructField("y", StringType, nullable = true, metadata = mapped("col-y", 4)))),
        nullable = true, metadata = mapped("col-s", 2))))
    assert(DeltaColumnMapping.isMapped(logical))
    val schemaJson = logical.json.replace("\"", "\\\"")
    val log =
      s"""{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}
         |{"metaData":{"id":"cmap-nested","schemaString":"$schemaJson","partitionColumns":[],"configuration":{"${DeltaColumnMapping.ModeKey}":"name"},"createdTime":1}}
         |{"add":{"path":"f1.parquet","size":$size,"modificationTime":1000,"partitionValues":{},"stats":"{\\"numRecords\\":2}","dataChange":true}}
         |""".stripMargin
    Files.createDirectories(Paths.get(table, "_delta_log"))
    Files.write(Paths.get(table, "_delta_log",
      "00000000000000000000.json"), log.getBytes(StandardCharsets.UTF_8))

    val df = new DeltaConversionSource(spark, table, "nested").toDataFrame
    assert(df.columns.toSeq == Seq("k", "s"))
    assert(df.schema("s").dataType.asInstanceOf[StructType]
      .fieldNames.toSeq == Seq("x", "y"))
    val rows = df.orderBy("k").selectExpr("k", "s.x", "s.y").collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq ==
      Seq((1L, 10L, "a"), (2L, 20L, "b")))
  }

  test("rewrite ops on column-mapped tables write physical names") {
    import org.apache.spark.sql.functions._
    val table = writeFixture()
    // UPDATE: replacement files must be written under PHYSICAL names —
    // a logical-name file would read back as nulls via the mapped scan
    assert(DeltaDeletes.updateWhere(spark, table, col("s_id") === 1L,
      Map("s_name" -> lit("zed"))) == 1L)
    val afterUpd = new DeltaConversionSource(spark, table, "mapped")
      .toDataFrame.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(afterUpd(1L) == "zed" && afterUpd.size == 3, afterUpd.toString)
    // MERGE: matched key updated, fresh key inserted
    val (m, i) = DeltaDeletes.mergeInto(spark, table,
      spark.createDataFrame(Seq((3L, "three"), (9L, "nine")))
        .toDF("s_id", "s_name"), Seq("s_id"))
    assert(m == 1L && i == 1L)
    val afterMerge = new DeltaConversionSource(spark, table, "mapped")
      .toDataFrame.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(afterMerge(3L) == "three" && afterMerge(9L) == "nine" &&
      afterMerge.size == 4, afterMerge.toString)
    // replacement parquet really spells physical column names
    val conf = graft.util.HadoopConfs.session(spark)
    val newest = new DeltaConversionSource(spark, table, "mapped")
      .currentSnapshot().files.collect()
      .filter(_.path.contains("/merge-")).head
    val (_, stats) = graft.sources.ParquetFooters
      .readFooterStats(newest.path, conf, None)
    assert(stats.map(_.field).forall(_.startsWith("col-")),
      stats.map(_.field).toSeq.toString)

    // deleteWhere stays DV-only; the protocol keeps implied features
    assert(DeltaDeletes.deleteWhere(spark, table, col("s_id") === 2L) == 1L)
    val got = new DeltaConversionSource(spark, table, "mapped")
      .toDataFrame.select("s_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(1L, 3L, 9L))
    val p = DeltaSnapshot.protocolInfo(spark, table,
      DeltaLog.listVersions(table, conf)).get
    assert(p.readerFeatures == Seq("columnMapping", "deletionVectors"))
    assert(p.writerFeatures.contains("columnMapping"))
  }

  test("batch append and streaming sink write physical names on mapped tables") {
    val table = writeFixture()
    import spark.implicits._
    val res = DeltaWrite.write(spark, table,
      Seq((7L, "seven")).toDF("s_id", "s_name"), overwrite = false)
    assert(res.added == 1)
    val after = new DeltaConversionSource(spark, table, "mapped")
      .toDataFrame.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(after(7L) == "seven" && after.size == 4, after.toString)
    // the streaming micro-batch path takes the same physical rename
    assert(DeltaStreamSink.appendBatch(spark, table,
      Seq((8L, "eight")).toDF("s_id", "s_name"), "cmap-app", 0L))
    val after2 = new DeltaConversionSource(spark, table, "mapped")
      .toDataFrame.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(after2(8L) == "eight" && after2.size == 5, after2.toString)
  }

  test("schema gate refuses renamed columns even when types match") {
    val table = writeFixture()
    import spark.implicits._
    val e = intercept[IllegalArgumentException] {
      DeltaWrite.write(spark, table,
        Seq((7L, "x")).toDF("wrong_name", "s_name"), overwrite = false)
    }
    assert(e.getMessage.contains("does not match"), e.getMessage)
  }

  test("ADD CONSTRAINT preserves the table-features protocol") {
    import org.apache.spark.sql.functions._
    val table = writeFixture()
    // deleteWhere upgrades to reader 3 / writer 7 with feature lists
    assert(DeltaDeletes.deleteWhere(spark, table, col("s_id") === 2L) == 1L)
    DeltaConstraints.addCheck(spark, table, "pos", "s_id > 0")
    val conf = graft.util.HadoopConfs.session(spark)
    val p = DeltaSnapshot.protocolInfo(spark, table,
      DeltaLog.listVersions(table, conf)).get
    assert(p.minWriterVersion == 7, p.toString)
    assert(p.writerFeatures.contains("deletionVectors"), p.toString)
    assert(p.writerFeatures.contains("checkConstraints"), p.toString)
    assert(p.readerFeatures.contains("columnMapping"), p.toString)
    // and the constraint itself binds subsequent writes
    val e = intercept[IllegalArgumentException] {
      import spark.implicits._
      DeltaWrite.write(spark, table,
        Seq((-1L, "neg")).toDF("s_id", "s_name"), overwrite = false)
    }
    assert(e.getMessage.toLowerCase.contains("pos"), e.getMessage)
  }

  test("incremental diff of a mapped table ships the snapshot's entries") {
    // the fixture's v2 add keys its stats by PHYSICAL column name; the
    // diff must resolve them to logical names exactly as the listing does
    val dir = new java.io.File(
      "src/test/resources/golden/delta_mapped_people").getAbsolutePath
    val src = new DeltaConversionSource(spark, dir, "people")
    val added = src.changeForCommit("2").diff.added.collect()
    val listed = src.snapshotAt(2L).files.collect().map(f => f.path -> f).toMap
    assert(added.length == 1)
    added.foreach(f => assert(listed.get(f.path).contains(f), f.toString))
    assert(added.head.columnStats.exists(s =>
      s.field == "id" && s.min.contains("4") && s.max.contains("5")))
  }
}

package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.formats.delta._
import graft.formats.delta.DeltaSnapshot.{CkptDomainMetadata, DeltaLogState, ProtocolInfo}
import graft.model.FilesDelta

/** `DeltaSnapshot.state` — one decode of the newest checkpoint plus the
  * commit JSON after it — against a reference that folds every commit
  * JSON line of the log. Each table is checked with the JSON before its
  * checkpoint present and deleted, over every checkpoint shape the
  * replay reads.
  */
class DeltaLogStateSpec extends SparkSuite {

  import spark.implicits._

  private def conf = graft.util.HadoopConfs.session(spark)
  private def versionsOf(dir: String): Seq[Long] =
    DeltaLog.listVersions(dir, conf)
  private def state(dir: String): DeltaLogState =
    DeltaSnapshot.state(spark, dir, versionsOf(dir))

  private val mapper = new ObjectMapper()

  /** Reference: every commit JSON line present in the log up to version
    * `upTo`, folded in order — the last action wins per kind, per domain
    * and per appId.
    */
  private def jsonFold(dir: String, upTo: Long = Long.MaxValue)
      : DeltaLogState = {
    def strs(a: JsonNode): Seq[String] =
      if (a == null || a.isNull) Nil
      else a.elements().asScala.map(_.asText).toList
    versionsOf(dir).filter(_ <= upTo)
      .flatMap(v => Files.readAllLines(
        Paths.get(DeltaLog.versionFile(dir, v))).asScala)
      .filter(_.nonEmpty).map(mapper.readTree)
      .foldLeft(DeltaLogState.Empty) { (st, n) =>
        if (n.has("protocol")) {
          val p = n.get("protocol")
          st.copy(protocol = Some(ProtocolInfo(
            p.get("minReaderVersion").asInt, p.get("minWriterVersion").asInt,
            strs(p.get("readerFeatures")), strs(p.get("writerFeatures")))))
        } else if (n.has("metaData")) {
          val m = n.get("metaData")
          val config = Option(m.get("configuration")).toSeq
            .flatMap(_.properties().asScala)
            .map(e => e.getKey -> e.getValue.asText).toMap
          st.copy(metaData = Some(DeltaMeta(
            Option(m.get("id")).fold("")(_.asText),
            m.get("schemaString").asText, strs(m.get("partitionColumns")),
            config, Option(m.get("createdTime")).fold(0L)(_.asLong))))
        } else if (n.has("domainMetadata")) {
          val d = n.get("domainMetadata")
          st.copy(domains = st.domains + (d.get("domain").asText ->
            CkptDomainMetadata(d.get("domain").asText,
              d.get("configuration").asText, d.get("removed").asBoolean)))
        } else if (n.has("txn")) {
          val t = n.get("txn")
          st.copy(txns = st.txns + (t.get("appId").asText ->
            t.get("version").asLong))
        } else st
      }
  }

  private def copyOf(dir: String): String = {
    val to = tmpDir("state_copy")
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(dir),
      new java.io.File(to))
    to
  }

  private def schemaOf(dir: String) =
    DeltaSnapshot.metadata(spark, dir, versionsOf(dir)).get.schema

  /** Deletes a file the Hadoop way, its checksum sidecar included. */
  private def delete(file: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(file)
    assert(p.getFileSystem(conf).delete(p, false), file)
  }

  /** `df` written as exactly `dests.size` parquet files at `dests`. */
  private def writeAs(df: DataFrame, dests: Seq[String]): Unit = {
    val stage = s"${tmpDir("state_stage")}/out"
    df.repartition(dests.size).write.parquet(stage)
    val parts = new java.io.File(stage).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    assert(parts.length == dests.size)
    parts.zip(dests).foreach { case (f, d) =>
      Files.move(f.toPath, Paths.get(d))
    }
  }

  test("golden fixtures: state equals the full-JSON fold, with a " +
    "checkpoint at the head and with the JSON before it deleted") {
    Seq("delta_dimGeography", "delta_dv_people", "delta_mapped_people",
      "delta_rowtracking").foreach { name =>
      val dir = copyOf(
        new java.io.File(s"src/test/resources/golden/$name").getAbsolutePath)
      val ref = jsonFold(dir)
      assert(ref.protocol.isDefined && ref.metaData.isDefined, name)
      assert(state(dir) == ref, name)
      DeltaSnapshot.writeCheckpoint(spark, dir, versionsOf(dir).last,
        schemaOf(dir))
      assert(state(dir) == ref, s"$name, checkpointed")
      DeltaLog.cleanupLogBeforeCheckpoint(dir, conf)
      assert(state(dir) == ref, s"$name, checkpointed and cleaned")
    }
  }

  /** v0 create, v1-v3 sink batches (two appIds), v4 row tracking on,
    * v5 a DV delete, v6 an append (high-water mark), v7 a txn-only
    * commit, v8 change data feed on (protocol + metaData).
    */
  private lazy val richTable: String = {
    val dir = tmpDir("state_rich")
    DeltaWrite.write(spark, dir, (0 until 8).map(i => (i.toLong, s"v$i"))
      .toDF("k", "v").repartition(2), overwrite = false)
    val batch = Seq((100L, "s")).toDF("k", "v")
    assert(DeltaStreamSink.appendBatch(spark, dir, batch, "app", 0L))
    assert(DeltaStreamSink.appendBatch(spark, dir, batch, "app", 1L))
    assert(DeltaStreamSink.appendBatch(spark, dir, batch, "other", 0L))
    DeltaRowTracking.enable(spark, dir)
    assert(DeltaDeletes.deleteWhere(spark, dir, col("k") === 1L) == 1L)
    DeltaWrite.write(spark, dir, Seq((200L, "w")).toDF("k", "v"),
      overwrite = false)
    assert(DeltaLog.writeCommit(dir, 7L, Iterator(
      """{"txn":{"appId":"app","version":2,"lastUpdated":7}}""",
      """{"commitInfo":{"timestamp":7,"operation":"STREAMING UPDATE"}}""")))
    DeltaChanges.enableChangeDataFeed(spark, dir)
    assert(versionsOf(dir) == (0L to 8L))
    dir
  }

  /** Checkpoint shapes at version `v`, each writing only the checkpoint. */
  private val shapes: Seq[(String, (String, Long) => Unit)] = Seq(
    "classic" -> { (dir, v) =>
      DeltaSnapshot.writeCheckpoint(spark, dir, v, schemaOf(dir)) },
    "multi-part" -> { (dir, v) =>
      DeltaSnapshot.writeCheckpoint(spark, dir, v, schemaOf(dir))
      val single = DeltaLog.checkpointFile(dir, v)
      writeAs(spark.read.parquet(single),
        Seq(1, 2).map(DeltaLog.checkpointPartFile(dir, v, _, 2)))
      delete(single) },
    "v2" -> { (dir, v) =>
      DeltaSnapshot.writeCheckpointV2(spark, dir, v, schemaOf(dir)) },
    // the add/remove-only shape graft wrote before spec-shaped rows
    "legacy flat" -> { (dir, v) =>
      writeAs(DeltaSnapshot.liveAdds(spark, dir,
        versionsOf(dir).filter(_ <= v)).toDF(),
        Seq(DeltaLog.checkpointFile(dir, v))) },
    // the classic shape written before txns were checkpointed: no txn
    // column, protocol rows without feature lists
    "pre-txn" -> { (dir, v) =>
      DeltaSnapshot.writeCheckpoint(spark, dir, v, schemaOf(dir))
      val single = DeltaLog.checkpointFile(dir, v)
      val old = spark.read.parquet(single).filter(col("txn").isNull)
        .drop("txn")
        .withColumn("protocol", when(col("protocol").isNotNull, struct(
          col("protocol.minReaderVersion"), col("protocol.minWriterVersion"))))
        .localCheckpoint()
      delete(single)
      writeAs(old, Seq(single)) })

  test("generated tables: every checkpoint shape decodes the full-JSON " +
    "fold; after cleanup a kind the checkpoint lacks comes from the " +
    "JSON left") {
    val ref8 = jsonFold(richTable)
    assert(ref8.protocol.exists(p =>
      p.readerFeatures.contains("deletionVectors") &&
        p.writerFeatures.contains("rowTracking")), ref8.protocol)
    assert(ref8.domains.contains(DeltaRowTracking.Domain))
    assert(ref8.txns == Map("app" -> 2L, "other" -> 0L))
    for ((cp, head) <- Seq((6L, 6L), (6L, 8L), (8L, 8L));
         (shape, write) <- shapes) {
      val what = s"$shape checkpoint at $cp, head $head"
      val dir = copyOf(richTable)
      (head + 1 to 8L).foreach(v =>
        Files.delete(Paths.get(DeltaLog.versionFile(dir, v))))
      val ref = jsonFold(dir)
      write(dir, cp)
      assert(state(dir) == ref, what)
      DeltaLog.cleanupLogBeforeCheckpoint(dir, conf)
      assert(versionsOf(dir).head == cp)
      val left = jsonFold(dir)
      val expected = shape match {
        case "legacy flat" => left
        case "pre-txn" => ref.copy(txns = left.txns,
          protocol = left.protocol.orElse(ref.protocol.map(p =>
            p.copy(readerFeatures = Nil, writerFeatures = Nil))))
        case _ => ref
      }
      assert(state(dir) == expected, s"$what, cleaned")
    }
  }

  test("a DV + rowTracking table keeps its protocol features through a " +
    "checkpoint and log cleanup: row ids still advance, a sync restates " +
    "them") {
    val dir = tmpDir("state_features")
    DeltaWrite.write(spark, dir, (0 until 6).map(i => (i.toLong, s"v$i"))
      .toDF("k", "v").repartition(2), overwrite = false)
    DeltaRowTracking.enable(spark, dir)
    assert(DeltaDeletes.deleteWhere(spark, dir, col("k") === 2L) == 1L)
    // an append restates no protocol: after cleanup only the checkpoint
    // carries it
    DeltaWrite.write(spark, dir, Seq((40L, "a")).toDF("k", "v"),
      overwrite = false)
    def protocol = DeltaSnapshot.protocolInfo(spark, dir, versionsOf(dir)).get
    val before = protocol
    assert(before.readerFeatures.contains("deletionVectors") &&
      before.writerFeatures.contains(DeltaRowTracking.FeatureName), before)
    DeltaSnapshot.writeCheckpoint(spark, dir, versionsOf(dir).last,
      schemaOf(dir))
    assert(DeltaLog.cleanupLogBeforeCheckpoint(dir, conf) > 0)
    assert(protocol == before)

    def headActions = Files.readAllLines(Paths.get(DeltaLog.versionFile(
      dir, versionsOf(dir).last))).asScala.map(mapper.readTree)
    // row tracking still binds: an append advances the high-water mark
    DeltaWrite.write(spark, dir, Seq((50L, "n")).toDF("k", "v"),
      overwrite = false)
    assert(headActions.exists(_.has("domainMetadata")))
    // a sync commit restates the protocol it read, features included
    val target = new DeltaConversionTarget(spark, dir)
    target.beginSync(new DeltaConversionSource(spark, dir, "t").currentTable())
    target.syncFilesForDiff(FilesDelta(
      spark.emptyDataset[graft.model.FileEntry],
      spark.emptyDataset[graft.model.FileEntry]))
    target.completeSync()
    val p = headActions.find(_.has("protocol")).get.get("protocol")
    def strs(a: JsonNode) = a.elements().asScala.map(_.asText).toSeq
    assert(strs(p.get("readerFeatures")) == before.readerFeatures, p)
    assert(strs(p.get("writerFeatures")) == before.writerFeatures, p)
  }

  // ---- hand-written commit lines over fake data files (nothing reads
  // the files: state, checkpoints and diffs need only the log)
  private def line(kind: String, action: Map[String, Any]) =
    graft.util.Jsons.toJson(Map(kind -> action))
  private def protocolLine(reader: Int, writer: Int,
      readerFeatures: Seq[String] = Nil, writerFeatures: Seq[String] = Nil) =
    line("protocol", Map("minReaderVersion" -> reader,
      "minWriterVersion" -> writer) ++
      (if (reader >= 3) Map("readerFeatures" -> readerFeatures)
       else Map.empty) ++
      (if (writer >= 7) Map("writerFeatures" -> writerFeatures)
       else Map.empty))
  private def metaLine(columns: Seq[String],
      configuration: Map[String, String] = Map.empty) =
    line("metaData", Map("id" -> "t",
      "format" -> Map("provider" -> "parquet", "options" -> Map.empty),
      "schemaString" -> columns.foldLeft(
        new org.apache.spark.sql.types.StructType())(_.add(_, "long")).json,
      "partitionColumns" -> Nil, "configuration" -> configuration,
      "createdTime" -> 1L))
  private def addLine(v: Long) = line("add", Map("path" -> s"f$v.parquet",
    "partitionValues" -> Map.empty, "size" -> 10L,
    "modificationTime" -> v, "dataChange" -> true,
    "stats" -> """{"numRecords":1}"""))
  private def txnLine(app: String, v: Long) =
    line("txn", Map("appId" -> app, "version" -> v))
  private def domainLine(domain: String, configuration: String,
      removed: Boolean = false) =
    line("domainMetadata", Map("domain" -> domain,
      "configuration" -> configuration, "removed" -> removed))

  /** `body`'s result and the Spark jobs it launched. */
  private def jobsDuring[A](body: => A): (A, Seq[String]) = {
    val sentinel = "jobsDuring sentinel"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add(Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(j.stageInfos.map(_.name).mkString("+")))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      // the listener bus is async: a sentinel job's start event arrives
      // after every earlier one (FIFO bus)
      spark.sparkContext.setJobDescription(sentinel)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      val deadline = System.nanoTime() + 10_000_000_000L
      while (!jobs.contains(sentinel) && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(jobs.contains(sentinel))
      (out, jobs.asScala.toSeq.filterNot(_ == sentinel))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a 70-version table checkpointed at version 70 decodes its state " +
    "in at most one Spark job") {
    val dir = tmpDir("state_jobs")
    (0L to 70L).foreach { v =>
      val header =
        if (v > 0) Nil else Seq(protocolLine(1, 2), metaLine(Seq("id")))
      assert(DeltaLog.writeCommit(dir, v,
        (header ++ Seq(addLine(v), txnLine(s"app${v % 3}", v))).iterator))
    }
    val versions = versionsOf(dir)
    DeltaSnapshot.writeCheckpoint(spark, dir, 70L, schemaOf(dir))

    val (st, jobs) = jobsDuring(DeltaSnapshot.state(spark, dir, versions))
    assert(jobs.size <= 1, s"jobs: $jobs")
    assert(st == jsonFold(dir))
    assert(st.txns == Map("app0" -> 69L, "app1" -> 70L, "app2" -> 68L))
  }

  test("a source reading a growing table one version at a time equals " +
    "the full-JSON fold at every version, and decodes afresh past a " +
    "cleaned gap") {
    val dir = tmpDir("state_fold")
    val dv = Seq("deletionVectors")
    val commits: Map[Long, Seq[String]] = Map(
      0L -> Seq(protocolLine(1, 2), metaLine(Seq("id"))),
      1L -> Seq(txnLine("app0", 1L)),
      2L -> Seq(protocolLine(3, 7, dv, dv :+ "domainMetadata")),
      4L -> Seq(metaLine(Seq("id", "n"), Map("k" -> "v1"))),
      5L -> Seq(domainLine("d1", "c1")),
      6L -> Seq(txnLine("app1", 6L)),
      7L -> Seq(domainLine("d1", "", removed = true), domainLine("d2", "c2")),
      8L -> Seq(metaLine(Seq("id", "n"), Map("k" -> "v2"))),
      9L -> Seq(protocolLine(3, 7, dv :+ "timestampNtz",
        dv ++ Seq("domainMetadata", "timestampNtz"))),
      10L -> Seq(txnLine("app0", 10L)),
      12L -> Seq(txnLine("app2", 12L)))
    def commit(v: Long): Unit = assert(DeltaLog.writeCommit(dir, v,
      (commits.getOrElse(v, Nil) :+ addLine(v)).iterator))
    val src = new DeltaConversionSource(spark, dir, "t")
    (0L to 11L).foreach { v =>
      commit(v)
      if (Set(3L, 6L, 10L)(v))
        DeltaSnapshot.writeCheckpoint(spark, dir, v, schemaOf(dir))
      assert(src.stateAt(versionsOf(dir)) == jsonFold(dir), s"version $v")
    }
    val held = src.stateAt(versionsOf(dir))
    assert(held.protocol.exists(_.readerFeatures.contains("timestampNtz")))
    assert(held.metaData.exists(m => m.configuration == Map("k" -> "v2") &&
      m.schema.fieldNames.toSeq == Seq("id", "n")))
    assert(held.domains.keySet == Set("d1", "d2") && held.domains("d1").removed)
    assert(held.txns == Map("app0" -> 10L, "app1" -> 6L))
    // earlier heads read by the same source still match
    Seq(4L, 9L).foreach(v =>
      assert(src.stateAt(versionsOf(dir).filter(_ <= v)) == jsonFold(dir, v)))

    // version 12 carries the only app2 txn; cleanup after a checkpoint at
    // 13 removes it together with the held head's version file
    commit(12L); commit(13L)
    DeltaSnapshot.writeCheckpoint(spark, dir, 13L, schemaOf(dir))
    val ref = jsonFold(dir)
    assert(ref.txns.get("app2").contains(12L))
    assert(DeltaLog.cleanupLogBeforeCheckpoint(dir, conf) == 13)
    assert(versionsOf(dir) == Seq(13L))
    // a start below a gap is not folded from
    assert(DeltaSnapshot.state(spark, dir, versionsOf(dir),
      Some((11L, held))) == ref)
    assert(src.stateAt(versionsOf(dir)) == ref)
  }

  test("a folded commit that raises an unsupported reader feature refuses " +
    "as the full decode does") {
    val dir = tmpDir("state_refuse")
    assert(DeltaLog.writeCommit(dir, 0L, Iterator(protocolLine(1, 2),
      metaLine(Seq("id")), addLine(0L))))
    assert(DeltaLog.writeCommit(dir, 1L, Iterator(addLine(1L))))
    DeltaSnapshot.writeCheckpoint(spark, dir, 1L, schemaOf(dir))
    val src = new DeltaConversionSource(spark, dir, "t")
    src.currentTable()
    assert(DeltaLog.writeCommit(dir, 2L, Iterator(protocolLine(3, 7,
      Seq("deletionVectors", "futureFeature"), Seq("deletionVectors")),
      addLine(2L))))
    val folded = intercept[UnsupportedOperationException](src.currentTable())
    val decoded = intercept[UnsupportedOperationException](
      new DeltaConversionSource(spark, dir, "t").currentTable())
    assert(folded.getMessage.contains("futureFeature"), folded.getMessage)
    assert(folded.getMessage == decoded.getMessage)
  }

  test("a table dropped and re-created at the same path: the same source " +
    "reports the new schema") {
    val dir = tmpDir("state_recreate")
    (0 until 3).foreach(i => DeltaWrite.write(spark, dir,
      Seq((i.toLong, s"v$i")).toDF("k", "v"), overwrite = false))
    val src = new DeltaConversionSource(spark, dir, "t")
    assert(src.currentTable().schema.fieldNames.toSeq == Seq("k", "v"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    (0 until 5).foreach(i => DeltaWrite.write(spark, dir,
      Seq((i, s"n$i", i * 1.5)).toDF("a", "b", "c"), overwrite = false))
    assert(versionsOf(dir).last == 4L)
    assert(src.currentTable().schema.fieldNames.toSeq == Seq("a", "b", "c"))
  }

  test("a steady-state changeForCommit on a checkpointed table launches " +
    "no Spark job") {
    val dir = tmpDir("state_steady")
    (0L to 10L).foreach { v =>
      val header =
        if (v > 0) Nil else Seq(protocolLine(1, 2), metaLine(Seq("id")))
      assert(DeltaLog.writeCommit(dir, v, (header :+ addLine(v)).iterator))
    }
    DeltaSnapshot.writeCheckpoint(spark, dir, 10L, schemaOf(dir))
    val src = new DeltaConversionSource(spark, dir, "t")
    src.changeForCommit("10")
    assert(DeltaLog.writeCommit(dir, 11L, Iterator(addLine(11L))))
    val (change, jobs) = jobsDuring(src.changeForCommit("11"))
    assert(jobs.isEmpty, s"jobs: $jobs")
    assert(change.diff.added.fold(_.toSeq, _.collect().toSeq).map(_.path) ==
      Seq(s"$dir/f11.parquet"))
  }
}

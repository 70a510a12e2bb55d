package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}

/** `spark.readStream.format("graft")` — the streaming SOURCE: initial
  * snapshot, per-commit insert tailing, checkpoint-resume exactly-once,
  * non-append refusal/skip, bounded catch-up, and all four formats.
  */
class GraftStreamSourceSpec extends SparkSuite {

  private def events4(n: Int): DataFrame = {
    import spark.implicits._
    (0 until n).map(i =>
      (i.toLong, (i % 7).toLong, s"type_${i % 3}", i * 1.5))
      .toDF("event_id", "user_id", "event_type", "value")
  }

  private def drain(table: String, out: String, ckpt: String,
      options: Map[String, String] = Map.empty): Unit = {
    val r = spark.readStream.format("graft")
    options.foreach { case (k, v) => r.option(k, v) }
    val q = r.load(table).writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  private def sorted(df: DataFrame): Seq[Row] =
    df.orderBy("event_id").collect().toSeq

  test("delta: initial snapshot, then per-commit inserts, exactly once " +
    "across checkpoint resumes") {
    val table = tmpDir("gss_delta")
    val out = tmpDir("gss_delta_out")
    val ckpt = tmpDir("gss_delta_ckpt")
    val all = events4(90)
    graft.formats.delta.DeltaWrite.write(spark, table,
      all.filter(col("event_id") < 30), overwrite = false)
    drain(table, out, ckpt)
    assert(sorted(spark.read.parquet(out)) ==
      sorted(all.filter(col("event_id") < 30)))

    // two more commits land; a resumed stream serves exactly their rows
    graft.formats.delta.DeltaWrite.write(spark, table,
      all.filter(col("event_id") >= 30 && col("event_id") < 60),
      overwrite = false)
    graft.formats.delta.DeltaWrite.write(spark, table,
      all.filter(col("event_id") >= 60), overwrite = false)
    drain(table, out, ckpt)
    assert(sorted(spark.read.parquet(out)) == sorted(all))

    // nothing new: a third resume delivers nothing
    drain(table, out, ckpt)
    assert(spark.read.parquet(out).count() == 90)
  }

  test("delta: a delete commit refuses loudly by default") {
    val table = tmpDir("gss_refuse")
    val out = tmpDir("gss_refuse_out")
    val ckpt = tmpDir("gss_refuse_ckpt")
    graft.formats.delta.DeltaWrite.write(spark, table, events4(40),
      overwrite = false)
    drain(table, out, ckpt)
    require(graft.formats.delta.DeltaDeletes.deleteWhere(spark, table,
      col("event_id") < 10) > 0)
    val e = intercept[StreamingQueryException] {
      drain(table, out, ckpt)
    }
    val msg = Option(e.getCause).map(_.toString).getOrElse("") + e.getMessage
    assert(msg.contains("updated or deleted rows") ||
      msg.contains("USER_RAISED_EXCEPTION"),
      s"unexpected failure: $msg")
  }

  test("delta: skipChangeCommits drops the whole change commit but " +
    "keeps tailing later appends") {
    val table = tmpDir("gss_skip")
    val out = tmpDir("gss_skip_out")
    val ckpt = tmpDir("gss_skip_ckpt")
    val all = events4(80)
    graft.formats.delta.DeltaWrite.write(spark, table,
      all.filter(col("event_id") < 40), overwrite = false)
    drain(table, out, ckpt, Map("skipChangeCommits" -> "true"))
    require(graft.formats.delta.DeltaDeletes.deleteWhere(spark, table,
      col("event_id") < 5) > 0)
    graft.formats.delta.DeltaWrite.write(spark, table,
      all.filter(col("event_id") >= 40), overwrite = false)
    drain(table, out, ckpt, Map("skipChangeCommits" -> "true"))
    // the delete commit vanished from the stream; both appends served
    assert(sorted(spark.read.parquet(out)) == sorted(all))
  }

  test("iceberg v3: a deletion-vector commit skips cleanly and later " +
    "appends keep streaming") {
    val table = tmpDir("gss_v3")
    val out = tmpDir("gss_v3_out")
    val ckpt = tmpDir("gss_v3_ckpt")
    val stage = tmpDir("gss_v3_stage")
    val all = events4(60)
    all.filter(col("event_id") < 30).coalesce(1)
      .write.mode("overwrite").parquet(stage)
    val src = new graft.sources.ParquetDirectorySource(spark, stage, "ev")
    val outcomes = graft.sync.TableFormatSync.syncSnapshot(
      Seq(new graft.formats.iceberg.IcebergConversionTarget(spark, table)),
      src.currentSnapshot(), src.sourceFormat)
    assert(outcomes.forall(_.status == "SUCCESS"), outcomes.mkString(";"))
    drain(table, out, ckpt, Map("skipChangeCommits" -> "true"))
    assert(spark.read.parquet(out).count() == 30)

    // a DV commit (upgrades to v3) masks 5 rows — not representable as
    // an append; skipChangeCommits drops the whole commit
    val f = new graft.formats.iceberg.IcebergConversionSource(
      spark, table, "ev").currentSnapshot().files.collect()(0)
    graft.formats.iceberg.IcebergDeletes.appendDeletionVectors(spark,
      table, Map(f.path -> (0L until 5L)))
    // a v3 blind append lands after the DV commit; the resumed stream
    // serves exactly its rows and nothing from the DV commit
    val stage2 = tmpDir("gss_v3_stage2")
    all.filter(col("event_id") >= 30).coalesce(1)
      .write.mode("overwrite").parquet(stage2)
    graft.formats.iceberg.IcebergDeletes.appendDataFiles(spark, table,
      stage2)
    // sanity: the live file set carries across the DV and append commits
    val mProbe = graft.formats.iceberg.IcebergMetadata.read(table,
      graft.formats.iceberg.IcebergMetadata.currentVersion(table).get)
    def pathsAt(seq: Long): Set[String] =
      graft.formats.iceberg.IcebergManifests.liveFiles(spark,
          graft.formats.iceberg.IcebergManifests.dataManifests(
            mProbe.snapshotBySeq(seq).get.manifestList), mProbe.schema)
        .fold(_.map(_.path).toSet, _.collect().map(_.path).toSet)
    val paths2 = pathsAt(2L)
    val paths3 = pathsAt(3L)
    assert(paths2.subsetOf(paths3), s"lost files: ${paths2.diff(paths3)}")
    info(s"paths2=${paths2.size} paths3=${paths3.size}")
    val delRows = graft.formats.iceberg.IcebergChanges
      .changesBetween(spark, table, 2L, 3L)
      .filter(col("_change_type") === "delete")
      .select("event_id").collect().map(_.getLong(0)).sorted
    info(s"v3-step deletes: ${delRows.mkString(",")}")
    // sanity: the row-level feed sees 5 deletes @seq2 and 30 inserts @seq3
    val feed = graft.formats.iceberg.IcebergChanges
      .changesBetween(spark, table, 1L, 3L)
      .groupBy("_commit_version", "_change_type").count().collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(feed == Set((2L, "delete", 5L), (3L, "insert", 30L)), feed)
    drain(table, out, ckpt, Map("skipChangeCommits" -> "true"))
    assert(spark.read.parquet(out).count() == 60)

    // a FRESH stream starting on the DV-carrying table serves the
    // MASKED snapshot (25 survivors + 30 appended)
    val ckpt2 = tmpDir("gss_v3_ckpt2")
    val out2 = tmpDir("gss_v3_out2")
    drain(table, out2, ckpt2)
    assert(spark.read.parquet(out2).count() == 55)

    // a NEW DV commit mid-stream refuses loudly without the option
    graft.formats.iceberg.IcebergDeletes.appendDeletionVectors(spark,
      table, Map(f.path -> Seq(6L)))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain(table, out2, ckpt2)
    }
    val msg = Option(e.getCause).map(_.toString).getOrElse("") + e.getMessage
    assert(msg.contains("updated or deleted rows") ||
      msg.contains("USER_RAISED_EXCEPTION"), s"unexpected failure: $msg")
  }

  test("maxVersionsPerTrigger bounds catch-up to one commit per batch") {
    val table = tmpDir("gss_cap")
    val outDir = tmpDir("gss_cap_out")
    val ckpt = tmpDir("gss_cap_ckpt")
    val all = events4(100)
    (0 until 4).foreach { i =>
      graft.formats.delta.DeltaWrite.write(spark, table,
        all.filter(col("event_id") % 4 === i), overwrite = false)
    }
    val batches = new AtomicInteger(0)
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = spark.readStream.format("graft")
      .option("startingVersion", "-1") // whole history via the feed
      .option("maxVersionsPerTrigger", "1")
      .load(table)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, _: Long) =>
        batches.incrementAndGet()
        b.select("event_id").collect().foreach(r => got.add(r.getLong(0)))
        () // Unit, not the deprecated VoidFunction overload
      }
      .start()
    // default trigger: getOffset per micro-batch, so the cap shapes
    // every batch (AvailableNow's wrapper captures one end offset and
    // may legitimately coalesce the backlog)
    q.processAllAvailable()
    q.stop()
    assert(batches.get() >= 4, s"expected >=4 capped batches, " +
      s"got ${batches.get()}")
    import scala.jdk.CollectionConverters._
    assert(got.asScala.toSeq.sorted == (0L until 100L))
    locally { val _ = outDir }
  }

  test("iceberg + paimon + hudi: snapshot then tail through metadata " +
    "syncs, one delivery per commit") {
    val stage = tmpDir("gss_fmt_stage")
    val all = events4(60)
    for (fmt <- Seq("iceberg", "paimon", "hudi")) {
      val seed = tmpDir(s"gss_${fmt}_seed")
      val table = tmpDir(s"gss_${fmt}_tbl")
      val out = tmpDir(s"gss_${fmt}_out")
      val ckpt = tmpDir(s"gss_${fmt}_ckpt")
      def sync(half: Int): Unit = {
        all.filter(col("event_id") % 2 === half)
          .write.mode("append").parquet(seed)
        val src = new graft.sources.ParquetDirectorySource(
          spark, seed, "events")
        val target = fmt match {
          case "iceberg" =>
            new graft.formats.iceberg.IcebergConversionTarget(spark, table)
          case "paimon" =>
            new graft.formats.paimon.PaimonConversionTarget(spark, table)
          case "hudi" =>
            new graft.formats.hudi.HudiConversionTarget(spark, table)
        }
        val outcomes = graft.sync.TableFormatSync.syncSnapshot(
          Seq(target), src.currentSnapshot(), src.sourceFormat)
        require(outcomes.forall(_.status == "SUCCESS"),
          outcomes.mkString(";"))
      }
      sync(0)
      drain(table, out, ckpt)
      assert(sorted(spark.read.parquet(out)) ==
        sorted(all.filter(col("event_id") % 2 === 0)), s"$fmt snapshot")
      sync(1)
      drain(table, out, ckpt)
      assert(sorted(spark.read.parquet(out)) == sorted(all),
        s"$fmt tailed commit")
    }
    locally { val _ = stage }
  }

  test("partitioned delta table: snapshot and tail carry partition " +
    "values correctly") {
    import spark.implicits._
    val table = tmpDir("gss_part")
    val out = tmpDir("gss_part_out")
    val ckpt = tmpDir("gss_part_ckpt")
    def batch(from: Long, until: Long) =
      (from until until).map(i => (i, s"v$i", i % 3)).toDF(
        "id", "name", "grp")
    graft.formats.delta.DeltaWrite.write(spark, table, batch(0, 60),
      overwrite = false, partitionCols = Seq("grp"))
    drain(table, out, ckpt)
    graft.formats.delta.DeltaWrite.write(spark, table, batch(60, 90),
      overwrite = false, partitionCols = Seq("grp"))
    drain(table, out, ckpt)
    val got = spark.read.parquet(out)
    assert(got.count() == 90)
    // partition values survived both the snapshot and the CDF batch
    assert(got.filter(col("grp") === 1L).count() == 30)
    assert(got.filter(col("id") === 75L).select("grp").head().getLong(0)
      == 0L)
  }

  test("readChangeFeed streaming: deletes arrive as change rows, " +
    "exactly once across resumes") {
    val table = tmpDir("gss_cdf")
    val out = tmpDir("gss_cdf_out")
    val ckpt = tmpDir("gss_cdf_ckpt")
    val all = events4(40)
    graft.formats.delta.DeltaWrite.write(spark, table,
      all.filter(col("event_id") < 20), overwrite = false)
    drain(table, out, ckpt, Map("readChangeFeed" -> "true"))
    val first = spark.read.parquet(out)
    assert(first.count() == 20 &&
      first.filter(col("_change_type") === "insert").count() == 20)

    // an append AND a delete land; the resumed stream serves both as
    // change rows (the delete via its DV-masked CDF reconstruction)
    graft.formats.delta.DeltaWrite.write(spark, table,
      all.filter(col("event_id") >= 20), overwrite = false)
    require(graft.formats.delta.DeltaDeletes.deleteWhere(spark, table,
      col("event_id") < 5) == 5)
    drain(table, out, ckpt, Map("readChangeFeed" -> "true"))
    val feed = spark.read.parquet(out)
    assert(feed.filter(col("_change_type") === "insert").count() == 40)
    assert(feed.filter(col("_change_type") === "delete").count() == 5)
    val deleted = feed.filter(col("_change_type") === "delete")
      .select("event_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(deleted == (0L until 5L))
    // replays: nothing new on a third drain
    drain(table, out, ckpt, Map("readChangeFeed" -> "true"))
    assert(spark.read.parquet(out).count() == feed.count())
    // contradictory option pair refuses
    intercept[Exception] {
      drain(table, tmpDir("gss_cdf_o2"), tmpDir("gss_cdf_c2"),
        Map("readChangeFeed" -> "true", "skipChangeCommits" -> "true"))
    }
  }

  test("batch-only options refuse on readStream") {
    val table = tmpDir("gss_opt")
    graft.formats.delta.DeltaWrite.write(spark, table, events4(5),
      overwrite = false)
    val e = intercept[Exception] {
      spark.readStream.format("graft").option("versionAsOf", "0")
        .load(table)
        .writeStream.format("console")
        .option("checkpointLocation", tmpDir("gss_opt_ckpt"))
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
    assert(e.getMessage.contains("versionAsOf") ||
      Option(e.getCause).exists(_.getMessage.contains("versionAsOf")))
  }
  test("maxVersionsPerTrigger holds on the FIRST batch after a committed " +
    "restart (cap base recovered from the checkpoint)") {
    val table = tmpDir("gss_cap_restart")
    val ckpt = tmpDir("gss_cap_restart_ckpt")
    val all = events4(100)
    graft.formats.delta.DeltaWrite.write(spark, table,
      all.filter(col("event_id") < 25), overwrite = false)

    def run(counts: java.util.Queue[Long]): Unit = {
      val q = spark.readStream.format("graft")
        .option("maxVersionsPerTrigger", "1")
        .load(table)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, _: Long) =>
          counts.add(b.count()); ()
        }
        .start()
      q.processAllAvailable()
      q.stop()
    }
    val first = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    run(first)   // initial snapshot batch, committed

    // three commits land while the stream is DOWN; on restart the cap
    // base must come from the checkpoint — without it the first
    // getOffset offers the raw head and one unbounded batch serves the
    // whole backlog (pre-fix behavior: a single 75-row batch)
    (1 to 3).foreach { i =>
      graft.formats.delta.DeltaWrite.write(spark, table,
        all.filter(col("event_id") >= i * 25 && col("event_id") < (i + 1) * 25),
        overwrite = false)
    }
    val resumed = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    run(resumed)
    import scala.jdk.CollectionConverters._
    val sizes = resumed.asScala.toSeq.filter(_ > 0)
    assert(sizes == Seq(25L, 25L, 25L),
      s"each catch-up batch must cover ONE commit, got $sizes")
    locally { val _ = first }
  }
}

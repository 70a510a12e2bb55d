package graft

import java.net.URI
import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.{FileStatus, FilterFileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.functions._

import graft.formats.delta.{DeltaConversionSource, DeltaLog, DeltaWrite}
import graft.formats.hudi.{HudiConversionSource, HudiConversionTarget, HudiTimeline}
import graft.formats.iceberg.{IcebergConversionSource, IcebergConversionTarget}
import graft.formats.paimon.{PaimonConversionSource, PaimonConversionTarget, PaimonFormat}
import graft.sync.TableFormatSync

/** The local disk under its own scheme: `<scheme>:///p` is the file `/p`. */
class MappedRawFileSystem(scheme: String) extends RawLocalFileSystem {
  override def getUri: URI = URI.create(s"$scheme:///")
  // a plain status: the raw one loads its permissions through a `file:` URI
  override def getFileStatus(p: Path): FileStatus = {
    val s = super.getFileStatus(p)
    new FileStatus(s.getLen, s.isDirectory, s.getReplication, s.getBlockSize,
      s.getModificationTime, s.getPath)
  }
}

/** A local filesystem (the `file` scheme's class) under the `graftlocal`
  * scheme: the store treats it as local and commits there.
  */
class MappedLocalFileSystem
  extends LocalFileSystem(new MappedRawFileSystem("graftlocal"))

/** A FilterFileSystem over the local disk that reports its own scheme, as
  * an object store's or HDFS's client does: the store must refuse to
  * commit there.
  */
class RemoteLikeFileSystem
  extends FilterFileSystem(new MappedRawFileSystem("graftremote")) {
  override def getScheme: String = "graftremote"
}

class TableStoreSpec extends SparkSuite {

  import spark.implicits._

  /** `body` with the two test schemes registered. */
  private def mapped[A](body: => A): A = {
    val impls = Seq(
      "fs.graftlocal.impl" -> classOf[MappedLocalFileSystem].getName,
      "fs.graftremote.impl" -> classOf[RemoteLikeFileSystem].getName)
    // the session conf, as object-store settings arrive; Spark's own
    // reads of the data files use the context conf
    impls.foreach { case (k, v) =>
      spark.conf.set(s"spark.hadoop.$k", v)
      spark.sparkContext.hadoopConfiguration.set(k, v)
    }
    try body
    finally impls.foreach { case (k, _) =>
      spark.conf.unset(s"spark.hadoop.$k")
      spark.sparkContext.hadoopConfiguration.unset(k)
    }
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.agg(count(lit(1)), sum("id")).head()

  test("commits to a table under a non-file local scheme land in the " +
      "table, not the working directory") {
    val root = tmpDir("store_mapped")
    val t = s"graftlocal://$root/t"
    mapped {
      DeltaWrite.write(spark, t, (0L until 10L).map(i => (i, s"v$i"))
        .toDF("id", "name"), overwrite = false)
      val src = new DeltaConversionSource(spark, t, "t")
      val out = TableFormatSync.syncSnapshot(Seq(
          new IcebergConversionTarget(spark, t),
          new HudiConversionTarget(spark, t),
          new PaimonConversionTarget(spark, t)),
        src.currentSnapshot(), src.sourceFormat)
      assert(out.forall(_.status == "SUCCESS"), out.mkString("; "))

      val expect = rows((0L until 10L).map(i => (i, s"v$i"))
        .toDF("id", "name"))
      assert(rows(spark.read.format("graft").load(t)) == expect)
      assert(rows(new IcebergConversionSource(spark, t, "t").toDataFrame) ==
        expect)
      assert(rows(new HudiConversionSource(spark, t, "t").toDataFrame) ==
        expect)
      assert(rows(new PaimonConversionSource(spark, t, "t").toDataFrame) ==
        expect)
      val instant = HudiTimeline.listInstants(t).last
      Seq(s"_delta_log/${"%020d".format(0)}.json", "metadata/v1.metadata.json",
        "metadata/version-hint.text", s".hoodie/$instant.commit",
        ".hoodie/hoodie.properties", "snapshot/snapshot-1",
        "snapshot/LATEST", "schema/schema-0").foreach { f =>
        assert(Files.exists(Paths.get(root, "t", f)), s"no $f in $root/t")
      }
    }
    assert(!Files.exists(Paths.get("graftlocal:")),
      "a commit landed under the working directory")
  }

  test("a commit to a non-local filesystem refuses, naming the scheme, " +
      "and writes nothing") {
    val root = tmpDir("store_remote")
    val data = tmpDir("store_remote_src")
    (0L until 5L).toDF("id").write.mode("overwrite").parquet(data)
    mapped {
      val t = s"graftremote://$root/t"
      val e = intercept[UnsupportedOperationException](
        DeltaLog.writeCommit(t, 0L, Iterator("""{"commitInfo":{}}""")))
      assert(e.getMessage.contains("'graftremote'"), e.getMessage)
      val src = new graft.sources.ParquetDirectorySource(spark, data, "t")
      val out = TableFormatSync.syncSnapshot(Seq(
          new IcebergConversionTarget(spark, t),
          new HudiConversionTarget(spark, t),
          new PaimonConversionTarget(spark, t)),
        src.currentSnapshot(), src.sourceFormat)
      out.foreach { o =>
        assert(o.status != "SUCCESS", o)
        assert(o.error.exists(_.contains("'graftremote'")), o)
      }
      // reads and listings still work on that scheme
      assert(DeltaLog.listVersions(t, graft.util.HadoopConfs.session(spark))
        .isEmpty)
    }
    val written = Files.walk(Paths.get(root))
    try assert(!written.anyMatch(Files.isRegularFile(_)),
      s"files written under $root")
    finally written.close()
    assert(!Files.exists(Paths.get("graftremote:")))
  }

  test("racing writers of one Paimon schema id: exactly one wins, the " +
      "others refuse") {
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val t = tmpDir("store_schema_race")
    val n = 6
    val pool = Executors.newFixedThreadPool(n)
    val start = new CountDownLatch(1)
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    val refused = new java.util.concurrent.atomic.AtomicInteger(0)
    (0 until n).foreach { i =>
      pool.execute { () =>
        start.await()
        val s = PaimonFormat.PaimonSchema(0L,
          org.apache.spark.sql.types.StructType.fromDDL(s"c$i BIGINT"),
          Nil, Map.empty)
        try { PaimonFormat.writeSchema(t, s); wins.incrementAndGet() }
        catch { case _: IllegalStateException => refused.incrementAndGet() }
      }
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(60, TimeUnit.SECONDS))
    assert(wins.get == 1 && refused.get == n - 1, (wins, refused))
    val written = PaimonFormat.readSchema(t, 0L).schema.fieldNames.toSeq
    assert(written.size == 1 && written.head.startsWith("c"))
  }
}

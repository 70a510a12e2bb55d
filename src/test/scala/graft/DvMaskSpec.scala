package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._

import graft.formats.delta.{DeletionVectors, DeltaConversionSource, DeltaDeletes, DeltaRead}
import graft.formats.iceberg.{IcebergConversionSource, IcebergConversionTarget, IcebergDeletes, IcebergMetadata, Puffin}
import graft.model.{DvDescriptor, TableSnapshot}
import graft.sources.ParquetDirectorySource
import graft.sync.TableFormatSync

/** Deletion vectors masked inside the scan: every masked read equals a
  * reference computed here — the plain parquet reader's rows of each data
  * file minus the positions decoded from that file's descriptor — and no
  * DV read plans a join or a broadcast.
  */
class DvMaskSpec extends SparkSuite {

  private lazy val conf = graft.util.HadoopConfs.session(spark)

  /** (file, row index, id, v) of every live row, from the plain reader. */
  private def reference(files: Seq[(String, Set[Long])]): Set[Row] =
    files.flatMap { case (path, deleted) =>
      spark.read.parquet(path)
        .select(col("_metadata.row_index"), col("id"), col("v"))
        .collect().toSeq
        .filterNot(r => deleted(r.getLong(0)))
        .map(r => Row(path, r.getLong(0), r.getLong(1), r.getString(2)))
    }.toSet

  private def deltaReference(snap: TableSnapshot): Set[Row] =
    reference(snap.files.collect().toSeq.map { fe =>
      fe.path -> fe.deletionVector.map(d => DeletionVectors
        .deletedPositions(conf, snap.table.basePath, d).toSet)
        .getOrElse(Set.empty[Long])
    })

  private def keyedRows(df: DataFrame): Set[Row] =
    df.select("__scan_path", "__scan_pos", "id", "v").collect().toSet

  /** Every physical node of an executed plan, AQE stages unwrapped. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  private def assertNoJoin(df: DataFrame): Unit = {
    df.collect()
    assert(df.queryExecution.optimizedPlan.collect { case j: Join => j }
      .isEmpty, df.queryExecution.optimizedPlan.treeString)
    val physical = nodes(df.queryExecution.executedPlan)
    assert(physical.collect {
      case j: BaseJoinExec => j
      case b: BroadcastExchangeExec => b
    }.isEmpty, df.queryExecution.executedPlan.treeString)
  }

  /** Spark jobs `body` launches (the listener bus is FIFO: a sentinel
    * job's start arrives after every earlier one).
    */
  private def jobsOf(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      val before = jobs.get
      spark.sparkContext.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 10_000_000_000L
      while (jobs.get <= before && System.nanoTime() < deadline)
        Thread.sleep(50)
      jobs.get - 1
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private val schemaJson = """{\"type\":\"struct\",\"fields\":[""" +
    """{\"name\":\"id\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}},""" +
    """{\"name\":\"v\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}},""" +
    """{\"name\":\"cat\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}}]}"""

  private def dvJson(d: DvDescriptor): String =
    s""","deletionVector":{"storageType":"${d.storageType}",""" +
      s""""pathOrInlineDv":"${d.pathOrInlineDv}","offset":${d.offset},""" +
      s""""sizeInBytes":${d.sizeInBytes},"cardinality":${d.cardinality}}"""

  /** A partitioned Delta table of four files whose partition directories
    * hold a space, a literal `%20` and a `+`, carrying a `u`, an `i` and
    * a `p` deletion vector and no vector. The first file has many row
    * groups, so a tiny split size cuts it across tasks.
    */
  private def dvTable(): String = {
    val table = tmpDir("dvmask")
    val stage = tmpDir("dvmask_stage")
    val files = Seq(
      ("a b", 0L, 3000L, Some("u"), Seq(1L, 3L, 1500L, 2999L) ++
        (2000L until 2100L)),
      ("x%20y", 10000L, 100L, Some("i"), Seq(0L, 50L, 99L)),
      ("p+q", 20000L, 50L, Some("p"), (5L until 10L)),
      ("plain", 30000L, 10L, None, Nil))
    val log = Paths.get(table, "_delta_log")
    Files.createDirectories(log)
    val adds = files.zipWithIndex.map { case ((cat, from, n, kind, del), i) =>
      spark.range(from, from + n).toDF("id")
        .withColumn("v", concat(lit("value-"), col("id"), lit("-" * 40)))
        .coalesce(1).sortWithinPartitions("id")
        .write.option("parquet.block.size", "4096").parquet(s"$stage/$i")
      val f = new java.io.File(s"$stage/$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val rel = s"cat=$cat/f$i.parquet"
      Files.createDirectories(Paths.get(table, s"cat=$cat"))
      Files.move(f.toPath, Paths.get(table, rel))
      val uuid = java.util.UUID.nameUUIDFromBytes(Array(i.toByte))
      val dv = kind.map {
        case "i" => DeletionVectors.inlineDescriptor(del)
        case "u" => DeletionVectors.writeDvFile(conf, table, "dv", uuid,
          Seq(del)).head
        case "p" =>
          val u = DeletionVectors.writeDvFile(conf, table, "", uuid,
            Seq(del)).head
          u.copy(storageType = "p",
            pathOrInlineDv = DeletionVectors.absolutePath(table, u))
      }
      val size = Files.size(Paths.get(table, rel))
      val uri = graft.util.PathUtils.toDeltaUri(rel)
      s"""{"add":{"path":"$uri","size":$size,"modificationTime":1,""" +
        s""""dataChange":true,"partitionValues":{"cat":"$cat"},"stats":""""" +
        dv.map(dvJson).getOrElse("") + "}}"
    }
    val meta = s"""{"metaData":{"id":"t","schemaString":"$schemaJson",""" +
      """"partitionColumns":["cat"],"configuration":{},"createdTime":1,""" +
      """"format":{"provider":"parquet","options":{}}}}"""
    val protocol = """{"protocol":{"minReaderVersion":3,""" +
      """"minWriterVersion":7,"readerFeatures":["deletionVectors"],""" +
      """"writerFeatures":["deletionVectors"]}}"""
    Files.writeString(log.resolve("00000000000000000000.json"),
      (Seq(protocol, meta) ++ adds).mkString("", "\n", "\n"))
    table
  }

  test("masked reads equal the plain reader minus each descriptor's " +
    "positions: u, i and p vectors under encoded partition paths") {
    val table = dvTable()
    val snap = new DeltaConversionSource(spark, table, "dvmask")
      .currentSnapshot()
    val kinds = snap.files.collect().flatMap(_.deletionVector)
      .map(_.storageType).toSet
    assert(kinds == Set("u", "i", "p"), kinds)
    val want = deltaReference(snap)
    assert(want.size == 3000 - 104 + 100 - 3 + 50 - 5 + 10)
    assert(keyedRows(DeltaRead.toKeyedDataFrame(spark, snap)) == want)
    val plain = DeltaRead.toDataFrame(spark, snap)
    assert(plain.count() == want.size.toLong)
    assert(plain.select("cat").distinct().collect().map(_.getString(0))
      .toSet == Set("a b", "x%20y", "p+q", "plain"))
  }

  test("a file split across tasks keeps file-global row indexes") {
    val table = dvTable()
    val snap = new DeltaConversionSource(spark, table, "dvmask")
      .currentSnapshot()
    val want = deltaReference(snap)
    val keys = Seq("spark.sql.files.maxPartitionBytes",
      "spark.sql.files.openCostInBytes")
    val old = keys.map(k => spark.conf.getOption(k))
    try {
      spark.conf.set(keys(0), "4096")
      spark.conf.set(keys(1), "0")
      val df = DeltaRead.toKeyedDataFrame(spark, snap)
      assert(df.rdd.getNumPartitions > snap.files.count(),
        "the first file must be split across tasks")
      assert(keyedRows(df) == want)
    } finally keys.zip(old).foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("a DELETE on a file that already has a vector unions into it") {
    val table = dvTable()
    def snap() = new DeltaConversionSource(spark, table, "dvmask")
      .currentSnapshot()
    val before = snap().files.collect().map(f => f.path -> f).toMap
    // ids 10..20 of the first file: positions 10..20, none deleted yet
    assert(DeltaDeletes.deleteWhere(spark, table,
      col("id").between(10, 20)) == 11L)
    // ids 10000..10004 of the inline-DV file: position 0 already gone
    assert(DeltaDeletes.deleteWhere(spark, table,
      col("id").between(10000, 10004)) == 4L)
    val after = snap()
    val dvs = after.files.collect().map(f => f.path -> f).toMap
    def card(m: Map[String, graft.model.FileEntry], suffix: String) =
      m.collectFirst { case (p, f) if p.endsWith(suffix) =>
        f.deletionVector.map(_.cardinality).getOrElse(0L) }.get
    assert(card(dvs, "f0.parquet") == card(before, "f0.parquet") + 11)
    assert(card(dvs, "f1.parquet") == card(before, "f1.parquet") + 4)
    val want = deltaReference(after)
    assert(keyedRows(DeltaRead.toKeyedDataFrame(spark, after)) == want)
    assert(!want.exists(r => r.getLong(2) >= 10 && r.getLong(2) <= 20))
  }

  test("the golden delta_dv_people table masks row-exactly") {
    val dir = new java.io.File(
      "src/test/resources/golden/delta_dv_people").getAbsolutePath
    val snap = new DeltaConversionSource(spark, dir, "people")
      .currentSnapshot()
    val entries = snap.files.collect().toSeq
    val want = entries.flatMap { fe =>
      val deleted = fe.deletionVector.map(d => DeletionVectors
        .deletedPositions(conf, dir, d).toSet).getOrElse(Set.empty[Long])
      spark.read.parquet(fe.path)
        .select(col("_metadata.row_index"), col("id"))
        .collect().toSeq.filterNot(r => deleted(r.getLong(0)))
        .map(r => Row(fe.path, r.getLong(0), r.get(1)))
    }.toSet
    assert(want.size == 81)
    val got = DeltaRead.toKeyedDataFrame(spark, snap)
      .select("__scan_path", "__scan_pos", "id").collect().toSet
    assert(got == want)
  }

  test("no DV read plans a join or a broadcast; a full aggregate is " +
    "as many jobs as the plain read") {
    val table = dvTable()
    val snap = new DeltaConversionSource(spark, table, "dvmask")
      .currentSnapshot()
    val df = DeltaRead.toDataFrame(spark, snap)
    assertNoJoin(df.agg(count(lit(1)), sum("id")))
    assertNoJoin(df.filter(col("id") < 2500).groupBy("cat").count())
    assertNoJoin(DeltaRead.toKeyedDataFrame(spark, snap)
      .select("__scan_path", "__scan_pos"))

    // the same files with no vectors: the mask adds no job
    val plainSnap = snap.withFiles(
      snap.files.map(_.copy(deletionVector = None))(
        org.apache.spark.sql.Encoders.product[graft.model.FileEntry]))
    def fullAgg(s: TableSnapshot) = {
      val q = DeltaRead.toDataFrame(spark, s).agg(count(lit(1)), sum("id"))
      q.queryExecution.executedPlan
      q
    }
    val dvQuery = fullAgg(snap)
    val plainQuery = fullAgg(plainSnap)
    val dvJobs = jobsOf(dvQuery.collect())
    val plainJobs = jobsOf(plainQuery.collect())
    info(s"full aggregate jobs: DV read $dvJobs, plain read $plainJobs")
    assert(dvJobs == plainJobs && dvJobs <= 2,
      s"DV read $dvJobs jobs, plain read $plainJobs")
  }

  test("count(*) over a DV'd copy is the live count, not the listing's") {
    val gs = graft.sql.GraftSql.session(spark)
    val table = dvTable()
    val snap = new DeltaConversionSource(gs, table, "dvmask")
      .currentSnapshot()
    val df = DeltaRead.toDataFrame(gs, snap).agg(count(lit(1)).as("c"))
    // the count rule must not see through the mask's Filter
    assert(df.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation => l }.size == 1)
    assert(df.head().getLong(0) == deltaReference(snap).size.toLong)
  }

  test("Iceberg v3 puffin vectors mask in the scan, no join") {
    val stage = tmpDir("dvmask_ice_src")
    spark.range(0, 500).toDF("id")
      .withColumn("v", concat(lit("value-"), col("id")))
      .repartition(2).sortWithinPartitions("id")
      .write.mode("overwrite").parquet(stage)
    val table = tmpDir("dvmask_ice")
    val src = new ParquetDirectorySource(spark, stage, "t")
    assert(TableFormatSync.syncSnapshot(
      Seq(new IcebergConversionTarget(spark, table)),
      src.currentSnapshot(), src.sourceFormat).forall(_.status == "SUCCESS"))
    val files = new IcebergConversionSource(spark, table, "t")
      .currentSnapshot().files.collect()
    IcebergDeletes.appendDeletionVectors(spark, table, files.map(f =>
      f.path -> (0L until f.recordCount).filter(_ % 3 == 1)).toMap)
    IcebergDeletes.appendDeletionVectors(spark, table, Map(
      files.head.path -> Seq(0L, files.head.recordCount - 1)))

    val m = IcebergMetadata.read(table,
      IcebergMetadata.currentVersion(table).get)
    val refs = IcebergDeletes.liveDeleteRefs(m, m.headSequence)
    assert(refs.nonEmpty && refs.forall(_.isDeletionVector))
    val deleted = refs.map { r =>
      graft.util.PathUtils.canonical(r.referencedDataFile.get) ->
        Puffin.readDeletionVector(r.path, r.contentOffset.get,
          r.contentSizeBytes.get, conf).toSet
    }.toMap
    val want = reference(files.toSeq.map(f =>
      f.path -> deleted.getOrElse(f.path, Set.empty[Long])))
      .map(r => Row(r.getLong(2), r.getString(3)))
    val df = new IcebergConversionSource(spark, table, "t").toDataFrame
    assert(df.select("id", "v").collect().toSet == want)
    assert(want.size == 500 - deleted.values.map(_.size).sum)
    assertNoJoin(df.agg(count(lit(1)), sum("id")))
  }
}

package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

import graft.formats.delta.{DeltaConversionSource, DeltaRead, DeltaWrite}
import graft.plans.{Listing, Placement, SnapshotFileIndex}

/** A snapshot owns its placed listing: reads answer from the snapshot's
  * own decode, a distributed listing is fetched once however many
  * questions it answers, and nothing outlives the table.
  */
class SnapshotListingSpec extends SparkSuite {

  private def ids(df: DataFrame): Seq[Long] = {
    import spark.implicits._
    df.select("id").as[Long].collect().sorted.toSeq
  }

  private def deltaTable(t: String, rows: Long, files: Int): Unit =
    DeltaWrite.write(spark, t, spark.range(rows).toDF("id")
      .repartition(files), overwrite = false)

  test("a table dropped and re-created at the same path reads its own rows") {
    val t = tmpDir("relisted")
    deltaTable(t, 100L, 2)
    assert(ids(spark.read.format("graft").load(t)) == (0L until 100L))
    assert(ids(new DeltaConversionSource(spark, t, "t").toDataFrame) ==
      (0L until 100L))
    // drop the table, then write a new version 0 at the same path
    val root = java.nio.file.Paths.get(t)
    java.nio.file.Files.walk(root).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.delete(p))
    deltaTable(t, 300L, 3)
    assert(ids(spark.read.format("graft").load(t)) == (0L until 300L))
    assert(ids(new DeltaConversionSource(spark, t, "t").toDataFrame) ==
      (0L until 300L))
  }

  /** `body`'s Spark jobs, each as its stages' names (the listener bus is
    * FIFO: a sentinel job's start arrives after every earlier one).
    */
  private def jobsDuring(body: => Unit): Seq[String] = {
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
      body
      spark.sparkContext.setJobDescription(sentinel)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      val deadline = System.nanoTime() + 10_000_000_000L
      while (!jobs.contains(sentinel) && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(jobs.contains(sentinel))
      jobs.asScala.toSeq.filterNot(_ == sentinel)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Every metadata question a read asks of a snapshot's listing. */
  private def askAll(snap: graft.model.TableSnapshot): Unit = {
    val index = new SnapshotFileIndex(spark, snap)
    index.sizeInBytes
    index.listFiles(Nil, Nil)
    index.listFiles(Nil, Nil)
    snap.listing.summary
    DeltaRead.scanFileFormat(snap)
    DeltaRead.toDataFrame(spark,
      snap.copy(table = snap.table.copy(name = "renamed")))
      .queryExecution.executedPlan
  }

  test("a distributed listing is fetched by one probe job, and a driver " +
      "listing answers with none") {
    val t = tmpDir("listing_jobs")
    deltaTable(t, 400L, 4)
    val local = new DeltaConversionSource(spark, t, "t").currentSnapshot()
    assert(local.listing.placed.isLeft)
    assert(jobsDuring(askAll(local)).isEmpty)

    val decodes = spark.sparkContext.longAccumulator("decodes")
    val decoded = local.files.map { f => decodes.add(1); f }(
      org.apache.spark.sql.Encoders.product[graft.model.FileEntry])
    val distributed = local.copy(listing = new Listing(spark,
      Right(decoded), at = Some(Placement.Tasks)))
    val jobs = jobsDuring(askAll(distributed))
    assert(jobs.count(_.contains("Placement.scala")) == 1, jobs)
    assert(distributed.listing.placed.isRight)
    assert(decodes.value == 4L, "the decode ran more than once")
    assert(new SnapshotFileIndex(spark, distributed).sizeInBytes ==
      new SnapshotFileIndex(spark, local).sizeInBytes)
  }
}

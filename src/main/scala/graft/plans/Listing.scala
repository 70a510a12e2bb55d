package graft.plans

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.model.FileEntry
import graft.plans.Placement.{Fetched, Placed}

/** A snapshot's file listing, held where its decode placed it. Every copy
  * of the snapshot (`snap.copy(table = ...)`) and every
  * [[SnapshotFileIndex]] over it share this one holder.
  *
  * A `Right` listing is fetched at most once, by [[Placement.fetch]], on
  * the first question that needs its rows: a listing of at most
  * [[Placement.MaxRows]] entries becomes `Left` and its pin is freed; a
  * larger one stays `Right` over the pinned rows, so later questions do
  * not re-run the decode. The pin belongs to this holder and nothing else
  * refers to it: once the snapshot is unreachable, Spark's
  * `ContextCleaner` unpersists it. There is no process-wide registry, so
  * a table dropped and re-created at the same path can never be served
  * its predecessor's files.
  *
  * `at = Some(Tasks)` keeps a `Right` listing distributed (a pin for
  * tests).
  */
final class Listing(spark: SparkSession, decoded: Placed[FileEntry],
    at: Option[Placement] = None) {

  private var done: Fetched[FileEntry] = _

  /** The fetch: the rows where they now are, their count, and their bytes
    * as the weight.
    */
  def fetched: Fetched[FileEntry] = synchronized {
    if (done == null) done = Placement.fetch(decoded, at)(_.fileSizeBytes)
    done
  }

  /** The listing's rows, fetched. */
  def placed: Placed[FileEntry] = fetched.rows

  /** The fetched rows as a Dataset: local over driver rows, or the pinned
    * distributed rows.
    */
  lazy val dataset: Dataset[FileEntry] = {
    import spark.implicits._
    Placement.dataset(spark, placed)
  }

  /** The listing as a Dataset without forcing a fetch: the fetched rows
    * once fetched, else the decode itself.
    */
  def files: Dataset[FileEntry] = decoded match {
    case Right(ds) if synchronized(done == null) => ds
    case _ => dataset
  }

  /** The scan-relevant roll-up of the rows: deletion-vector volume
    * (whether the scan needs its row mask) and the file formats present
    * (the scan's FileFormat). A fold over driver rows, or one job.
    */
  lazy val summary: Listing.Summary = placed match {
    case Left(entries) =>
      val dvs = entries.flatMap(_.deletionVector.map(_.cardinality))
      Listing.Summary(dvs.length.toLong, dvs.sum,
        entries.iterator.map(_.fileFormat).toSeq.distinct.sorted)
    case Right(ds) =>
      import org.apache.spark.sql.functions._
      val row = ds.agg(
        sum(when(col("deletionVector").isNotNull, 1L).otherwise(0L)),
        sum(col("deletionVector.cardinality")),
        sort_array(collect_set(col("fileFormat")))).head()
      def l(i: Int): Long = if (row.isNullAt(i)) 0L else row.getLong(i)
      Listing.Summary(l(0), l(1), row.getSeq[String](2))
  }
}

object Listing {
  final case class Summary(dvFiles: Long, dvRows: Long, formats: Seq[String])
}

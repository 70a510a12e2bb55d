package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Where a format's metadata decode runs. Every listing read goes through
  * this one rule: Delta version files, Iceberg and Paimon manifests, and
  * Hudi's index deltas plus the footers it may open.
  *
  *  - [[Placement.Driver]] when the decode's inputs are at most
  *    [[Placement.MaxFiles]] files and [[Placement.MaxBytes]] bytes. One
  *    process reads them and no Spark job runs. At small sizes the fixed
  *    per-job overhead, not the bytes, is the cost (Flare, OSDI 2018).
  *  - [[Placement.Tasks]] otherwise: the same decode runs inside the
  *    distributed scan the format already uses, so a 10^6-file table
  *    never materializes on the driver.
  *
  * Sizes add with saturation, and an input whose size is unknown
  * disqualifies the driver: neither a wrapped sum nor a missing length
  * can pull a large input onto it.
  *
  * Commit writes follow the same rule from the other end: a commit's
  * file diff arrives where its source decoded it, [[Placement.fetch]]
  * brings a distributed side of at most [[Placement.MaxRows]] rows to
  * the driver in one job, and each artifact's writer runs over the
  * driver rows or per partition.
  */
sealed trait Placement

object Placement {
  case object Driver extends Placement
  case object Tasks extends Placement

  val MaxFiles = 64
  val MaxBytes: Long = 4L << 20
  /** Rows a commit side may bring to the driver, and the lines a
    * streamed commit holds there at once.
    */
  val MaxRows = 65536

  /** A decode's output where it ran: rows held on the driver (`Left`) or
    * a distributed Dataset (`Right`).
    */
  type Placed[T] = Either[IndexedSeq[T], Dataset[T]]

  /** `files` inputs in all, of which `sizes` are the byte-counted ones.
    * `sizes` is only walked when the file count qualifies, so a lazy view
    * over a long list costs nothing past the cap.
    */
  def of(files: Int, sizes: Iterable[Option[Long]]): Placement =
    if (files > MaxFiles) Tasks
    else {
      val total = sizes.foldLeft(Option(0L)) { (acc, s) =>
        for (a <- acc; b <- s.filter(_ >= 0))
          yield if (a > Long.MaxValue - b) Long.MaxValue else a + b
      }
      if (total.exists(_ <= MaxBytes)) Driver else Tasks
    }

  def of(sizes: Seq[Option[Long]]): Placement = of(sizes.size, sizes.view)

  def dataset[T: Encoder](spark: SparkSession, p: Placed[T]): Dataset[T] =
    p.fold(spark.createDataset(_), identity)

  /** One decode step `f`, run where its input was placed: over the
    * driver's rows, or per partition of the Dataset.
    */
  def mapRows[A, B: Encoder](p: Placed[A])(f: Iterator[A] => Iterator[B])
      : Placed[B] = p match {
    case Left(rows) => Left(f(rows.iterator).toIndexedSeq)
    case Right(ds) => Right(ds.mapPartitions(f))
  }

  /** A commit side after its fetch, with its row count and weight sum. */
  final case class Fetched[T](rows: Placed[T], count: Long, weight: Long,
      pinned: Option[RDD[T]] = None) {
    /** Frees the pinned rows of a side that stayed distributed, once its
      * writers have run.
      */
    def unpin(): Unit = pinned.foreach(_.unpersist(blocking = false))
  }

  /** One fetch of a commit side. A `Left` side stays as it is and runs no
    * job. A `Right` side gets one [[probe]]: when it brought every row the
    * side becomes `Left`, otherwise it stays `Right`, over the pinned rows
    * so its writers do not re-run the lineage. `at = Some(Tasks)` keeps a
    * `Right` side distributed over its pin (a placement pin for tests).
    */
  def fetch[T](p: Placed[T], at: Option[Placement] = None)(
      weight: T => Long): Fetched[T] = p match {
    case Left(rows) => Fetched(p, rows.size, rows.iterator.map(weight).sum)
    case Right(ds) =>
      val keep = at.contains(Tasks)
      val pr = probe(ds, weight, keep)
      val rows = pr.rows.filterNot(_ => keep)
      Fetched(rows.map(Left(_)).getOrElse(
        Right(ds.sparkSession.createDataset(pr.pinned)(ds.encoder))),
        pr.counts.sum, pr.weight, Some(pr.pinned))
  }

  /** The fused probe: ONE job pins `ds` in the block manager (lazily: the
    * job itself materializes the pin) and returns, per partition, the
    * row count, the weight sum and up to `MaxRows / partitions` rows.
    * `rows` is set when that was every row, and the pin is then freed
    * unless `keep`; the driver never holds more than [[MaxRows]] of them.
    */
  private[graft] final case class Probe[T](pinned: RDD[T],
      counts: Array[Long], weight: Long, rows: Option[IndexedSeq[T]])

  private[graft] def probe[T](ds: Dataset[T], weight: T => Long,
      keep: Boolean = false): Probe[T] = {
    implicit val ct: scala.reflect.ClassTag[T] = ds.encoder.clsTag
    val rdd = ds.rdd.persist(StorageLevel.MEMORY_AND_DISK_SER)
    val n = rdd.getNumPartitions
    if (n == 0) return Probe(rdd, Array.empty, 0L, Some(IndexedSeq.empty))
    val perPart = math.max(1L, MaxRows.toLong / n)
    val parts: Array[(Array[T], Long, Long)] =
      rdd.sparkContext.runJob(rdd, (it: Iterator[T]) => {
        val buf = scala.collection.mutable.ArrayBuffer.empty[T]
        var c = 0L
        var w = 0L
        while (it.hasNext) {
          val r = it.next(); c += 1; w += weight(r)
          if (c <= perPart) buf += r
        }
        (buf.toArray, c, w)
      })
    val complete = parts.forall { case (taken, c, _) => c <= taken.length }
    if (complete && !keep) rdd.unpersist(blocking = false)
    Probe(rdd, parts.map(_._2), parts.map(_._3).sum,
      if (complete) Some(parts.iterator.flatMap(_._1).toIndexedSeq)
      else None)
  }
}

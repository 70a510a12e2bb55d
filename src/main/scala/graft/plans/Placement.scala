package graft.plans

import org.apache.spark.sql.{Dataset, Encoder, SparkSession}

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
  */
sealed trait Placement

object Placement {
  case object Driver extends Placement
  case object Tasks extends Placement

  val MaxFiles = 64
  val MaxBytes: Long = 4L << 20

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
}

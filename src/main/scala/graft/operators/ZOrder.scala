package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multi-column Z-order (interleaved-bit) cluster keys — shared by Delta
  * OPTIMIZE ZORDER, Iceberg compaction-with-clustering, Hudi clustering
  * and Paimon compaction. The z-value is a pure Catalyst expression:
  * per-column 256-bucket range codes from ONE multi-column approxQuantile
  * pass (strings: a bounded sample), then a static shift/and/or
  * interleave tree — no UDF, no window, fully inside whole-stage codegen;
  * the only driver-side state is ≤255 cut literals per column.
  *
  * [[clusterize]] is the rewrite entry point shared by all four formats:
  * z-value column + range layout + in-partition sort.
  *
  * A single-pass variant (explicit equi-depth group ids routed to
  * reducers by murmur3 hash preimage, so the range partitioner's extra
  * evaluation of the child never runs) was built and measured this
  * round: it halved the rewrite's WRITE job (3.65 s → 1.9 s at sf0.1)
  * but its fixed costs — the extra sample/quantile round-trips and the
  * second projection's codegen — cost more than the saved pass at gate
  * scale (warm gate wall 9.1 s → 10.4 s), so it was reverted per guide
  * §1.3 (measure, keep the measured winner).
  */
object ZOrder {

  /** count of (sorted) cuts <= value as an 8-deep binary decision tree:
    * 8 comparisons per row instead of a 255-element array scan — still a
    * pure codegen'd expression, just a logarithmic one
    */
  private def fromCuts[T](cuts: Seq[T], value: Column): Column =
    if (cuts.isEmpty) lit(0L)
    else {
      val cs = cuts.toIndexedSeq
      def go(lo: Int, hi: Int): Column =
        if (lo == hi) lit(lo.toLong)
        else {
          val mid = (lo + hi + 1) / 2
          when(value >= lit(cs(mid - 1)), go(mid, hi))
            .otherwise(go(lo, mid - 1))
        }
      when(value.isNull, lit(0L)).otherwise(go(0, cs.length))
    }

  /** orderable-numeric image of a non-string column */
  private def numericView(df: DataFrame, c: String): Option[Column] =
    df.schema(c).dataType match {
      case _: NumericType => Some(col(c).cast("double"))
      case DateType => Some(unix_date(col(c)).cast("double"))
      case TimestampType => Some(unix_micros(col(c)).cast("double"))
      case TimestampNTZType =>
        Some(unix_micros(col(c).cast(TimestampType)).cast("double"))
      case StringType => None
      case other => throw new UnsupportedOperationException(
        s"zorder on $c: unsupported type $other (numeric, date, " +
          "timestamp and string cluster; drop the column from the key)")
    }

  /** the static interleave tree over per-column bucket codes: bit i of
    * bucket j lands at position `i*ncols + j`
    */
  private def interleave(buckets: Seq[Column]): Column = {
    val n = buckets.size
    (0 until 8).foldLeft(lit(0L)) { (acc, bit) =>
      buckets.zipWithIndex.foldLeft(acc) { case (a, (b, j)) =>
        a.bitwiseOR(shiftleft(
          shiftright(b, bit).bitwiseAND(lit(1L)), bit * n + j))
      }
    }
  }

  private val QuantileProbs = (1 to 255).map(_ / 256.0).toArray

  /** The interleaved-bits cluster key: per column an 8-bit range bucket
    * (256 approximate-quantile cuts, broadcast as literals), then the
    * static interleave tree. ALL orderable-numeric columns share ONE
    * approxQuantile pass (multi-column Greenwald-Khanna); only string
    * columns need their own bounded-sample pass each.
    */
  def zValue(df: DataFrame, cols: Seq[String]): Column = {
    val views = cols.map(c => c -> numericView(df, c)).toMap
    val numericCols = cols.filter(views(_).isDefined)
    val numCuts: Map[String, Seq[Double]] =
      if (numericCols.isEmpty) Map.empty
      else {
        // cuts cluster, they don't decide correctness: a seeded 25%
        // sample gives the same equi-depth layout for a fraction of the
        // quantile pass (which reads ONLY the key columns — pruned scan)
        val keyed = df.select(numericCols.zipWithIndex.map {
          case (c, i) => views(c).get.as(s"__q$i")
        }: _*)
        val sampled = keyed.sample(withReplacement = false, 0.25, seed = 41)
        val qCols = numericCols.indices.map(i => s"__q$i").toArray
        // ONE pass over the sample; small tables can sample to zero rows,
        // which approxQuantile reports as all-empty cut arrays — only
        // then pay a full-frame pass (no separate existence-probe job)
        val fromSample = sampled.stat.approxQuantile(qCols, QuantileProbs,
          0.005)
        val all = if (fromSample.forall(_.isEmpty))
          keyed.stat.approxQuantile(qCols, QuantileProbs, 0.005)
        else fromSample
        numericCols.zip(all.map(
          _.filterNot(_.isNaN).distinct.sorted.toSeq)).toMap
      }
    interleave(cols.map { c =>
      views(c) match {
        case Some(v) => fromCuts(numCuts(c), v)
        case None => fromCuts(stringCuts(df, c), col(c))
      }
    })
  }

  /** Input size up to which [[clusterize]] pins its input. */
  val PinMaxBytes: Long = 4L << 30

  /** Lay `rows` out clustered by the z-order of `cols` into ~`nOut`
    * range groups, each group one reducer (one output file per
    * unpartitioned write task): the rewrite entry point shared by Delta
    * OPTIMIZE ZORDER, Iceberg compaction-with-clustering, Hudi
    * clustering and Paimon compaction. Partitioned tables range-lay by
    * (partition columns, z).
    *
    * The rewrite input subtree (keyed read + delete mask + joins) is
    * otherwise evaluated THREE times: the approxQuantile pass, the range
    * partitioner's sampling pass (RangePartitioner.sketch re-runs the
    * child), and the write itself — each with its own full Catalyst
    * re-plan of the subtree. When `inputBytes` is at most
    * [[PinMaxBytes]] (4 GiB) the input is
    * pinned with a lazy local checkpoint: the quantile pass materializes
    * it once and the sketch + write read pinned blocks through a tiny
    * LogicalRDD plan. Past the cap (a 100 TB-scale rewrite) pinning all
    * input bytes to the block manager would cost more than the extra
    * key-projected evaluations, so the un-pinned shape is kept.
    */
  def clusterize(rows: DataFrame, cols: Seq[String], nOut: Int,
      partCols: Seq[String] = Nil,
      inputBytes: Long = Long.MaxValue): DataFrame = {
    require(cols.nonEmpty, "clusterize needs >= 1 cluster column")
    val src =
      if (inputBytes <= PinMaxBytes) rows.localCheckpoint(eager = false)
      else rows
    val rangeCols = partCols.map(col) :+ col("__zval")
    src.withColumn("__zval", zValue(src, cols))
      .repartitionByRange(nOut, rangeCols: _*)
      .sortWithinPartitions(rangeCols: _*)
      .drop("__zval")
  }

  /** ≤255 evenly spaced cuts from a bounded sample (≤64k values) — the
    * same sample-the-domain move as Spark's RangePartitioner.
    */
  private def stringCuts(df: DataFrame, c: String): Seq[String] = {
    val total = math.max(1L, df.select(c).na.drop.count())
    val fraction = math.min(1.0, 65536.0 / total)
    val sampled = df.select(col(c)).na.drop
      .sample(withReplacement = false, fraction, seed = 41)
      .distinct().sort(col(c)).collect().map(_.getString(0))
    val step = math.max(1, sampled.length / 255)
    sampled.zipWithIndex
      .collect { case (v, i) if i % step == 0 => v }.take(255).toSeq
  }

}

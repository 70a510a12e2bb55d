package graft

import org.apache.spark.sql.functions._

/** The shared clusterize rewrite layout (optimization round 15): these
  * tests pin the observable contract all four formats' z-order rewrites
  * rely on — contiguous non-overlapping ranges per group, all rows
  * present, helper columns dropped — independent of which layout
  * strategy clusterize picks internally.
  */
class ZOrderSpec extends SparkSuite {

  test("clusterize yields contiguous non-overlapping single-key ranges") {
    import spark.implicits._
    // values deliberately unsorted and skew-free: 10k rows, 0..9999
    val df = spark.range(10000).select(
      (col("id") * 7919 % 10000).as("k"), col("id").as("payload"))
    val out = graft.operators.ZOrder.clusterize(df, Seq("k"), nOut = 8)
    val ranges = out.select(col("k"))
      .mapPartitions(it => {
        val vs = it.map(_.getLong(0)).toSeq
        if (vs.isEmpty) Iterator.empty
        else Iterator((vs.min, vs.max, vs.size.toLong))
      }).collect().sortBy(_._1)
    assert(ranges.map(_._3).sum == 10000L, "rows lost or duplicated")
    assert(ranges.length >= 4, s"too few non-empty groups: ${ranges.length}")
    // groups are fid-pure: ranges may touch only at a shared bucket cut
    ranges.sliding(2).foreach {
      case Array((_, aMax, _), (bMin, _, _)) =>
        assert(aMax <= bMin,
          s"interleaved ranges: $aMax > $bMin — route map broken")
      case _ =>
    }
    // equi-depth: no group past 4x the ideal share
    assert(ranges.map(_._3).max <= 4 * (10000 / 8),
      s"skewed groups: ${ranges.map(_._3).toSeq}")
  }

  test("clusterize multi-key rows survive and cluster both columns") {
    val df = spark.range(4096).select(
      (col("id") % 64).as("a"), (col("id") / 64).cast("long").as("b"))
    val out = graft.operators.ZOrder.clusterize(df, Seq("a", "b"), nOut = 8)
    assert(out.count() == 4096)
    assert(out.columns.toSeq == Seq("a", "b"), "helper columns leaked")
    // per-partition bounding boxes must shrink vs the full domain on
    // BOTH keys for at least one group (the point of z-clustering)
    import spark.implicits._
    val boxes = out.mapPartitions(it => {
      val rows = it.map(r => (r.getLong(0), r.getLong(1))).toSeq
      if (rows.isEmpty) Iterator.empty
      else Iterator((rows.map(_._1).min, rows.map(_._1).max,
        rows.map(_._2).min, rows.map(_._2).max))
    }).collect()
    assert(boxes.exists(b => b._2 - b._1 < 63 && b._4 - b._3 < 63),
      s"no group narrowed both keys: ${boxes.toSeq}")
  }

  test("clusterize tiny frame (empty sample) still routes") {
    val df = spark.range(5).select(col("id").as("k"))
    val out = graft.operators.ZOrder.clusterize(df, Seq("k"), nOut = 4)
    assert(out.count() == 5)
  }

  test("small-input pin (localCheckpoint) keeps the same range layout") {
    import spark.implicits._
    val df = spark.range(10000).select(
      (col("id") * 7919 % 10000).as("k"), col("id").as("payload"))
    // inputBytes below ZOrder.PinMaxBytes -> pinned input;
    // layout contract must be identical to the unpinned path
    val out = graft.operators.ZOrder.clusterize(df, Seq("k"), nOut = 8,
      inputBytes = 0L)
    val ranges = out.select(col("k"))
      .mapPartitions(it => {
        val vs = it.map(_.getLong(0)).toSeq
        if (vs.isEmpty) Iterator.empty
        else Iterator((vs.min, vs.max, vs.size.toLong))
      }).collect().sortBy(_._1)
    assert(ranges.map(_._3).sum == 10000L, "rows lost or duplicated")
    ranges.sliding(2).foreach {
      case Array((_, aMax, _), (bMin, _, _)) =>
        assert(aMax <= bMin, s"interleaved ranges: $aMax > $bMin")
      case _ =>
    }
  }
}

package graft.util

import org.apache.spark.sql.Dataset

import graft.plans.Placement

/** Stream a `Dataset[String]` of commit lines to the driver with BOTH
  * bounds that matter:
  *
  * - **memory**: at most ~[[Placement.MaxRows]] lines buffered on the
  *   driver at once;
  * - **scheduler round-trips**: a small commit streams in the ONE job of
  *   [[Placement.probe]], which also pins the lines; larger commits fall
  *   back to GROUPS of partitions sized by the probe's per-partition
  *   counts, read from the pinned blocks (never the lineage).
  *   `toLocalIterator` costs a full job per partition.
  *
  * A 10^6-file commit still streams in ~16 bounded jobs; the driver never
  * holds the whole action log.
  */
object StreamedLines {

  def iterate(ds: Dataset[String]): Iterator[String] = {
    val probe = Placement.probe(ds, (_: String) => 0L)
    probe.rows match {
      case Some(rows) => rows.iterator
      case None =>
        val rdd = probe.pinned
        val counts = probe.counts
        // greedy in-order grouping: each group's lines stay under the
        // budget (a single partition over budget forms its own group)
        val groups = Seq.newBuilder[Seq[Int]]
        var cur = Seq.newBuilder[Int]
        var curLines = 0L
        var curEmpty = true
        for (p <- counts.indices) {
          if (!curEmpty && curLines + counts(p) > Placement.MaxRows) {
            groups += cur.result(); cur = Seq.newBuilder[Int]
            curLines = 0L; curEmpty = true
          }
          if (counts(p) > 0) {
            cur += p; curLines += counts(p); curEmpty = false
          }
        }
        if (!curEmpty) groups += cur.result()
        groups.result().iterator.flatMap { ids =>
          rdd.sparkContext.runJob(rdd,
            (it: Iterator[String]) => it.toArray, ids)
            .iterator.flatMap(_.iterator)
        } ++ { rdd.unpersist(blocking = false); Iterator.empty }
    }
  }
}

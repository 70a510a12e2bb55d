package graftbench

import graftbench.Trace.{Job, Span}

/** Turns a traced run's spans into the per-layer table.
  *
  * A layer's time is the self time of its spans (duration minus the time
  * its child spans cover), summed and divided by the number of timed
  * operations that entered the layer at all. Spark figures come from the
  * jobs charged to each operation; `driver_gap` is an operation's wall
  * time not covered by any of its jobs. Layers a workload never enters
  * read 0.
  */
object Layers {

  val Formats = Seq("delta", "iceberg", "hudi")

  def metrics(spans: IndexedSeq[Span], jobs: Seq[Job]): Seq[Metric] = {
    val children = spans.groupBy(_.parent)
    def selfMs(s: Span): Double =
      s.durMs - children.getOrElse(s.id, Nil).map(_.durMs).sum
    val roots = spans.filter(_.parent < 0)
    val nOps = roots.length.max(1)

    /** Self ms per operation that entered any span matching `p`. */
    def perOp(name: String, p: String => Boolean): Metric = {
      val hit = spans.filter(s => p(s.name))
      val ops = hit.map(_.op).distinct.length
      Metric(name, if (ops == 0) 0.0 else hit.map(selfMs).sum / ops, "ms", ops)
    }
    def counted(name: String, spanName: String => Boolean, key: String,
        unit: String): Metric = {
      val hit = spans.filter(s => spanName(s.name))
      Metric(name,
        if (hit.isEmpty) 0.0 else hit.map(_.counts.getOrElse(key, 0.0)).sum / hit.length,
        unit, hit.length)
    }
    def ratio(name: String, spanName: String, num: String, den: String): Metric = {
      val hit = spans.filter(_.name == spanName)
      val d = hit.map(_.counts.getOrElse(den, 0.0)).sum
      Metric(name, if (d == 0) 0.0 else hit.map(_.counts.getOrElse(num, 0.0)).sum / d,
        "ratio", hit.length)
    }
    def in(names: String*)(n: String) = names.contains(n)

    val sync = Seq(
      perOp("sync.self_ms", _ == "sync"),
      perOp("sync.table_metadata_ms", _.endsWith(".target.tableMetadata")),
      ratio("sync.incremental_ratio", "sync", "incremental", "outcomes"))

    val formats = Formats.flatMap { f =>
      val src = s"formats.$f.source."
      val tgt = s"formats.$f.target."
      Seq(
        perOp(src + "change_ms", _ == src + "changeForCommit"),
        perOp(src + "backlog_ms", in(src + "commitsBacklog",
          src + "isIncrementalSyncSafeFrom", src + "currentTable")),
        perOp(src + "snapshot_ms", _ == src + "currentSnapshot"),
        perOp(tgt + "files_ms", in(tgt + "syncFilesForSnapshot",
          tgt + "syncFilesForDiff")),
        perOp(tgt + "complete_ms", _ == tgt + "completeSync"),
        perOp(tgt + "other_ms", in(tgt + "beginSync", tgt + "syncMetadata",
          tgt + "syncSchema", tgt + "syncPartitionSpec",
          tgt + "expectBaseCommit")),
        counted(tgt + "meta_bytes_per_commit", _ == tgt + "completeSync",
          "meta_bytes", "B"),
        counted(tgt + "meta_files_per_commit", _ == tgt + "completeSync",
          "meta_files", "count"))
    }

    val del = "formats.delta.deletes.delete"
    val deletes = Seq(
      perOp(del + "_ms", _ == del),
      counted("formats.delta.deletes.rows_per_delete", _ == del, "rows", "count"),
      counted("formats.delta.deletes.dv_bytes_per_delete", _ == del,
        "dv_bytes", "B"))

    val plans = Seq(
      perOp("plans.list_files_ms", _ == "plans.list_files"),
      ratio("plans.files_kept_ratio", "plans.list_files", "kept", "listed"))

    // jobs, each charged to the operation of the span that submitted it
    val opOf = spans.map(s => s.id -> s.op).toMap
    val owned = jobs.map { j =>
      val span = if (j.span >= 0) j.span else Trace.spanAt(j.startMs)
      (j, opOf.get(span), spans.lift(span).map(_.name))
    }
    val readJobs = owned.filter(_._3.exists(_.startsWith("sources.read.")))
    val readOps = spans.filter(_.name.startsWith("sources.read.")).map(_.op)
      .distinct.length
    val reads = Seq(
      perOp("sources.read.plan_ms", _ == "sources.read.plan"),
      perOp("sources.read.exec_ms", _ == "sources.read.exec"),
      Metric("sources.read.input_bytes",
        if (readOps == 0) 0.0 else readJobs.map(_._1.inputBytes).sum.toDouble / readOps,
        "B", readOps))

    val byOp = owned.filter(_._2.isDefined).groupBy(_._2.get)
    val wallByOp = roots.map(r => r.op -> r.durMs).toMap
    val jobWall = wallByOp.keys.toSeq.map { op =>
      val ivs = byOp.getOrElse(op, Nil).map(_._1)
        .filter(_.endMs >= 0).map(j => (j.startMs, j.endMs)).sortBy(_._1)
      op -> unionMs(ivs)
    }.toMap
    val opJobs = byOp.values.map(_.map(_._1))
    val spark = Seq(
      Metric("spark.jobs_per_op", opJobs.map(_.length).sum.toDouble / nOps, "count", nOps),
      Metric("spark.tasks_per_op", opJobs.flatten.map(_.tasks).sum.toDouble / nOps,
        "count", nOps),
      Metric("spark.task_ms_per_op", opJobs.flatten.map(_.taskMs).sum.toDouble / nOps,
        "ms", nOps),
      Metric("spark.job_wall_ms_per_op", jobWall.values.sum / nOps, "ms", nOps),
      Metric("spark.driver_gap_ms_per_op",
        wallByOp.map { case (op, w) => (w - jobWall(op)).max(0.0) }.sum / nOps,
        "ms", nOps))

    val io = Seq(
      Metric("io.rchar_per_op", roots.map(_.io(0)).sum.toDouble / nOps, "B", nOps),
      Metric("io.wchar_per_op", roots.map(_.io(1)).sum.toDouble / nOps, "B", nOps),
      Metric("io.syscalls_per_op", roots.map(_.io(2)).sum.toDouble / nOps, "count", nOps),
      Metric("jvm.gc_ms_per_op", roots.map(_.gcMs).sum.toDouble / nOps, "ms", nOps))

    sync ++ formats ++ deletes ++ plans ++ reads ++ spark ++ io
  }

  /** Length of the union of [start, end] intervals sorted by start, in ms. */
  private def unionMs(ivs: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- ivs) {
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }
}

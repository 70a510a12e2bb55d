package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One metric as printed: name, value, unit and the samples behind it. */
final case class Metric(name: String, value: Double, unit: String,
    samples: Int)

/** A workload: set-up (inputs, first syncs, warm-up) and then a closed
  * loop of `step`s, each running one or more timed operations.
  */
trait Workload {
  def setup(): Unit
  def step(): Unit
  /** Independent correctness checks; each returned string is a failure. */
  def verify(): Seq[String]
  /** The workload's own metrics (`sync_p50_ms`, `query_p90_ms`, ...). */
  def metrics(): Seq[Metric]
  /** The operation kind `op_median_ms` summarises. */
  def primary: String
  /** Typical latency of the primary operation: its median, unless the
    * workload mixes operation classes of very different cost.
    */
  def opMedianMs: Double = Ops.pct(Ops.of(primary), 50)
  /** Steps the metrics summarise: the first ones of the timed loop. The
    * loop runs on for the whole run, but latencies still fall slowly as
    * the JIT warms, so a run that fits more steps in (a faster host)
    * would otherwise be rated on warmer steps than a slower one.
    */
  def measuredSteps: Int
}

/** Latency samples per operation kind, plus attempted/failed counts. */
object Ops {
  /** (kind, ms) of every timed operation that succeeded, in order. */
  private val samples = mutable.ArrayBuffer.empty[(String, Double)]
  var attempted = 0L
  var failed = 0L
  /** Set once warm-up ends: only timed operations are recorded. */
  var timing = false
  /** Cleared after the measured steps: later operations are still run
    * and checked, but not summarised.
    */
  var recording = true
  /** Latencies of the untimed warm-up operations, in order. */
  val warmUp = mutable.ArrayBuffer.empty[Double]
  /** Canary times, one after each timed operation. */
  val canary = mutable.ArrayBuffer.empty[Double]

  /** Run one operation; `ok` judges its result (false = ERROR outcome). */
  def time[T](kind: String)(body: => T)(ok: T => Boolean): Option[T] = {
    val t0 = System.nanoTime()
    val r = try Some(body) catch {
      case e: Exception if timing =>
        System.err.println(s"[perfbench] $kind failed: $e"); None
    }
    val ms = (System.nanoTime() - t0) / 1e6
    if (!timing) warmUp += ms
    if (timing) {
      attempted += 1
      if (r.forall(v => !ok(v))) failed += 1
      else if (recording) samples += kind -> ms
      if (recording) canary += Canary.sample()
    }
    if (r.exists(v => !ok(v)) && !timing)
      throw new IllegalStateException(s"warm-up $kind returned an error")
    r
  }

  def kinds: Seq[String] = samples.map(_._1).distinct.toSeq
  /** Samples of `kind` and of its sub-kinds (`kind:...`), in order. */
  def of(kind: String): IndexedSeq[Double] =
    samples.iterator.collect {
      case (k, ms) if k == kind || k.startsWith(kind + ":") => ms
    }.toIndexedSeq

  /** The `p`th percentile, linear-interpolated like numpy's default. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val r = (s.length - 1) * p / 100.0
      val lo = r.floor.toInt
      val hi = r.ceil.toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def p50(kind: String, name: String): Metric =
    Metric(name, pct(of(kind), 50), "ms", of(kind).length)
  def p90(kind: String, name: String): Metric =
    Metric(name, pct(of(kind), 90), "ms", of(kind).length)
  /** Completed operations per second of time spent in them. */
  def rate(kinds: Seq[String], name: String): Metric = {
    val xs = kinds.flatMap(of)
    Metric(name, xs.length / (xs.sum / 1000.0), "1/s", xs.length)
  }
}

object Main {

  /** Phases of the run (set-up steps, gc, verify) and their seconds. */
  val phases = mutable.ArrayBuffer.empty[(String, Double)]
  def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally phases += name -> (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val name = opts("workload")
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val processStart = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = phase("session")(session(work))
    val w: Workload = name match {
      case "small_commits" => new SmallCommits(spark, work, seed)
      case "read_delete_mix" => new ReadDeleteMix(spark, work, seed)
      case "wide_table" => new WideTable(spark, work, seed)
      case other => throw new IllegalArgumentException(
        s"unknown workload $other")
    }
    w.setup()
    val setupS = (System.currentTimeMillis() - processStart) / 1000.0

    Ops.timing = true
    if (traced) Trace.start(spark.sparkContext)
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    var steps = 0
    while (System.nanoTime() < deadline) {
      w.step()
      steps += 1
      if (steps == w.measuredSteps) Ops.recording = false
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    if (traced) Trace.stop()
    Ops.timing = false

    Main.phase("gc")(System.gc())
    val liveHeapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
      .getUsed / 1048576.0

    val problems = Main.phase("verify")(w.verify())
    problems.foreach(p => System.err.println(s"[perfbench] WRONG: $p"))

    val xs = Ops.of(w.primary)
    // per operation kind, median of the last third of its samples over
    // that of the first third; geometric mean over the kinds
    val trends = Ops.kinds.filter(k => k == w.primary || k.startsWith(w.primary + ":"))
      .map(Ops.of).filter(_.length >= 2).map { ks =>
        val third = (ks.length / 3).max(1)
        math.log(Ops.pct(ks.takeRight(third), 50) / Ops.pct(ks.take(third), 50))
      }
    val trend = math.exp(trends.sum / trends.length)
    // operation metrics scaled to the reference host speed (Canary);
    // setup_s stays as measured: the canary runs only in the timed phase
    val canaryMs = Ops.pct(Ops.canary.toSeq, 50)
    val speed = Canary.ReferenceMs / canaryMs
    val rate = Ops.rate(Ops.kinds, "ops_per_s")
    val named = Seq(
      Metric("setup_s", setupS, "s", 1),
      Metric("failed_ratio", Ops.failed.toDouble / Ops.attempted.max(1),
        "ratio", Ops.attempted.toInt),
      Metric("live_heap_mb", liveHeapMb, "MB", 1)) ++ w.metrics() ++ Seq(
      Metric("timed_wall_s", wallS, "s", 1),
      Metric("steps_run", steps, "count", 1),
      Metric("canary_ms", canaryMs, "ms", Ops.canary.length),
      Metric("op_median_raw_ms", w.opMedianMs, "ms", xs.length),
      rate.copy(name = "ops_raw_per_s"),
      Metric("trend_last_over_first_third", trend, "ratio", xs.length))
    val generic = Seq(
      Metric("setup_s", setupS, "s", 1),
      Metric("op_median_ms", w.opMedianMs * speed, "ms", xs.length),
      rate.copy(value = rate.value / speed))

    println(s"# workload=$name seed=$seed seconds=$seconds trace=${if (traced) 1 else 0}")
    printTable(named)
    println("# gated, scaled to a canary of " + Canary.ReferenceMs + " ms:")
    printTable(generic)
    for ((p, sec) <- phases) println(f"# phase $p%-36s $sec%10.3f s")
    println("# warm-up ms: " + Ops.warmUp.map(v => f"$v%.0f").mkString(" "))
    println("# timed " + w.primary + " ms: " + xs.map(v => f"$v%.0f").mkString(" "))
    val reported =
      if (!traced) generic
      else {
        val layers = Layers.metrics(Trace.allSpans, Trace.allJobs) :+
          Metric("jvm.live_heap_mb", liveHeapMb, "MB", 1)
        printTable(layers)
        val out = Paths.get(opts("traces")).resolve(s"$name-seed$seed.jsonl")
        Trace.write(out)
        println(s"# spans written to $out")
        layers
      }
    val correct = problems.isEmpty && Ops.failed == 0 && xs.nonEmpty
    if (Ops.attempted == 0) { Ops.attempted = 1; Ops.failed = 1 }
    spark.stop()
    println(resultJson(correct, reported))
    System.out.flush()
    sys.exit(0)
  }

  private def printTable(ms: Seq[Metric]): Unit =
    for (m <- ms)
      println(f"# ${m.name}%-42s ${m.value}%14.4f ${m.unit}%-6s n=${m.samples}")

  private def resultJson(correct: Boolean, ms: Seq[Metric]): String = {
    def num(v: Double) =
      if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
    val body = ms.map(m =>
      s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
    s"""{"correct": $correct, "attempted": ${Ops.attempted}, """ +
      s""""failed": ${Ops.failed}, "metrics": {${body.mkString(", ")}}}"""
  }

  private def session(work: Path): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(work)
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans recorded around calls into graft's layers, from the benchmark's
  * side of each call (decorators and wrappers; nothing inside graft is
  * instrumented).
  *
  * One client thread drives every workload, so spans nest as a stack. An
  * operation (`op`) is a root span: one timed sync commit, query, delete
  * or plan. Every span records its wall interval and the `/proc/self/io`
  * and GC-time deltas across it; a `SparkListener` charges each Spark job
  * (and its tasks, executor time and input bytes) to the span that was
  * innermost on the submitting thread when the job started. Spans stay in
  * memory and are written once, at exit.
  *
  * When tracing is off every entry point runs its body and nothing else.
  */
object Trace {

  final class Span(val id: Int, val parent: Int, val op: Int,
      val name: String, val startNs: Long, startIo: Array[Long],
      startGc: Long) {
    var endNs = 0L
    /** rchar, wchar, syscalls (read + write) over the span. */
    val io = new Array[Long](3)
    var gcMs = 0L
    val counts = mutable.LinkedHashMap.empty[String, Double]
    private[Trace] def close(): Unit = {
      endNs = System.nanoTime()
      val now = procIo()
      for (i <- io.indices) io(i) = now(i) - startIo(i)
      gcMs = gcTimeMs() - startGc
    }
    def durMs: Double = (endNs - startNs) / 1e6
  }

  final case class Job(id: Int, span: Int, startMs: Long,
      var endMs: Long = -1L, var tasks: Int = 0, var taskMs: Long = 0L,
      var inputBytes: Long = 0L)

  private val SpanProperty = "graftbench.span"

  @volatile private var on = false
  private var sc: SparkContext = _
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextOp = 0
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  // epoch-ms ↔ nanoTime anchor, for jobs submitted without a span property
  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()

  def enabled: Boolean = on

  /** Start recording. Called after warm-up, so only timed operations
    * produce spans.
    */
  def start(context: SparkContext): Unit = {
    sc = context
    sc.addSparkListener(listener)
    on = true
  }

  /** Stop recording, once every event of the timed phase is in. */
  def stop(): Unit = {
    org.apache.spark.BenchBus.drain(sc)
    on = false
  }

  /** Root span of one timed operation. */
  def op[T](name: String)(body: => T): T =
    if (!on) body
    else { nextOp += 1; open(name, nextOp)(body) }

  def span[T](name: String)(body: => T): T =
    if (!on || stack.isEmpty) body else open(name, stack.head.op)(body)

  /** Add `v` to counter `key` on the innermost open span. */
  def count(key: String, v: Double): Unit =
    if (on && stack.nonEmpty) {
      val c = stack.head.counts
      c(key) = c.getOrElse(key, 0.0) + v
    }

  private def open[T](name: String, op: Int)(body: => T): T = {
    val parent = stack.headOption
    val s = new Span(spans.length, parent.map(_.id).getOrElse(-1), op,
      name, System.nanoTime(), procIo(), gcTimeMs())
    spans += s
    stack = s :: stack
    sc.setLocalProperty(SpanProperty, s.id.toString)
    try body
    finally {
      s.close()
      stack = stack.tail
      sc.setLocalProperty(SpanProperty,
        stack.headOption.map(_.id.toString).orNull)
    }
  }

  def allSpans: IndexedSeq[Span] = spans.toIndexedSeq
  def allJobs: Seq[Job] = jobs.synchronized(jobs.values.toList)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
      val prop = Option(e.properties)
        .flatMap(p => Option(p.getProperty(SpanProperty))).map(_.toInt)
      val span = prop.getOrElse(-1)
      jobs.synchronized {
        jobs(e.jobId) = Job(e.jobId, span, e.time)
        e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.synchronized(jobs.get(e.jobId).foreach(_.endMs = e.time))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      jobs.synchronized {
        stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
          j.tasks += 1
          Option(e.taskMetrics).foreach { m =>
            j.taskMs += m.executorRunTime
            j.inputBytes += m.inputMetrics.bytesRead
          }
        }
      }
  }

  /** Innermost span whose interval holds epoch-ms `t` (-1 when none):
    * the owner of a job submitted without the span property.
    */
  def spanAt(t: Long): Int = {
    val ns = anchorNs + (t - anchorMs) * 1000000L
    spans.reverseIterator.find(s => s.startNs <= ns && ns <= s.endNs)
      .map(_.id).getOrElse(-1)
  }

  private val ioPath = Paths.get("/proc/self/io")
  private val ioReadable = Files.isReadable(ioPath)

  /** rchar, wchar and syscr + syscw of this process; zeros where the
    * kernel does not expose them.
    */
  def procIo(): Array[Long] = {
    val out = new Array[Long](3)
    if (ioReadable) for (line <- Files.readAllLines(ioPath).asScala) {
      val i = line.indexOf(':')
      if (i > 0) {
        val v = line.substring(i + 1).trim.toLong
        line.substring(0, i) match {
          case "rchar" => out(0) = v
          case "wchar" => out(1) = v
          case "syscr" | "syscw" => out(2) += v
          case _ =>
        }
      }
    }
    out
  }

  def gcTimeMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum

  /** Span and job records, one JSON object a line. */
  def write(path: java.nio.file.Path): Unit = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val lines = spans.iterator.map { s =>
      val counts = s.counts.map { case (k, v) => s"${q(k)}:$v" }.mkString(",")
      s"""{"span":${s.id},"parent":${s.parent},"op":${s.op},""" +
        s""""name":${q(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""rchar":${s.io(0)},"wchar":${s.io(1)},"syscalls":${s.io(2)},""" +
        s""""gc_ms":${s.gcMs},"counts":{$counts}}"""
    } ++ allJobs.iterator.map { j =>
      s"""{"job":${j.id},"span":${j.span},"start_ms":${j.startMs},""" +
        s""""end_ms":${j.endMs},"tasks":${j.tasks},"task_ms":${j.taskMs},""" +
        s""""input_bytes":${j.inputBytes}}"""
    }
    Files.createDirectories(path.getParent)
    Files.write(path, lines.toSeq.asJava)
  }
}

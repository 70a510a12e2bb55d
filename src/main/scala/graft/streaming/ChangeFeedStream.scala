package graft.streaming

import java.nio.charset.StandardCharsets
import java.util.concurrent.{Executors, TimeUnit}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.formats.delta.{DeltaChanges, DeltaLog}
import graft.io.TableStore

/** Incremental change-feed consumption with a durable offset — the CDC
  * pipeline primitive: every Delta commit's row-level changes are
  * delivered to `batchFn` exactly once across restarts.
  *
  * Shape: a poll loop (the `ContinuousSync` pattern) whose offset is the
  * last DELIVERED commit version, persisted to `checkpointDir/offset`
  * AFTER the callback returns — a crash mid-batch redelivers that batch
  * (at-least-once), a completed batch is never redelivered, and the
  * delivered stream is gap-free because versions are contiguous.
  * Each tick hands `batchFn` ONE DataFrame covering `(last, head]` —
  * CDC-file versions read in one batched scan, reconstruction for the
  * rest ([[DeltaChanges.changesBetween]]).
  *
  * Relation to [[GraftStreamSource]] (`spark.readStream
  * .format("graft")`): the streaming source serves the INSERTED ROWS
  * per commit into the Structured Streaming engine (append-stream
  * semantics, non-append commits refuse or skip); this poll loop hands
  * the caller the FULL row-level change feed — deletes and update
  * pre/post images included — one version range at a time, which the
  * append-only source contract cannot represent. CDC consumers
  * (replication, audit) use this; analytics tails use the source.
  */
class ChangeFeedStream(spark: SparkSession, tablePath: String,
    checkpointDir: String, intervalMillis: Long = 5000L,
    startingVersion: Option[Long] = None) {

  private val store = TableStore(spark)
  private val offsetFile = s"$checkpointDir/offset"
  private val executor = Executors.newSingleThreadScheduledExecutor(r => {
    val t = new Thread(r, "graft-change-feed"); t.setDaemon(true); t
  })
  @volatile private var ticks = 0L
  @volatile private var lastError: Option[Throwable] = None

  def tickCount: Long = ticks
  def error: Option[Throwable] = lastError

  /** The last version whose changes were fully delivered. Before the
    * first delivery: the checkpointed offset, else `startingVersion`,
    * else the table head at stream creation (new streams deliver only
    * FUTURE commits, like a streaming query started at the tail).
    */
  def lastDelivered: Long =
    store.readOption(offsetFile)
      .map(new String(_, StandardCharsets.UTF_8).trim.toLong)
      .getOrElse(startingVersion.getOrElse(
        DeltaLog.latestVersion(tablePath, store.conf).getOrElse(0L)))

  // offsets advance in place (single consumer, last writer wins) —
  // atomic REPLACE, not the commit files' put-if-absent CAS
  private def writeOffset(v: Long): Unit =
    store.replace(offsetFile, v.toString.getBytes(StandardCharsets.UTF_8))

  /** One catch-up step: deliver `(lastDelivered, head]` if the table has
    * advanced. Returns the number of versions delivered (0 = caught up).
    * Public so callers can drive catch-up-then-stop semantics
    * (`Trigger.AvailableNow`'s shape) without the timer.
    */
  def deliverOnce(batchFn: (DataFrame, Long, Long) => Unit): Long = {
    val last = lastDelivered
    val head = DeltaLog.latestVersion(tablePath, store.conf)
      .getOrElse(0L)
    if (head <= last) return 0L
    val feed = DeltaChanges.changesBetween(spark, tablePath, last, head)
    batchFn(feed, last, head)
    writeOffset(head)
    head - last
  }

  def start(batchFn: (DataFrame, Long, Long) => Unit): this.type = {
    executor.scheduleAtFixedRate(() => {
      try { deliverOnce(batchFn); ticks += 1 }
      catch { case e: Throwable => lastError = Some(e); ticks += 1 }
    }, 0L, intervalMillis, TimeUnit.MILLISECONDS)
    this
  }

  def stop(): Unit = {
    executor.shutdown()
    executor.awaitTermination(30, TimeUnit.SECONDS)
  }

  /** Block until at least `n` ticks have completed (test/CLI helper). */
  def awaitTicks(n: Long, timeoutMillis: Long = 60000L): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMillis
    while (ticks < n && System.currentTimeMillis() < deadline) Thread.sleep(20)
    ticks >= n
  }
}

package graft.util

import java.util.concurrent.atomic.AtomicLong

/** Crash-injection hook of the table store ([[graft.io.TableStore]]): its
  * physical deletes and its publishes (put-if-absent, replace) each pass
  * one counter. Production cost is one static volatile read per call;
  * armed (tests only), the N+1-th call throws, simulating a process kill
  * mid-operation so the crash-consistency contract can be asserted:
  *
  *   1. metadata tombstones precede physical deletes — every sweep first
  *      commits/derives the retained metadata plane, then deletes, so a
  *      kill at ANY delete leaves the table serveable;
  *   2. no live file is ever in the doomed set, so a partial sweep never
  *      loses data;
  *   3. a commit killed before any publish leaves the table at its
  *      previous snapshot;
  *   4. a re-run converges: already-deleted paths no-op (delete returns
  *      false) and the remainder is swept or committed.
  *
  * Single-JVM by design — the same place the local[n] test harness runs
  * its executors. On a real cluster the hook is simply never armed.
  */
object FaultInjection {

  private final class Point(what: String) {
    @volatile var failAfter: Long = Long.MaxValue
    val seen = new AtomicLong(0L)

    def arm(after: Long): Unit = { seen.set(0L); failAfter = after }

    def disarm(): Unit = { failAfter = Long.MaxValue; seen.set(0L) }

    def tick(path: String): Unit =
      if (failAfter != Long.MaxValue && seen.incrementAndGet() > failAfter)
        throw new java.io.IOException(
          s"injected crash before $what $path " +
            s"(${seen.get() - 1} completed)")
  }

  private val deletes = new Point("deleting")
  private val publishes = new Point("publishing")

  /** Arm: the first `after` deletes proceed, the next one throws. */
  def armDeleteCrash(after: Long): Unit = deletes.arm(after)

  /** Arm: the first `after` publishes proceed, the next one throws. */
  def armPublishCrash(after: Long): Unit = publishes.arm(after)

  def disarm(): Unit = { deletes.disarm(); publishes.disarm() }

  /** Count of physical deletes observed since the last arm/disarm. */
  def observedDeletes: Long = deletes.seen.get()

  /** Count of publishes observed since the last arm/disarm. */
  def observedPublishes: Long = publishes.seen.get()

  private[graft] def beforeDelete(path: String): Unit = deletes.tick(path)

  private[graft] def beforePublish(path: String): Unit = publishes.tick(path)
}

package graft.formats.hudi

import graft.io.TableStore

/** Table-level commit lock for Hudi writers — the
  * FileSystemBasedLockProvider pattern Hudi itself ships for
  * multi-writer tables: Hudi's timeline is append-only with NO
  * table-level CAS, so concurrent writers that must serialize (an
  * exactly-once sink's stamp-check + commit; row-level log writers that
  * would otherwise append blocks into the SAME log file and interleave)
  * take an atomic-create lock file under `.hoodie/`. A crashed holder's
  * lock is broken after [[HudiLock.StaleLockMillis]].
  */
object HudiLock {

  val StaleLockMillis: Long = 10 * 60 * 1000L
  val AcquireTimeoutMillis: Long = 120000L

  def withLock[T](tablePath: String, name: String,
      store: TableStore = TableStore.active())(f: => T): T = {
    val lock = s"${HudiTimeline.hoodieDir(tablePath)}/.graft-lock-$name"
    val deadline = System.currentTimeMillis() + AcquireTimeoutMillis
    while (!store.putIfAbsent(lock, Array.emptyByteArray)) {
      val stale = try store.modificationTime(lock) <
        System.currentTimeMillis() - StaleLockMillis
      catch { case _: java.io.IOException => false }
      if (stale) store.discard(lock)
      else if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException(
          s"could not acquire Hudi lock $lock within " +
            s"${AcquireTimeoutMillis / 1000}s — break it manually if " +
            "its holder crashed")
      else Thread.sleep(25)
    }
    try f finally store.discard(lock)
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.formats.hudi.HudiTimeline
import graft.formats.paimon.PaimonFormat

/** Directory listings on the per-sync paths close what they open. */
class FileHandleSpec extends AnyFunSuite {

  private def golden(name: String): String =
    new java.io.File(s"src/test/resources/golden/$name").getAbsolutePath

  private def openFds(): Int = new java.io.File("/proc/self/fd").list().length

  test("timeline and snapshot listings leave the open-file count flat") {
    assume(new java.io.File("/proc/self/fd").isDirectory, "needs procfs")
    val hudi = golden("hudi_v1_trips")
    val paimon = golden("paimon_orders")
    // warm up class loading and any lazily opened jars first
    HudiTimeline.listInstants(hudi); PaimonFormat.listSnapshotIds(paimon)
    val before = openFds()
    for (_ <- 1 to 500) {
      assert(HudiTimeline.listInstants(hudi).nonEmpty)
      assert(PaimonFormat.listSnapshotIds(paimon).nonEmpty)
    }
    val after = openFds()
    // 1000 listings: a leak per call shows as hundreds of descriptors;
    // the slack only absorbs other threads of the shared test JVM
    assert(after - before < 50, s"open fds went from $before to $after")
  }
}

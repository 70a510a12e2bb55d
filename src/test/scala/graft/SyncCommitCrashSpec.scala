package graft

import org.apache.spark.sql.DataFrame

import graft.formats.delta.{DeltaConversionSource, DeltaConversionTarget, DeltaWrite}
import graft.formats.hudi.{HudiConversionSource, HudiConversionTarget}
import graft.formats.iceberg.{IcebergConversionSource, IcebergConversionTarget}
import graft.formats.paimon.{PaimonConversionSource, PaimonConversionTarget}
import graft.spi.ConversionTarget
import graft.sync.ConversionController
import graft.util.FaultInjection

/** Crash-consistency of sync commits: an incremental sync into each target
  * format is killed before its first, second, ... store publish (the
  * put-if-absent of a commit file, or the replace of a hint, properties or
  * index file), one kill point per new source commit, until a sync runs
  * past every armed point. After each kill the target serves a whole
  * snapshot — the previous one when the kill came before the commit
  * file's publish, else the new one — never a mix, and a re-run converges
  * to the source's rows.
  */
class SyncCommitCrashSpec extends SparkSuite {

  import spark.implicits._

  private def rowsOf(df: DataFrame): Set[(Long, String)] =
    df.select("id", "name").as[(Long, String)].collect().toSet

  private val formats: Seq[(String, String => ConversionTarget,
      String => DataFrame)] = Seq(
    ("delta", new DeltaConversionTarget(spark, _),
      t => spark.read.format("graft").load(t)),
    ("iceberg", new IcebergConversionTarget(spark, _),
      new IcebergConversionSource(spark, _, "t").toDataFrame),
    ("hudi", new HudiConversionTarget(spark, _),
      new HudiConversionSource(spark, _, "t").toDataFrame),
    ("paimon", new PaimonConversionTarget(spark, _),
      new PaimonConversionSource(spark, _, "t").toDataFrame))

  for ((fmt, target, read) <- formats)
    test(s"incremental sync into $fmt killed before each publish serves a " +
        "whole snapshot and converges on re-run") {
      val src = tmpDir(s"crash_src_$fmt")
      val tgt = tmpDir(s"crash_$fmt")
      def commit(i: Long): Unit = DeltaWrite.write(spark, src,
        Seq((i, s"v$i")).toDF("id", "name"), overwrite = false)
      def expected(upTo: Long) = (0L to upTo).map(j => (j, s"v$j")).toSet
      val controller = new ConversionController
      def sync() = controller.sync(
        new DeltaConversionSource(spark, src, "t"), Seq(target(tgt)))
      def ok(out: Seq[graft.spi.SyncOutcome]) =
        assert(out.forall(_.status == "SUCCESS"), out.mkString("; "))

      commit(0L)
      ok(sync())
      var k = 0
      var i = 1L
      var killedBeforeCommit = 0
      var done = false
      while (!done) {
        commit(i)
        FaultInjection.armPublishCrash(after = k)
        val out =
          try sync()
          finally {
            done = FaultInjection.observedPublishes <= k
            FaultInjection.disarm()
          }
        val now = rowsOf(read(tgt))
        if (done) {
          ok(out)
          assert(now == expected(i))
        } else {
          assert(now == expected(i - 1) || now == expected(i),
            s"kill before publish ${k + 1} left a mixed snapshot: $now")
          if (now == expected(i - 1)) killedBeforeCommit += 1
          ok(sync())
          assert(rowsOf(read(tgt)) == expected(i),
            s"re-run after the kill before publish ${k + 1} did not converge")
          k += 1
        }
        i += 1
      }
      info(s"$k kill points, $killedBeforeCommit before the commit file")
      assert(k >= 1 && killedBeforeCommit >= 1, (k, killedBeforeCommit))
    }
}

package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one per suite, UTC, `local[N]` with N shuffle
  * partitions where N is `SPARK_GRAFT_CPUS` (4 when unset).
  */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session
  def sf(dir: String): String = s"/root/testdata/$dir"
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
  /** A placed side's entries, wherever they were decoded. */
  def placedRows(p: graft.plans.Placement.Placed[graft.model.FileEntry])
      : Seq[graft.model.FileEntry] = p.fold(identity, _.collect().toSeq)
}

object SparkSuite {
  val cores: Int = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption)
    .filter(_ > 0).getOrElse(4)

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // iterative suites (BPE training, connected components) run
      // thousands of tiny executions; the disabled UI's status store
      // still retains plan STRINGS per execution by default, which adds
      // up to an OOM over a long suite — keep a token window
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "100")
      // adaptive re-plans of a long iterated lineage (the BPE batched
      // trainer) render each plan string whole for the same status store;
      // cap them so one string cannot exhaust the heap late in the run
      .config("spark.sql.maxPlanStringLength", "1m")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

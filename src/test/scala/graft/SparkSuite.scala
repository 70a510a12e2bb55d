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
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

package graft.util

import java.io.{ObjectInputStream, ObjectOutputStream}

import org.apache.hadoop.conf.Configuration
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession

/** A Java-serializable Hadoop Configuration, for broadcast into executor
  * closures (Configuration itself is Writable but not Serializable).
  */
final class SerializableHadoopConf(@transient private var conf: Configuration)
  extends Serializable {

  def value: Configuration = conf

  private def writeObject(out: ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    conf.write(out)
  }

  private def readObject(in: ObjectInputStream): Unit = {
    in.defaultReadObject()
    conf = new Configuration(false)
    conf.readFields(in)
  }
}

/** Session-derived Hadoop configuration for driver-side filesystem access
  * and for broadcast into executor tasks.
  *
  * `new Configuration()` silently discards every `spark.hadoop.*` setting —
  * object-store credentials, endpoints, kerberos — which is invisible on a
  * local filesystem and fatal on the object stores the 100 TB target runs
  * on. This is the public-API equivalent of `sessionState.newHadoopConf()`:
  * the context's Hadoop conf plus any runtime `spark.hadoop.*` overrides.
  */
object HadoopConfs {

  def session(spark: SparkSession): Configuration = {
    val c = new Configuration(spark.sparkContext.hadoopConfiguration)
    spark.conf.getAll.foreach { case (k, v) =>
      if (k.startsWith("spark.hadoop."))
        c.set(k.stripPrefix("spark.hadoop."), v)
    }
    c
  }

  /** [[session]] of the active session, for driver-side helpers called
    * without one (a bare `new Configuration()` when there is none).
    */
  def active(): Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(session).getOrElse(new Configuration())

  /** Broadcast form for use inside `mapPartitions`/`flatMap` closures. */
  def broadcastSession(spark: SparkSession): Broadcast[SerializableHadoopConf] =
    spark.sparkContext.broadcast(new SerializableHadoopConf(session(spark)))
}

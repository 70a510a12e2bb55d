package graft.formats.delta

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StructType}

import graft.io.TableStore
import graft.plans.StatSkipping
import graft.util.{HadoopConfs, Jsons}

/** Optimistic commit-conflict retry — delta-spark's ConflictChecker
  * rule (reference `OptimisticTransaction`/`ConflictChecker`, same
  * policy in Iceberg's `commit.retry-num-retries`): a commit that loses
  * the version CAS may re-land against the new head when every
  * intervening commit
  *
  *  - carries NO `metaData` or `protocol` action (schema, properties or
  *    feature changes invalidate any planned commit),
  *  - touches a file set DISJOINT from this commit's adds+removes
  *    (overlap means the two operations acted on the same data — a
  *    blind re-land would resurrect removed files or double-apply), and
  *  - for READ-based commits (DELETE/UPDATE pass their predicate as a
  *    [[ReadFootprint]]) adds NO dataChange file that could match the
  *    predicate — delta-spark's Serializable check: a delete re-landing
  *    past an append whose rows match the predicate would silently let
  *    those rows escape the delete. Stats-provably-missing adds (the
  *    file's min/max exclude every predicate bound) are admitted, which
  *    is what lets two deletes over disjoint key ranges both land.
  *
  * True conflicts still fail loudly with the original message shape.
  *
  * Scale shape: the commit's action lines are written EXACTLY ONCE — the
  * spool lives in the table's log directory so the version CAS is a
  * hard-link of the spool itself (no second copy of the commit bytes,
  * the round-9 double-write is gone); a retry replays the same spool,
  * never the upstream lineage (DV scans, footer reads). The
  * disjointness/predicate probes are distributed joins between the
  * spool and the intervening commit files; the driver holds no path set
  * on either side.
  */
object DeltaConflicts {

  // generous on purpose: each retry replays the local spool (no lineage
  // re-run), and a writer under heavy contention NEEDS the headroom —
  // delta-spark's default is effectively unbounded (10^7)
  val MaxRetries = 10

  /** The read side of a read-modify-write commit: the snapshot schema
    * plus the predicate's compiled stat bounds (None = uncompilable —
    * every intervening dataChange add conflicts, the conservative
    * Serializable outcome).
    */
  case class ReadFootprint(schema: StructType,
      skipping: Option[StatSkipping])

  /** Compile a delete/update predicate into its stat-bound footprint by
    * resolving it against an empty relation of the snapshot schema.
    * Analysis failure or an uncompilable shape → `skipping = None`.
    */
  def footprintOf(spark: SparkSession, schema: StructType,
      predicate: Column): ReadFootprint = {
    val skipping =
      try {
        val empty = spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          schema)
        val conds = empty.filter(predicate).queryExecution.analyzed.collect {
          case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
            f.condition
        }
        StatSkipping.compile(conds, schema)
      } catch { case scala.util.control.NonFatal(_) => None }
    ReadFootprint(schema, skipping)
  }

  /** Commit `lines` at `plannedVersion`, retrying past non-conflicting
    * intervening commits; returns the version that actually landed.
    */
  def commitWithRetry(spark: SparkSession, tablePath: String,
      plannedVersion: Long, lines: Iterator[String],
      read: Option[ReadFootprint] = None): Long =
    commitCore(spark, tablePath, plannedVersion, lines, read, None)
      .getOrElse(throw new IllegalStateException(
        "unreachable: commitCore returns None only under a txn guard"))

  /** Exactly-once variant for idempotent stream writers: between CAS
    * attempts the log is re-checked for a `txn` action with `appId` at
    * or past `batchId` — a concurrent/zombie replay of the same batch
    * that wins the race makes this return None (nothing committed)
    * instead of re-landing the rows past it.
    */
  def commitWithRetryTxn(spark: SparkSession, tablePath: String,
      plannedVersion: Long, lines: Iterator[String],
      appId: String, batchId: Long): Option[Long] =
    commitCore(spark, tablePath, plannedVersion, lines, None,
      Some((appId, batchId)))

  private def commitCore(spark: SparkSession, tablePath: String,
      plannedVersion: Long, lines: Iterator[String],
      read: Option[ReadFootprint],
      txnGuard: Option[(String, Long)]): Option[Long] = {
    val conf = HadoopConfs.session(spark)
    val store = new TableStore(conf)
    // the ONE write pass of the commit bytes: in the log directory, so
    // publishing is a hard-link of this very file (same filesystem); the
    // name matches no commit/checkpoint pattern, so log readers skip it
    val spool = store.spool(DeltaLog.logPath(tablePath), lines)
    try {
      var version = plannedVersion
      var attempt = 0
      while (attempt <= MaxRetries) {
        if (store.publishSpool(spool, DeltaLog.versionFile(tablePath, version)))
          return Some(version)
        attempt += 1
        // exactly-once recheck BEFORE deciding to re-land: if any commit
        // now carries our txn stamp, this is a replay racing itself —
        // skip, never duplicate
        txnGuard.foreach { case (appId, batchId) =>
          if (DeltaStreamSink.lastTxnVersion(spark, tablePath, appId)
              .exists(batchId <= _))
            return None
        }
        val head = DeltaLog.latestVersion(tablePath, conf).getOrElse(version)
        val intervening = DeltaLog.listVersions(tablePath, conf)
          .filter(v => v >= version && v <= head)
        checkReconcilable(spark, store, tablePath, intervening, spool, read)
        version = head + 1
      }
      throw new IllegalStateException(
        s"gave up after $MaxRetries conflict retries at $tablePath — " +
          "re-run the operation against the new snapshot")
    } finally store.discard(spool)
  }

  /** add/remove path of one commit line, if it is a data-file action
    * (cdc sidecars and commitInfo/txn lines never conflict).
    */
  private def pathOf(line: String): Option[String] = {
    val n = Jsons.mapper.readTree(line)
    Option(n.get("add")).map(_.get("path").asText)
      .orElse(Option(n.get("remove")).map(_.get("path").asText))
  }

  /** Loud failure unless every intervening commit is reconcilable with
    * the spooled commit (no metadata/protocol change, disjoint files,
    * and — for read-based commits — no dataChange add that could match
    * the read predicate).
    */
  private def checkReconcilable(spark: SparkSession, store: TableStore,
      tablePath: String,
      versions: Seq[Long], spoolPath: String,
      read: Option[ReadFootprint]): Unit = {
    import spark.implicits._
    def fail(why: String): Nothing = throw new IllegalStateException(
      s"concurrent writer committed version(s) ${versions.mkString(",")} " +
        s"first at $tablePath and the commits conflict ($why) — re-run " +
        "the operation against the new snapshot")
    if (versions.isEmpty) fail("intervening commits not readable")
    val theirs = spark.read.textFile(
        versions.map(v => DeltaLog.versionFile(tablePath, v)): _*)
      .mapPartitions(_.map { l =>
        val n = Jsons.mapper.readTree(l)
        val add = Option(n.get("add"))
        (n.has("metaData"),
          Option(n.get("protocol")).map(_.toString),
          add.map(_.get("path").asText)
            .orElse(Option(n.get("remove")).map(_.get("path").asText)),
          add.exists(a =>
            Option(a.get("dataChange")).exists(_.asBoolean)),
          add.flatMap(a => Option(a.get("stats")).map(_.asText))
            .getOrElse(""))
      }).persist()
    try {
      if (!theirs.filter(_._1).isEmpty) fail("table metadata changed")
      // an intervening protocol action conflicts UNLESS it is the same
      // idempotent upgrade this commit carries (two deleteWhere writers
      // both raising to the DV feature protocol compute identical lines
      // from identical inputs — delta-spark treats that as compatible)
      val theirProtocols = theirs.flatMap(_._2).distinct().collect()
      if (theirProtocols.nonEmpty) {
        val ourProtocol = store.readString(spoolPath).linesIterator
          .flatMap(l => Option(Jsons.mapper.readTree(l).get("protocol")))
          .nextOption()
        val same = ourProtocol.exists(o =>
          theirProtocols.forall(t => Jsons.mapper.readTree(t) == o))
        if (!same) fail("protocol changed")
      }
      val theirPaths = theirs.flatMap(_._3).toDF("q")
      val ourPaths = spark.read.textFile(spoolPath)
        .flatMap(pathOf(_)).toDF("p")
      val clash = ourPaths
        .join(theirPaths, col("p") === col("q")).limit(1).count()
      if (clash > 0) fail("overlapping file sets")
      // Serializable read check: any intervening dataChange add whose
      // stats cannot PROVE the read predicate misses it means the delete
      // or update would have read those rows — re-landing would let them
      // escape (delta-spark raises ConcurrentAppendException here)
      read.foreach { rp =>
        val schemaJson = rp.schema.json
        val sk = rp.skipping
        val possiblyRead = theirs.filter(_._4).map(_._5)
          .mapPartitions { it =>
            val sch = DataType.fromJson(schemaJson).asInstanceOf[StructType]
            it.map { statsJson =>
              sk match {
                case None => true            // uncompilable: assume read
                case Some(s) =>
                  s.keepStats(DeltaStats.parse(sch, statsJson)._2)
              }
            }
          }.filter((b: Boolean) => b)
        if (!possiblyRead.isEmpty)
          fail("concurrent append added rows the operation's predicate " +
            "may have read")
      }
    } finally theirs.unpersist()
  }
}

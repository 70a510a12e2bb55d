package graft.formats.delta

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration

import graft.io.TableStore

/** Minimal Delta-protocol transaction log layout (public spec:
  * github.com/delta-io/delta PROTOCOL.md; reference reads the same layout
  * through delta-spark's DeltaLog — DeltaConversionSource.java:63-239).
  *
  * Log lives at `<table>/_delta_log/<%020d>.json`, one JSON action per line.
  * Commits are put-if-absent through [[TableStore]]; a commit whose version
  * file already exists loses the race (optimistic concurrency, as in the
  * reference's OptimisticTransaction usage DeltaConversionTarget.java:294).
  */
object DeltaLog {
  val LogDir = "_delta_log"

  def logPath(tablePath: String): String = s"$tablePath/$LogDir"

  def versionFile(tablePath: String, version: Long): String =
    f"${logPath(tablePath)}/$version%020d.json"

  /** Sorted list of commit versions present in the log. */
  def listVersions(tablePath: String, conf: Configuration): Seq[Long] =
    logNames(tablePath, conf)
      .filter(n => n.endsWith(".json") && n.dropRight(5).forall(_.isDigit))
      .map(_.dropRight(5).toLong)
      .sorted

  private def logNames(tablePath: String, conf: Configuration): Seq[String] =
    new TableStore(conf).names(logPath(tablePath))

  def latestVersion(tablePath: String, conf: Configuration): Option[Long] =
    listVersions(tablePath, conf).lastOption

  def checkpointFile(tablePath: String, version: Long): String =
    f"${logPath(tablePath)}/$version%020d.checkpoint.parquet"

  /** Multi-part checkpoint file (Delta protocol `%020d.checkpoint.
    * %010d.%010d.parquet`): big live sets checkpoint in parallel instead of
    * through one task.
    */
  def checkpointPartFile(tablePath: String, version: Long, part: Int,
      parts: Int): String =
    f"${logPath(tablePath)}/$version%020d.checkpoint.$part%010d.$parts%010d.parquet"

  def lastCheckpointFile(tablePath: String): String =
    s"${logPath(tablePath)}/_last_checkpoint"

  private val CheckpointName =
    "(\\d{20})\\.checkpoint(?:\\.(\\d{10})\\.(\\d{10}))?\\.parquet".r
  // V2 checkpoint (PROTOCOL.md §V2 Checkpoint Table Feature): one
  // UUID-named file whose rows carry protocol/metaData plus `sidecar`
  // actions pointing at the add-file parquet under _delta_log/_sidecars/.
  // The UUID segment contains dashes, so it can never collide with the
  // multi-part numeric pattern above.
  private val CheckpointV2Name =
    "(\\d{20})\\.checkpoint\\.([0-9a-fA-F]{8}(?:-[0-9a-fA-F]{4}){3}-[0-9a-fA-F]{12})\\.(parquet|json)".r

  /** Sidecar directory of v2 checkpoints (PROTOCOL.md: sidecar paths are
    * file names relative to `_delta_log/_sidecars/`, or absolute URIs).
    */
  def sidecarPath(tablePath: String, name: String): String =
    if (name.contains("/") || name.contains(":"))
      graft.util.PathUtils.resolve(tablePath, name)
    else s"${logPath(tablePath)}/_sidecars/$name"

  /** (version, parts-or-1, names) for every COMPLETE checkpoint in the log
    * (a multi-part checkpoint counts only when all its parts are present;
    * a v2 UUID checkpoint is complete by itself — its sidecars are
    * resolved at read time). When a version has both shapes, the classic
    * one wins (identical content, simpler read).
    */
  private def completeCheckpoints(tablePath: String, conf: Configuration)
      : Seq[(Long, Seq[String])] = {
    val names = logNames(tablePath, conf)
    val matches = names.flatMap {
      case n @ CheckpointName(v, _, parts) =>
        Some((v.toLong, Option(parts).map(_.toInt).getOrElse(1), n))
      case _ => None
    }
    val classic = matches.groupBy(m => (m._1, m._2)).toSeq.collect {
      case ((v, parts), files) if files.size == parts =>
        (v, files.map(f => s"${logPath(tablePath)}/${f._3}").sorted)
    }
    val have = classic.map(_._1).toSet
    // parquet only: a json v2 checkpoint re-uses the commit-line format,
    // which the snapshot replay does not route. It is SKIPPED here (an
    // optional unsupported file must not make an otherwise-servable table
    // unreadable — the version may still replay from commits or a later
    // classic/parquet checkpoint); requireReplayable raises the targeted
    // error only when the json checkpoint is the sole source.
    val v2 = names.flatMap {
      case n @ CheckpointV2Name(v, _, kind) =>
        if (have.contains(v.toLong) || kind == "json") None
        else Some((v.toLong, Seq(s"${logPath(tablePath)}/$n")))
      case _ => None
    }
    classic ++ v2
  }

  /** Versions that have ONLY a json-kind v2 checkpoint (no classic /
    * multi-part / parquet-v2 sibling) — unreadable by the replay, relevant
    * only when one of them is the sole source for a required version.
    */
  def jsonOnlyCheckpointVersions(tablePath: String, conf: Configuration)
      : Seq[Long] = {
    val names = logNames(tablePath, conf)
    val readable = completeCheckpoints(tablePath, conf).map(_._1).toSet
    names.collect {
      case CheckpointV2Name(v, _, "json") if !readable.contains(v.toLong) =>
        v.toLong
    }.distinct.sorted
  }

  /** Raise when a replay that starts at checkpoint `cp` (None = from the
    * log's beginning) cannot reach `head` from the commit versions actually
    * present — pointing at an unsupported json v2 checkpoint when that file
    * is the sole source for the missing prefix.
    */
  def requireReplayable(tablePath: String, versions: Seq[Long],
      cp: Option[Long], conf: Configuration): Unit = {
    val head = versions.lastOption.getOrElse(return)
    val start = cp.getOrElse(-1L)
    val have = versions.toSet
    val missing = ((start + 1) to head).filterNot(have.contains)
    if (missing.isEmpty) return
    val jsonCp = jsonOnlyCheckpointVersions(tablePath, conf)
      .filter(j => j > start && j <= head && missing.forall(_ <= j))
    if (jsonCp.nonEmpty) throw new IllegalStateException(
      s"version $head at $tablePath is only servable through the v2 JSON " +
        s"checkpoint at version ${jsonCp.max} (commits " +
        s"${missing.mkString(",")} were cleaned and no parquet checkpoint " +
        "covers them) — json-kind v2 checkpoints are not supported")
    throw new IllegalStateException(
      s"cannot replay to version $head at $tablePath: commit files " +
        s"${missing.mkString(",")} are missing and no readable checkpoint " +
        "covers them")
  }

  /** A complete checkpoint: its version and every parquet file of it. */
  final case class Checkpoint(version: Long, files: Seq[String])

  /** Latest complete checkpoint at or before `version`, if any, with its
    * files — from one listing of the log.
    */
  def latestCheckpoint(tablePath: String, version: Long, conf: Configuration)
      : Option[Checkpoint] =
    completeCheckpoints(tablePath, conf).filter(_._1 <= version)
      .sortBy(_._1).lastOption.map { case (v, files) => Checkpoint(v, files) }

  /** Metadata-plane log cleanup (Delta's logRetention maintenance): delete
    * commit JSON strictly OLDER than the newest complete checkpoint — replay
    * always starts from that checkpoint plus the JSON tail, so the deleted
    * prefix is never read again. Returns the number of files removed.
    * Never deletes without a complete checkpoint to replay from.
    */
  def cleanupLogBeforeCheckpoint(tablePath: String, conf: Configuration): Int = {
    val cp = completeCheckpoints(tablePath, conf).map(_._1).sorted.lastOption
    cp match {
      case None => 0
      case Some(v) =>
        val store = new TableStore(conf)
        val old = listVersions(tablePath, conf).filter(_ < v)
        old.foreach(ver => store.delete(versionFile(tablePath, ver)))
        old.size
    }
  }

  def writeLastCheckpointHint(store: TableStore, tablePath: String,
      version: Long, parts: Int = 1, size: Long = -1L): Unit = {
    // spec: `size` (action count) is required; `parts` only when multi-part
    val sz = if (size >= 0) s""","size":$size""" else ""
    val json = if (parts <= 1) s"""{"version":$version$sz}"""
      else s"""{"version":$version$sz,"parts":$parts}"""
    // a real delta-spark reader following _last_checkpoint must never
    // see a torn/empty hint mid-write
    store.replace(lastCheckpointFile(tablePath),
      json.getBytes(StandardCharsets.UTF_8))
  }

  /** Atomically write one commit file; returns false if the version already
    * exists (concurrent writer won).
    */
  def writeCommit(tablePath: String, version: Long, lines: Iterator[String],
      store: TableStore = TableStore.active()): Boolean =
    store.putLinesIfAbsent(versionFile(tablePath, version), lines)
}

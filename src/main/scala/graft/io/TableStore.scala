package graft.io

import java.io.{File, InputStream, OutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{FileAlreadyExistsException, Files, NoSuchFileException, StandardCopyOption, Path => JPath}

import scala.util.Try

import org.apache.avro.file.{SeekableFileInput, SeekableInput}
import org.apache.avro.mapred.FsInput
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, FilterFileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession

import graft.util.{FaultInjection, HadoopConfs}

/** Where a table's metadata bytes go and how a file becomes visible: every
  * metadata read, listing, write, publish and delete of the formats goes
  * through here, on the FileSystem that `conf` maps the path to.
  *
  * Commit files need put-if-absent (the Delta protocol's optimistic
  * concurrency, Iceberg's and Paimon's version files): of two racing
  * writers of the same name exactly one may win. On the local filesystem
  * the content is written to a hidden temp file and hard-linked into
  * place — `link(2)` fails instead of replacing, so the link itself is the
  * reservation; Hadoop's local `create(overwrite = false)` is a
  * check-then-create and is not. Any other FileSystem has no such
  * primitive here, so every write to it refuses before a byte is written,
  * naming the scheme; reads, listings and deletes work on every scheme.
  *
  * Local files are read, listed and written on the file their FileSystem
  * resolves (so no `.crc` sibling is left and a names-only listing costs
  * one directory read, not a `FileStatus` per entry). The store holds
  * nothing but `conf`: build one per source, target or operation.
  */
final class TableStore(val conf: Configuration) {

  private def fsOf(p: Path): FileSystem = p.getFileSystem(conf)

  /** The local file `p` names, or None when its FileSystem is not the
    * local one. Local is decided by scheme: Hive's `ProxyLocalFileSystem`
    * serves `file` as a FilterFileSystem, not a LocalFileSystem.
    */
  private def local(p: Path): Option[JPath] = {
    val fs = fsOf(p)
    val scheme = Try(fs.getScheme).getOrElse(fs.getUri.getScheme)
    if (scheme != "file") None else Some(TableStore.fileOf(fs, p).toPath)
  }

  private def writable(path: String): JPath = {
    val p = new Path(path)
    local(p).getOrElse(throw new UnsupportedOperationException(
      s"refusing to write $path: the '${p.toUri.getScheme}' filesystem has " +
        "no atomic put-if-absent in this engine (only the local " +
        "filesystem commits); nothing was written"))
  }

  def exists(path: String): Boolean = {
    val p = new Path(path)
    local(p).fold(fsOf(p).exists(p))(Files.exists(_))
  }

  def isDirectory(path: String): Boolean = {
    val p = new Path(path)
    local(p).fold(Try(fsOf(p).getFileStatus(p).isDirectory).getOrElse(false))(
      Files.isDirectory(_))
  }

  def length(path: String): Long = {
    val p = new Path(path)
    local(p).fold(fsOf(p).getFileStatus(p).getLen)(Files.size)
  }

  def modificationTime(path: String): Long = {
    val p = new Path(path)
    local(p).fold(fsOf(p).getFileStatus(p).getModificationTime)(
      Files.getLastModifiedTime(_).toMillis)
  }

  def open(path: String): InputStream = {
    val p = new Path(path)
    local(p).fold[InputStream](fsOf(p).open(p))(Files.newInputStream(_))
  }

  /** A random-access reader, for avro containers and footers. */
  def seekable(path: String): SeekableInput = {
    val p = new Path(path)
    local(p).fold[SeekableInput](new FsInput(p, conf))(f =>
      new SeekableFileInput(f.toFile))
  }

  def read(path: String): Array[Byte] = {
    val p = new Path(path)
    local(p).fold {
      val in = fsOf(p).open(p)
      try in.readAllBytes() finally in.close()
    }(Files.readAllBytes)
  }

  /** The bytes of `path`, or None when it does not exist. */
  def readOption(path: String): Option[Array[Byte]] =
    try Some(read(path))
    catch {
      case _: java.io.FileNotFoundException | _: NoSuchFileException => None
    }

  def readString(path: String): String =
    new String(read(path), StandardCharsets.UTF_8)

  /** Entry names of `dir` (empty when it does not exist). */
  def names(dir: String): Seq[String] = {
    val p = new Path(dir)
    local(p) match {
      case Some(d) => Option(d.toFile.list()).fold(Seq.empty[String])(_.toSeq)
      case None => list(dir).map(_.getPath.getName)
    }
  }

  /** Entries of `dir` with sizes and modification times (empty when it
    * does not exist).
    */
  def list(dir: String): Seq[FileStatus] = {
    val p = new Path(dir)
    try fsOf(p).listStatus(p).toSeq
    catch { case _: java.io.FileNotFoundException => Nil }
  }

  /** A plain write of a file no reader finds until a later publish names
    * it (manifests, puffin files, index deltas under fresh names).
    */
  def create(path: String): OutputStream = {
    val f = writable(path)
    Files.createDirectories(f.getParent)
    Files.newOutputStream(f)
  }

  /** Publish `target` iff it does not exist; false when a concurrent
    * writer won. The target only ever appears whole.
    */
  def putIfAbsent(target: String)(body: OutputStream => Unit): Boolean = {
    val f = writable(target)
    Files.createDirectories(f.getParent)
    if (Files.exists(f)) return false
    FaultInjection.beforePublish(target)
    val tmp = temp(f, body)
    try TableStore.link(tmp, f) finally Files.deleteIfExists(tmp)
  }

  def putIfAbsent(target: String, bytes: Array[Byte]): Boolean =
    putIfAbsent(target)(_.write(bytes))

  /** [[putIfAbsent]] of newline-terminated UTF-8 lines. */
  def putLinesIfAbsent(target: String, lines: Iterator[String]): Boolean =
    putIfAbsent(target)(writeLines(_, lines))

  /** Atomically replace `target` (a hint or state file) with `bytes`: a
    * reader sees the old content or the new one, never a torn file.
    */
  def replace(target: String, bytes: Array[Byte]): Unit = {
    val f = writable(target)
    Files.createDirectories(f.getParent)
    FaultInjection.beforePublish(target)
    val tmp = temp(f, _.write(bytes))
    try Files.move(tmp, f, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
    finally Files.deleteIfExists(tmp)
  }

  /** Write `lines` once to a file in `dir` that no log reader matches
    * (but a Spark scan does, unlike a hidden temp file), for
    * [[publishSpool]] to publish without consuming it; the caller removes
    * it with [[discard]].
    */
  def spool(dir: String, lines: Iterator[String]): String = {
    val d = writable(dir)
    Files.createDirectories(d)
    val f = temp(d, TableStore.SpoolPrefix, ".jsonl", writeLines(_, lines))
    new Path(new Path(dir), f.getFileName.toString).toString
  }

  /** Put-if-absent of a [[spool]]ed file as `target` (same directory), the
    * spool kept for a retry under another name.
    */
  def publishSpool(spool: String, target: String): Boolean = {
    val f = writable(target)
    if (Files.exists(f)) return false
    FaultInjection.beforePublish(target)
    val src = writable(spool)
    try { Files.createLink(f, src); true }
    catch {
      case _: FileAlreadyExistsException => false
      case _: UnsupportedOperationException =>
        // no hard links: the copy is the price of keeping the spool
        val tmp = temp(f, out => Files.copy(src, out))
        try TableStore.link(tmp, f) finally Files.deleteIfExists(tmp)
    }
  }

  /** Move a file this process staged (a compaction output) to `target`,
    * which must not exist.
    */
  def move(from: String, target: String): Unit = {
    val f = writable(target)
    Files.createDirectories(f.getParent)
    Files.move(writable(from), f)
  }

  /** Remove a temp or spool file this store wrote (not a table file). */
  def discard(path: String): Unit = Files.deleteIfExists(writable(path))

  /** Delete one file (or an empty directory); false when it was absent. */
  def delete(path: String): Boolean = {
    FaultInjection.beforeDelete(path)
    val p = new Path(path)
    fsOf(p).delete(p, false)
  }

  /** Delete a directory tree; false when it was absent. */
  def deleteTree(path: String): Boolean = {
    FaultInjection.beforeDelete(path)
    val p = new Path(path)
    fsOf(p).delete(p, true)
  }

  /** A hidden temp file beside `target`, holding what `body` writes. */
  private def temp(target: JPath, body: OutputStream => Unit): JPath =
    temp(target.getParent, s".${target.getFileName}", ".tmp", body)

  private def temp(dir: JPath, prefix: String, suffix: String,
      body: OutputStream => Unit): JPath = {
    val tmp = Files.createTempFile(dir, prefix, suffix)
    try {
      val out = Files.newOutputStream(tmp)
      try body(out) finally out.close()
      tmp
    } catch { case e: Throwable => Files.deleteIfExists(tmp); throw e }
  }

  private def writeLines(out: OutputStream, lines: Iterator[String]): Unit = {
    val w = new java.io.BufferedWriter(
      new java.io.OutputStreamWriter(out, StandardCharsets.UTF_8))
    lines.foreach { l => w.write(l); w.write('\n') }
    w.flush()
  }
}

object TableStore {

  /** A store over the session's Hadoop conf (its `spark.hadoop.*`
    * settings included).
    */
  def apply(spark: SparkSession): TableStore =
    new TableStore(HadoopConfs.session(spark))

  /** A store over the active session's conf, for callers without one. */
  def active(): TableStore = new TableStore(HadoopConfs.active())

  private val SpoolPrefix = "graft-spool-"

  /** True for the temp and spool files a store writes beside its targets
    * (a crash can strand one; sweeps may remove old ones).
    */
  def isTemp(name: String): Boolean =
    name.startsWith(SpoolPrefix) || name.startsWith(".") && name.endsWith(".tmp")

  /** The local file a local-scheme FileSystem resolves `p` to. */
  private def fileOf(fs: FileSystem, p: Path): File = fs match {
    case l: LocalFileSystem => l.pathToFile(p)
    case r: RawLocalFileSystem => r.pathToFile(p)
    case f: FilterFileSystem => fileOf(f.getRawFileSystem, p)
    case _ => new File(p.toUri.getPath)
  }

  /** Hard-link `tmp` as `target` iff `target` does not exist. */
  private def link(tmp: JPath, target: JPath): Boolean =
    try { Files.createLink(target, tmp); true }
    catch {
      case _: FileAlreadyExistsException => false
      case _: UnsupportedOperationException =>
        // no hard links: reserve through a HIDDEN lock file (atomic
        // CREATE_NEW), then rename the content into place. Reserving
        // under the target's own name would publish an empty commit file
        // for a window, which replay reads as an empty commit.
        val lock = target.resolveSibling("." + target.getFileName + ".lock")
        try {
          Files.createFile(lock)
          try !Files.exists(target) && {
            Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE); true
          } finally Files.deleteIfExists(lock)
        } catch { case _: FileAlreadyExistsException => false }
    }
}

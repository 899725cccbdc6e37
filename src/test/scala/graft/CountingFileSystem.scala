package graft

import org.apache.hadoop.fs.{ContentSummary, FSDataInputStream, FSDataOutputStream, FileStatus, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

/** The local file system under its own scheme, `countfs:`, counting the
  * calls made on it: listings of a directory (`listStatus` on a file, which
  * Spark's file index issues for every path it is handed, is not a
  * listing), content summaries, status probes (`exists`, `getFileStatus`),
  * opens, creates, renames, deletes and mkdirs. The test session registers it as
  * `fs.countfs.impl`; a spec roots its data at `countfs://` + a local path
  * and compares [[CountingFileSystem.counts]] before and after the code it
  * pins, or asks which paths it listed, probed, opened, created, renamed
  * or made dirs of ([[CountingFileSystem.pathsDuring]]). The status probes
  * the local `listStatus` makes of each child count as part of the one
  * listing, and the probe the local `open` makes of its file as part of
  * the open, as on a file system that lists or opens in one call. Counts are
  * JVM-wide, and specs run one at a time. */
class CountingFileSystem extends RawLocalFileSystem {
  import CountingFileSystem._

  override def getUri: java.net.URI = Uri
  override def getScheme: String = Uri.getScheme

  override def listStatus(f: Path): Array[FileStatus] = {
    if (pathToFile(f).isDirectory) note(DirListing, f)
    inOneCall.set(true)
    try super.listStatus(f) finally inOneCall.set(false)
  }
  override def getContentSummary(f: Path): ContentSummary = {
    bump(ContentSummaries); super.getContentSummary(f)
  }
  override def exists(f: Path): Boolean = { note(StatusProbes, f); super.exists(f) }
  override def getFileStatus(f: Path): FileStatus = {
    if (!inOneCall.get) note(StatusProbes, f)
    super.getFileStatus(f)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    note(Opens, f)
    inOneCall.set(true)
    try super.open(f, bufferSize) finally inOneCall.set(false)
  }
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
                      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    note(Creates, f); super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    note(Creates, f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { note(Renames, src); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    bump(Deletes); super.delete(f, recursive)
  }
  override def mkdirs(f: Path): Boolean = { note(Mkdirs, f); super.mkdirs(f) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    note(Mkdirs, f); super.mkdirs(f, permission)
  }

  private val inOneCall = ThreadLocal.withInitial[Boolean](() => false)

  private def note(kind: String, f: Path): Unit = {
    bump(kind)
    events.add(kind -> makeQualified(f).toUri.getPath.stripSuffix("/"))
  }
}

object CountingFileSystem {
  val Uri: java.net.URI = java.net.URI.create("countfs:///")

  val DirListing = "listStatus(dir)"
  val ContentSummaries = "getContentSummary"
  val StatusProbes = "exists/getFileStatus"
  val Opens = "open"
  val Creates = "create"
  val Renames = "rename"
  val Deletes = "delete"
  val Mkdirs = "mkdirs"

  private val counters = new ConcurrentHashMap[String, AtomicLong]()
  private val events = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
  private def bump(k: String): Unit =
    counters.computeIfAbsent(k, _ => new AtomicLong()).incrementAndGet()

  /** A snapshot of every counter (absent = 0). */
  def counts: Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    counters.asScala.map { case (k, v) => k -> v.get }.toMap.withDefaultValue(0L)
  }

  /** The local paths of the dirs `body` listed, in listing order. */
  def dirsListedDuring(body: => Unit): Seq[String] =
    pathsDuring(body).getOrElse(DirListing, Seq.empty)

  /** The local paths `body` listed (dirs), probed, opened, created,
    * renamed (sources) and made dirs of, per kind, in call order. */
  def pathsDuring(body: => Unit): Map[String, Seq[String]] = {
    events.clear()
    body
    scala.jdk.CollectionConverters.CollectionHasAsScala(events).asScala.toSeq
      .groupMap(_._1)(_._2)
  }

  /** Counter deltas over `body`. */
  def during(body: => Unit): Map[String, Long] = {
    val before = counts
    body
    val after = counts
    after.map { case (k, v) => k -> (v - before(k)) }.withDefaultValue(0L)
  }
}

package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FSDataOutputStream, FileSystem, Path}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration
import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}

/** The one write path for the files the engine writes itself: patch files,
  * publish zips and XML, the stores' parquet part files (written by their
  * tasks, `graft.state.BucketWrite`), store manifests, records, pointers,
  * markers, sidecars, the lease, and the driver's record files
  * ([[RecordFile]]: lineage, `_published`). On `file:` it writes through
  * java.nio: without libhadoop, Hadoop's local `create` and
  * `mkdir` set each permission by running `chmod` as a child process (a
  * file in a new dir: about 9 ms, against 0.1-0.2 ms through nio, on a
  * 4-vCPU VM). Modes come from the process umask (0644 / 0755 under 022,
  * Hadoop's default umask too). Under the checksummed LocalFileSystem these
  * files get no `.crc`; reads do not change, as ChecksumFileSystem verifies
  * only where one exists and its rename/delete drop stale ones. Other
  * schemes keep `fs.create`/`mkdirs`. (`fs.getUri` gives the scheme:
  * `RawLocalFileSystem.getScheme` throws.) */
object FsWrite {
  private def local(fs: FileSystem, path: Path): Option[java.nio.file.Path] =
    if (fs.getUri.getScheme == "file") Some(Paths.get(fs.makeQualified(path).toUri)) else None

  /** Create `path` and missing parents; `overwrite = false` fails on an
    * existing file atomically (O_EXCL; the namenode on HDFS). Bytes count in
    * the filesystem's statistics, which Spark's task output metrics read. */
  @annotation.nowarn("cat=deprecation") // FileSystem.getStatistics
  def create(fs: FileSystem, path: Path, overwrite: Boolean = true,
             bufferSize: Int = 1 << 16): FSDataOutputStream = local(fs, path) match {
    case None => fs.create(path, overwrite, bufferSize)
    case Some(p) =>
      Files.createDirectories(p.getParent)
      if (overwrite) dropCrc(fs, path)
      val out = if (overwrite) Files.newOutputStream(p)
        else Files.newOutputStream(p, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
      new FSDataOutputStream(new java.io.BufferedOutputStream(out, bufferSize),
        FileSystem.getStatistics(fs.getUri.getScheme, fs.getClass))
  }

  /** Delete a Hadoop-written `.crc` of `path`, which would not match the
    * bytes a nio write puts there. */
  private def dropCrc(fs: FileSystem, path: Path): Unit = fs match {
    case c: ChecksumFileSystem => local(fs, c.getChecksumFile(path)).foreach(Files.deleteIfExists)
    case _ =>
  }

  def mkdirs(fs: FileSystem, path: Path): Unit = local(fs, path) match {
    case Some(p) => Files.createDirectories(p)
    case None => fs.mkdirs(path)
  }

  /** Run the write job `job` with `conf` shipped to its tasks as ONE
    * broadcast, destroyed when the job returns. A Hadoop configuration in a
    * task closure (about 110 KB, over 1000 keys) is deserialized by every
    * task, 8-10 ms each under a C1-only JIT; a broadcast is fetched once
    * per executor. */
  def withTaskConf[T](spark: SparkSession, conf: Configuration)
                     (job: Broadcast[SerializableConfiguration] => T): T = {
    val b = spark.sparkContext.broadcast(new SerializableConfiguration(conf))
    try job(b) finally b.destroy()
  }

  /** Replace `path` all or nothing: `write` fills a temp file beside it
    * (named after it, so a `_` target's temp stays hidden from Spark), then
    * [[replace]] moves it into place. A throwing `write`, or a crash before
    * the rename, leaves the previous content; a throwing `write` or a failed
    * rename also deletes the temp file (best effort) before rethrowing. */
  def atomic(fs: FileSystem, path: Path)(write: java.io.OutputStream => Unit): Unit = {
    val tmp = new Path(path.getParent, s"${path.getName}.tmp${System.nanoTime()}")
    try {
      val out = create(fs, tmp)
      try write(out) finally out.close()
      replace(fs, tmp, path)
    } catch { case e: Throwable =>
      try fs.delete(tmp, false) catch { case _: Throwable => }
      throw e
    }
  }

  def atomic(fs: FileSystem, path: Path, text: String): Unit =
    atomic(fs, path)(_.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8)))

  /** `out` that also keeps the MD5 and the count of the bytes written
    * through it, so a writer knows its file's checksum and length without
    * reading the file back. */
  final class Digesting(out: java.io.OutputStream) extends java.io.FilterOutputStream(out) {
    private val md = java.security.MessageDigest.getInstance("MD5")
    private var n = 0L
    override def write(b: Int): Unit = { out.write(b); md.update(b.toByte); n += 1 }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      out.write(b, off, len); md.update(b, off, len); n += len
    }
    def bytes: Long = n
    /** Hex MD5 of every byte so far; call once, after the last write. */
    def md5Hex: String = md.digest().map("%02x".format(_)).mkString
  }

  /** Move a finished temp file onto `path`. On `file:` this is one
    * rename(2), which replaces `path` atomically: a reader or a crash sees
    * the old file or the new one, never neither (stale `.crc`s of either
    * name are dropped first). Other schemes delete the old file, then
    * rename, since an HDFS rename does not overwrite: a crash between the
    * two leaves no `path`. */
  def replace(fs: FileSystem, tmp: Path, path: Path): Unit = (local(fs, tmp), local(fs, path)) match {
    case (Some(t), Some(p)) =>
      Seq(tmp, path).foreach(dropCrc(fs, _))
      Files.move(t, p, StandardCopyOption.ATOMIC_MOVE)
    case _ =>
      if (fs.exists(path)) fs.delete(path, false)
      if (!fs.rename(tmp, path)) sys.error(s"rename failed: $tmp -> $path")
  }
}

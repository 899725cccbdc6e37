package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

@annotation.nowarn("cat=deprecation") // FileSystem.getStatistics
class FsWriteSpec extends AnyFunSuite {
  private def tmp(): String = Files.createTempDirectory("fswrite").toString

  /** The session default for `file:`: the checksummed LocalFileSystem. */
  private def localFs(conf: Configuration = new Configuration()): FileSystem =
    FileSystem.newInstance(new java.net.URI("file:///"), conf)

  private def read(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def write(out: java.io.OutputStream, s: String): Unit =
    try out.write(s.getBytes(UTF_8)) finally out.close()

  test("create makes missing parents, truncates, and refuses an existing file without overwrite") {
    val fs = localFs()
    val p = new Path(tmp(), "a/b/c/f.txt")
    // first written through Hadoop, so it carries a .crc the overwrite must not leave stale
    write(fs.create(p, true), "a longer first version")
    write(FsWrite.create(fs, p), "short")
    assert(read(fs, p) == "short")
    write(FsWrite.create(fs, new Path(p.getParent, "d/g.txt")), "g")
    assert(read(fs, new Path(p.getParent, "d/g.txt")) == "g")
    intercept[java.io.IOException](FsWrite.create(fs, p, overwrite = false))
    assert(read(fs, p) == "short")
  }

  test("atomic leaves the previous content when write throws") {
    val fs = localFs()
    val p = new Path(tmp(), "_pointer")
    FsWrite.atomic(fs, p, "gen_1")
    val e = intercept[RuntimeException] {
      FsWrite.atomic(fs, p) { out => out.write("gen_2 torn".getBytes(UTF_8)); sys.error("boom") }
    }
    assert(e.getMessage == "boom")
    assert(read(fs, p) == "gen_1")
    FsWrite.atomic(fs, p, "gen_2")
    assert(read(fs, p) == "gen_2")
  }

  test("atomic leaves no temp file when the write throws or the rename fails") {
    val fs = localFs()
    val dir = tmp()
    val p = new Path(dir, "_pointer")
    FsWrite.atomic(fs, p, "gen_1")
    intercept[RuntimeException] {
      FsWrite.atomic(fs, p) { out => out.write("gen_2 torn".getBytes(UTF_8)); sys.error("boom") }
    }
    assert(read(fs, p) == "gen_1")
    assert(new java.io.File(dir).list().toSeq == Seq("_pointer"))
    // a non-empty directory at the target: the rename fails, the directory
    // (the previous content) stays, and so does nothing else
    val occupied = new Path(dir, "_commit")
    write(FsWrite.create(fs, new Path(occupied, "occupant")), "held")
    intercept[java.io.IOException](FsWrite.atomic(fs, occupied, "1"))
    assert(read(fs, new Path(occupied, "occupant")) == "held")
    assert(new java.io.File(dir).list().toSeq.sorted == Seq("_commit", "_pointer"))
  }

  test("atomic over an existing file on file: replaces it without deleting it first") {
    // a delete-then-rename leaves no file between its two steps, so a crash
    // there loses a pointer the store cannot rebuild; one rename(2) cannot
    val deletes = new java.util.concurrent.atomic.AtomicInteger()
    val fs = new org.apache.hadoop.fs.LocalFileSystem {
      override def delete(f: Path, recursive: Boolean): Boolean = {
        deletes.incrementAndGet(); super.delete(f, recursive)
      }
    }
    fs.initialize(new java.net.URI("file:///"), new Configuration())
    val p = new Path(tmp(), "_latest")
    write(fs.create(p, true), "1") // a Hadoop-written file, with its .crc
    FsWrite.atomic(fs, p, "2")
    assert(deletes.get == 0)
    assert(read(fs, p) == "2")
    assert(!new java.io.File(fs.getChecksumFile(p).toUri.getPath).exists(), "stale .crc left")
    assert(new java.io.File(p.getParent.toUri.getPath).list().toSeq == Seq("_latest"))
  }

  test("bytes written count in the filesystem's statistics") {
    val fs = localFs()
    val stats = FileSystem.getStatistics("file", fs.getClass)
    val before = stats.getBytesWritten
    write(FsWrite.create(fs, new Path(tmp(), "x/counted")), "0123456789")
    assert(stats.getBytesWritten - before == 10)
  }

  test("file and dir modes equal those of fs.create / fs.mkdirs under the same umask") {
    // the process umask, read off a dir made by java.io (mode 0777 & ~umask)
    val probe = new java.io.File(tmp(), "probe")
    assert(probe.mkdir())
    val dirMode = Files.getAttribute(probe.toPath, "unix:mode").asInstanceOf[Int] & 0x1ff
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", f"${~dirMode & 0x1ff}%03o")
    val fs = localFs(conf)
    val root = tmp()
    def mode(p: String) = Files.getPosixFilePermissions(Paths.get(p)).asScala.toSet
    write(fs.create(new Path(root, "hadoop/f"), true), "x")
    write(FsWrite.create(fs, new Path(root, "nio/f")), "x")
    assert(mode(s"$root/nio/f") == mode(s"$root/hadoop/f"))
    assert(mode(s"$root/nio") == mode(s"$root/hadoop"))
    fs.mkdirs(new Path(root, "hadoop/d"))
    FsWrite.mkdirs(fs, new Path(root, "nio/d"))
    assert(mode(s"$root/nio/d") == mode(s"$root/hadoop/d"))
  }
}

package graft

import graft.publish.PublishRecord
import graft.publish.ZipPublisher.{Member, Recorded, ZipInfo}
import graft.streaming.QuadLogPipeline
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** The driver's record files, written and read with no Spark session: the
  * publish record's bounded file count, rows that survive every whole-record
  * rewrite, and damaged state that fails loudly. */
class RecordFileSpec extends AnyFunSuite {
  private val fs = FileSystem.getLocal(new Configuration())
  private def tmpDir(prefix: String): String = Files.createTempDirectory(prefix).toString

  /** Run `run`'s two zips in graph `g<run % 3>`: a def zip and an end part. */
  private def runRows(run: Long): Seq[Recorded] = Seq(true, false).map { complete =>
    val name = f"part_${if (complete) "def" else "end"}_$run%05d"
    Recorded(ZipInfo(s"g${run % 3}", name, complete, 1L, 100L + run, s"md5-$run", "2024-01-01T00:00:00Z"),
      Seq(Member(s"/patches/batch_$run/$name", s"m$run", 10L, "2024-01-01T00:00:00Z")), run, run)
  }

  private def runFiles(dir: String): Seq[String] =
    new java.io.File(dir).list().toSeq.filter(_.startsWith("run_"))

  test("130 publish runs leave at most 64 run files, and the reader returns every row") {
    val dir = tmpDir("rec130") + "/_published"
    val d = new Path(dir)
    (0L until 130L).foreach { r =>
      val prior = PublishRecord.read(fs, d)
      assert(prior.run == r)
      PublishRecord.append(fs, d, prior, runRows(r))
      assert(runFiles(dir).size <= PublishRecord.WholeEvery, s"after run $r: ${runFiles(dir).sorted}")
      if (r == 127) {
        // the leftovers of crashes: a whole run that died before deleting
        // the runs it holds, and a temp of a run that never committed
        Files.writeString(Paths.get(dir, "run_3"), "{not a row\n")
        Files.writeString(Paths.get(dir, "run_128.tmp123"), "{not a row")
      }
    }
    assert(runFiles(dir).sorted == Seq("run_128", "run_129"))
    val got = PublishRecord.read(fs, d)
    assert(got.zips == (0L until 130L).flatMap(runRows).map(x => x.zip -> x.run))
    assert(got.mark == 129L && got.run == 130L && got.done == -1L)
    // only each graph's latest end keeps its members
    assert(got.ends == (127L until 130L).map(r => s"g${r % 3}" -> (r, runRows(r)(1).members)).toMap)
  }

  test("an empty or absent record reads as no rows") {
    val got = PublishRecord.read(fs, new Path(tmpDir("recnone") + "/_published"))
    assert(got.zips.isEmpty && got.run == 0L && got.mark == -1L && got.done == -1L)
  }

  test("a run file missing since the last whole run fails loudly, naming the file") {
    val dir = tmpDir("recgap") + "/_published"
    (0L until 5L).foreach(r => PublishRecord.append(fs, new Path(dir), PublishRecord.read(fs, new Path(dir)), runRows(r)))
    Files.delete(Paths.get(dir, "run_2"))
    val e = intercept[IllegalStateException](PublishRecord.read(fs, new Path(dir)))
    assert(e.getMessage.contains(s"$dir/run_2"), e.getMessage)
  }

  test("a truncated line fails loudly, naming the file") {
    val dir = tmpDir("rectrunc") + "/_published"
    (0L until 3L).foreach(r => PublishRecord.append(fs, new Path(dir), PublishRecord.read(fs, new Path(dir)), runRows(r)))
    val f = Paths.get(dir, "run_1")
    val bytes = Files.readAllBytes(f)
    Files.write(f, bytes.take(bytes.length - 20))
    val e = intercept[IllegalStateException](PublishRecord.read(fs, new Path(dir)))
    assert(e.getMessage.contains("run_1") && e.getMessage.contains("line 2"), e.getMessage)
  }

  test("a lineage url holding a tab and a newline round-trips") {
    val dir = tmpDir("reclin") + "/lineage"
    val t = java.time.Instant.parse("2024-01-02T03:04:05.123456Z")
    val rows = Seq(
      QuadLogPipeline.Lineage(0, "http://a.example.org/x\ty", "http://a.example.org/z\nw", t, "e\t1", 3L, 5L, 1L, 2L),
      QuadLogPipeline.Lineage(1, "http://b.example.org/\\t", "http://b.example.org/\r\n", null, "e\t1", 3L, 5L, 1L, 2L))
    RecordFile.write(fs, new Path(dir, "batch_3"), rows)
    assert(Files.readAllLines(Paths.get(dir, "batch_3")).size == 2, "one line per row")
    assert(QuadLogPipeline.readLineage(fs, new Path(dir)) == rows)
  }
}

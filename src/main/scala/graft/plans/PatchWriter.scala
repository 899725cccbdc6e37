package graft.plans

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.rdf.NQuadFormatter
import graft.FsWrite
import graft.Timing.timed
import java.nio.charset.StandardCharsets

/** S5/A2 — chunked RDF-patch file sink.
  *
  * Reference behavior re-expressed Spark-first:
  *  - group output by graph, base64 directory name per graph
  *    (split-graphs.sh:88-97)            -> one directory per g_b64
  *  - `maxq` quads per file (generate-rdfpatch.sh:16) -> deterministic
  *    chunking (below), every file <= maxq quads
  *  - every chunk file carries the reference's 4-line header with that
  *    chunk's own quad count and the exact label padding of
  *    vql_print_graph (buffer_nquads.sql:55-58): values start at col 18
  *  - file naming `rdf_out_<ts14>-<serial14>` (generate-rdfpatch.sh:210-217)
  *    -> files are written under their final names by the write tasks
  *    themselves; no driver-side rename loop, no per-file driver I/O
  *
  * Scale shape — exactly ONE full-data exchange. A naive
  * `row_number over (partition by graph)` forces an entire graph through
  * one task (a single-graph 100 TB store = one task). Instead each graph
  * splits into `P` uniform hash sub-streams; a chunk never crosses a
  * sub-stream, so chunk membership needs only LOCAL ranks:
  *
  *   1. count rows per graph — the sub-stream fan-out is DATA-PROPORTIONAL:
  *      nSubs(g) = ceil(count(g)/maxq), so a 100 TB graph gets millions of
  *      parallel sub-streams while a graph smaller than one chunk gets
  *      exactly one file (a fixed fan-out of 2x cores produced cores x
  *      graphs tiny partial files — measured as the dump path's dominant
  *      cost at bench scale: file creation, not row formatting);
  *   2. count rows per (graph, sub); prefix-sum ceil(cnt/maxq) per graph
  *      over that tiny table -> each sub-stream's first file serial;
  *   3. repartition by (graph, sub) — THE one exchange — sort within
  *      partitions, and stream each sub-stream straight into its final
  *      `rdf_out_<cp>-<serial>` files, cutting a new file every maxq rows
  *      (executor-local writes; the patch line is formatted here, in the
  *      write task, never carried through the exchange).
  *
  * Rows are ordered inside a chunk by a hash of the quad, so output is
  * deterministic end to end. Sub-streams may each end with one partial
  * file (at most nSubs(g) files per graph are smaller than maxq, and
  * nSubs is minimal for the size) — the reference bounds only the MAXIMUM
  * per file (buffer_nquads.sql:24-27).
  *
  * The write record: each write task digests every file as it writes it
  * and returns one [[Written]] row per file — graph, name, length, md5,
  * body lines and write time, what the reference's resourcesync-generator
  * packs per patch file and its `vql_*_count.txt` files count. The driver
  * writes them to `<outDir>/_record.txt` ([[RecordName]]) before `write`
  * returns, so before the batch's commit marker; the leading `_` keeps the
  * record out of Spark file sources. A batch dir without a record is
  * incomplete: the publisher reads records, never the patch tree, and
  * publishes no batch that has none ([[graft.publish.ZipPublisher]]).
  */
object PatchWriter {

  /** Header lines exactly as vql_print_graph emits them: labels padded so
    * values start at column 18 (note the TWO spaces after "checkpoint"). */
  def headerLines(checkpoint: String, graph: String, b64: String, amount: Long): Seq[String] =
    Seq(
      s"# at checkpoint  $checkpoint",
      s"# graph          $graph",
      s"# base64         $b64",
      s"# amount         $amount")

  /** One patch file as its write task wrote it: graph dir, file name,
    * bytes, hex md5, body lines (quads) and the UTC write time to the
    * second, the file's `lastmod` wherever it is published. */
  final case class Written(g_b64: String, file: String, bytes: Long, md5: String,
                           lines: Long, lastmod: String)

  /** A batch dir's write record: one tab-separated [[Written]] line per
    * patch file. */
  val RecordName = "_record.txt"

  private[graft] val IsoUtc = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'").withZone(java.time.ZoneOffset.UTC)

  /** Write `dir`'s record, all or nothing. */
  def writeRecord(fs: FileSystem, dir: Path, rows: Seq[Written]): Unit =
    FsWrite.atomic(fs, new Path(dir, RecordName), rows.sortBy(r => (r.g_b64, r.file))
      .map(r => Seq(r.g_b64, r.file, r.bytes, r.md5, r.lines, r.lastmod).mkString("", "\t", "\n"))
      .mkString)

  /** `dir`'s record, or None when the batch has none: its files are not
    * all written yet. One open, with no existence check before it. */
  def readRecord(fs: FileSystem, dir: Path): Option[Seq[Written]] = {
    val in = try fs.open(new Path(dir, RecordName))
      catch { case _: java.io.FileNotFoundException => return None }
    val text = try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
    Some(text.split('\n').toSeq.filter(_.nonEmpty).map { l =>
      val Array(g, file, bytes, md5, lines, lastmod) = l.split('\t')
      Written(g, file, bytes.toLong, md5, lines.toLong, lastmod)
    })
  }

  private val BatchDir = "batch_(\\d+)".r

  /** The `batch_<id>` dirs under the patches root `root`, as (id, dir) in
    * id order, each dir named under `root` as given; none when `root` is
    * absent. One listing. */
  def batches(fs: FileSystem, root: Path): Seq[(Long, Path)] =
    (try fs.listStatus(root).toSeq catch { case _: java.io.FileNotFoundException => Nil })
      .map(_.getPath.getName).collect { case n @ BatchDir(id) => id.toLong -> new Path(root, n) }
      .sortBy(_._1)

  /** What a [[write]] wrote: its file count and its body lines per op
    * (`+`, `-`). */
  final case class Wrote(files: Long, lines: Map[String, Long]) {
    def added: Long = lines.getOrElse("+", 0L)
    def deleted: Long = lines.getOrElse("-", 0L)
  }

  /** patches: (op + quad cols). Writes the files and the batch's record. */
  def write(spark: SparkSession, patches: DataFrame, outDir: String,
            checkpoint: String, maxq: Int = 100000): Wrote = {
    import spark.implicits._
    val P = math.max(spark.sparkContext.defaultParallelism * 2, 16)

    val quadColumns = patches.columns.filter(_ != "bucket").map(col).toSeq
    val keyed0 = patches.select(quadColumns: _*)
      .withColumn("g_b64", base64(col("g").cast("binary")))
      .withColumn("h", xxhash64(quadColumns: _*))

    // pass 1: per-(graph, op) counts -> minimal data-proportional sub
    // fan-out per graph, and the write's per-op tallies. The graph dimension
    // is tiny relative to the quads (at most two rows per graph; even 10^6
    // graphs are tens of MB), so it is collected once and rides along as a
    // broadcast — never an exchange of the quad stream.
    val gOpCounts = timed("patch.gcounts") {
      keyed0.groupBy("g_b64", "op").agg(count(lit(1))).as[(String, String, Long)].collect().toSeq
    }
    val nSubs: Seq[(String, Int)] = gOpCounts.groupMapReduce(_._1)(_._3)(_ + _).toSeq
      .map { case (g, n) => (g, math.max((n + maxq - 1) / maxq, 1L).toInt) }

    // pass 2: per-(graph, sub) counts -> first-serial offsets (prefix sum of
    // per-sub file counts over a tiny table: nSubs rows per graph, windowed
    // per graph => parallel across graphs). A single-sub graph's offset is
    // 0 by construction, so this pass scans ONLY the rows of graphs that
    // genuinely span multiple files — when no graph does (the common small-
    // batch case), every row is sub 0 at serial 0 and the pass, with its
    // join, disappears entirely.
    val bigGraphs = nSubs.filter(_._2 > 1)
    val keyed =
      if (bigGraphs.isEmpty) keyed0.withColumn("sub", lit(0)).withColumn("serial0", lit(0L))
      else timed("patch.offsets") {
        val withSub = keyed0.join(broadcast(nSubs.toDF("g_b64", "nSubs")), Seq("g_b64"))
          .withColumn("sub", pmod(col("h"), col("nSubs")).cast("int"))
        val counts = withSub
          .join(broadcast(bigGraphs.map(_._1).toDF("g_b64")), Seq("g_b64"), "left_semi")
          .groupBy("g_b64", "sub").agg(count(lit(1)).as("cnt"))
          .withColumn("nFiles", ceil(col("cnt") / lit(maxq.toDouble)).cast("long"))
        val offW = Window.partitionBy("g_b64").orderBy("sub")
          .rowsBetween(Window.unboundedPreceding, -1)
        val smallOffsets = nSubs.filter(_._2 == 1).map { case (g, _) => (g, 0, 0L) }
          .toDF("g_b64", "sub", "serial0")
        val offsets = smallOffsets.unionByName(counts
            .withColumn("serial0", coalesce(sum("nFiles").over(offW), lit(0L)))
            .select("g_b64", "sub", "serial0"))
          .localCheckpoint()
        withSub.join(broadcast(offsets), Seq("g_b64", "sub"))
      }

    // pass 3 — THE one full-data exchange: cluster by (graph, sub), sort,
    // stream each sub straight into its final files
    val out = outDir
    val fsRoot = new Path(out)
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val fs0 = fsRoot.getFileSystem(hadoopConf)
    if (fs0.exists(fsRoot)) fs0.delete(fsRoot, true) // idempotent rewrite (T7)
    FsWrite.mkdirs(fs0, fsRoot)
    val mq = maxq

    val lines = keyed
      .repartition(P, col("g_b64"), col("sub"))
      .sortWithinPartitions(col("g_b64"), col("sub"), col("h"))
      .withColumn("line", NQuadFormatter.patchLine(col("op"), col("s"), col("p"),
        col("oLex"), col("oKind"), col("oDtype"), col("oLang"), col("g")))
      .select("g", "g_b64", "sub", "serial0", "line")
    val written = timed("patch.writePass")(FsWrite.withTaskConf(spark, hadoopConf) { hconf =>
      lines.mapPartitions { (it: Iterator[org.apache.spark.sql.Row]) =>
        val fs = new Path(out).getFileSystem(hconf.value.value)
        val buf = new java.util.ArrayList[String](math.min(mq, 1 << 16))
        val files = scala.collection.mutable.ArrayBuffer.empty[Written]
        var curKey: (String, Int) = null
        var curG = ""
        var nextSerial = 0L
        def flushFile(): Unit = if (curKey != null && !buf.isEmpty) {
          val b64 = curKey._1
          val p = new Path(new Path(out, s"g_b64=$b64"), f"rdf_out_$checkpoint-$nextSerial%014d")
          // 1 MB writer buffer over a 1 MB stream buffer: a maxq-row chunk
          // leaves in a handful of large write syscalls instead of
          // thousands of page-sized ones — the syscall path is the one
          // resource that does not scale with cores on a single box
          // (BENCH.md §Scaling residual)
          val d = new FsWrite.Digesting(FsWrite.create(fs, p, bufferSize = 1 << 20))
          val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
            d, StandardCharsets.UTF_8), 1 << 20)
          headerLines(checkpoint, curG, b64, buf.size).foreach { l => w.write(l); w.write('\n') }
          val n = buf.size
          var i = 0
          while (i < n) { w.write(buf.get(i)); w.write('\n'); i += 1 }
          w.close()
          files += Written(b64, p.getName, d.bytes, d.md5Hex, n.toLong,
            IsoUtc.format(java.time.Instant.now()))
          nextSerial += 1
          buf.clear()
        }
        it.foreach { r =>
          val key = (r.getString(1), r.getInt(2))
          if (curKey == null || key != curKey) {
            flushFile()
            curKey = key; curG = r.getString(0); nextSerial = r.getLong(3)
          } else if (buf.size == mq) flushFile()
          buf.add(r.getString(4))
        }
        flushFile()
        files.iterator
      }.collect().toSeq
    })
    writeRecord(fs0, fsRoot, written)
    Wrote(written.size.toLong, gOpCounts.groupMapReduce(_._2)(_._3)(_ + _))
  }

  /** The dump-report trailer file (dump_nquads.sql:58-83 emits these five
    * lines, which csplit lands in a final `rdf_out_*` file of its own —
    * sample fixture rdf_out_00000000000000-00000000000002). Serial
    * 99999999999998 sorts after every data chunk but before the
    * reference's sham end-marker. Label padding exactly as the procedure
    * writes it (values at column 18; note '# dump completed ' one space). */
  def writeDumpReport(spark: SparkSession, outDir: String, checkpoint: String,
                      started: String, completed: String,
                      quadCount: Long, fileCount: Long): Unit = {
    val lines = Seq(
      s"# at checkpoint  $checkpoint",
      s"# dump started   $started",
      s"# dump completed $completed",
      s"# quad count     $quadCount",
      s"# file count     $fileCount").mkString("", "\n", "\n")
    val p = new Path(outDir, f"rdf_out_$checkpoint-${99999999999998L}%014d")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = FsWrite.create(fs, p)
    try out.write(lines.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }
}

package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.rdf.NQuadFormatter

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

  private def timed[T](label: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    if (sys.env.get("GRAFT_TIMING").contains("1"))
      println(f"[graft-timing]   $label%-30s ${(System.nanoTime() - t0) / 1e9}%8.2fs")
    r
  }

  /** patches: (op + quad cols). Returns number of files written. */
  def write(spark: SparkSession, patches: DataFrame, outDir: String,
            checkpoint: String, maxq: Int = 100000): Long = {
    import spark.implicits._
    val P = math.max(spark.sparkContext.defaultParallelism * 2, 16)

    val quadColumns = patches.columns.filter(_ != "bucket").map(col).toSeq
    val keyed0 = patches.select(quadColumns: _*)
      .withColumn("g_b64", base64(col("g").cast("binary")))
      .withColumn("h", xxhash64(quadColumns: _*))

    // pass 1: per-graph counts -> minimal data-proportional sub fan-out.
    // The graph dimension is tiny relative to the quads (one row per graph;
    // even 10^6 graphs are tens of MB), so it is collected once and rides
    // along as a broadcast — never an exchange of the quad stream.
    val nSubs: Seq[(String, Int)] = timed("patch.gcounts") {
      keyed0.groupBy("g_b64").agg(count(lit(1))).as[(String, Long)].collect().toSeq
    }.map { case (g, n) => (g, math.max((n + maxq - 1) / maxq, 1L).toInt) }

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
    val hconf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val fileCount = spark.sparkContext.longAccumulator("patchFiles")
    val out = outDir
    val fsRoot = new Path(out)
    val fs0 = fsRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs0.exists(fsRoot)) fs0.delete(fsRoot, true) // idempotent rewrite (T7)
    fs0.mkdirs(fsRoot)
    val mq = maxq

    timed("patch.writePass") { keyed
      .repartition(P, col("g_b64"), col("sub"))
      .sortWithinPartitions(col("g_b64"), col("sub"), col("h"))
      .withColumn("line", NQuadFormatter.patchLine(col("op"), col("s"), col("p"),
        col("oLex"), col("oKind"), col("oDtype"), col("oLang"), col("g")))
      .select("g", "g_b64", "sub", "serial0", "line")
      .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        val fs = new Path(out).getFileSystem(hconf.value)
        val buf = new java.util.ArrayList[String](math.min(mq, 1 << 16))
        var curKey: (String, Int) = null
        var curG = ""
        var nextSerial = 0L
        def flushFile(): Unit = if (curKey != null && !buf.isEmpty) {
          val b64 = curKey._1
          val p = new Path(new Path(out, s"g_b64=$b64"), f"rdf_out_$checkpoint-$nextSerial%014d")
          // 1 MB writer buffer over a 1 MB stream buffer (hadoop's create()
          // default is 4 KB): a maxq-row chunk leaves in a handful of large
          // write syscalls instead of thousands of page-sized ones — the
          // syscall path is the one resource that does not scale with
          // cores on a single box (BENCH.md §Scaling residual)
          val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
            fs.create(p, true, 1 << 20), java.nio.charset.StandardCharsets.UTF_8), 1 << 20)
          headerLines(checkpoint, curG, b64, buf.size).foreach { l => w.write(l); w.write('\n') }
          val n = buf.size
          var i = 0
          while (i < n) { w.write(buf.get(i)); w.write('\n'); i += 1 }
          w.close()
          fileCount.add(1L)
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
      } }
    fileCount.value
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
    val out = fs.create(p, true)
    try out.write(lines.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Read a patch dir back (for tests / reconciliation). */
  def readLines(spark: SparkSession, dir: String): DataFrame =
    spark.read.option("recursiveFileLookup", "false").text(dir + "/*")
}

package graft.publish

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import java.nio.charset.StandardCharsets

/** S7/W2 — the resourcesync-generator re-expressed: package committed patch
  * files into fixed-size zip batches with per-resource checksums, and publish
  * the ResourceSync metadata set (manifest_*.xml, resource-dump.xml,
  * capability-list.xml, .well-known/resourcesync) exactly as
  * zipsynchronizer.py:111-312 and syncdirector.py:70-123 do.
  *
  * Spark-first shape: the file inventory is ONE driver-side Hadoop
  * `listStatus` walk of the patch tree (names, lengths and mtimes only — a
  * Spark file source would run one parallel-listing job per batch directory,
  * each holding more graph dirs than Spark lists on the driver, so the
  * inventory cost grew with every batch ever written). Resources already in
  * complete zips are dropped before any byte is read; the rest are
  * checksummed by executor tasks that stream each file through MD5. Batch
  * windows are per-GRAPH (the window partitions by graph_b64 — never a
  * global single-task sort). Zip creation is a distributed pass keyed by
  * (graph, batch): each task streams its member files straight into the
  * final zip. Only the tiny per-zip summary returns to the driver for the
  * XML writes.
  *
  * The reference's complete `part_def_N` vs provisional `part_end_N` split
  * (zipsynchronizer.py:133-173) is the `is_complete` flag on the last
  * window: an incomplete window is deleted and rebuilt on the next run IF
  * its membership changed (J3 identity comparison, zipsynchronizer.py:
  * 149-156), and indices increase monotonically across runs exactly like
  * create_zip's max-index+1 scan (zipsynchronizer.py:274-281).
  */
object ManifestBuilder {

  /** One patch file as the listing sees it, before any byte is read. */
  final case class Listed(resource: String, graph_b64: String, length: Long, lastmod: String)

  private val GraphDir = "g_b64=([^/]+)/".r
  private[publish] val IsoUtc = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'").withZone(java.time.ZoneOffset.UTC)

  /** Every `rdf_out_*` file under `patchDir`, found by one recursive
    * `listStatus` walk on the driver. Same rows as the `binaryFile` source
    * with `recursiveFileLookup` gave: `_`/`.` entries skipped, the file's
    * qualified path string as `resource`, graph from the first `g_b64=`
    * directory, and UTC `lastmod` to the second. The walk touches only names, lengths and
    * mtimes — no permission lookup, no block locations, which on the local
    * file system each cost a process spawn. F6 analogue (split-graphs.sh:
    * 78-85): files with no graph (the dump-report trailer) are not
    * publishable resources. */
  def list(spark: SparkSession, patchDir: String): Seq[Listed] = {
    val root = new Path(patchDir)
    val f = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = scala.collection.mutable.ArrayBuffer.empty[Listed]
    def walk(dir: Path): Unit = f.listStatus(dir).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith(".") || (name.startsWith("_") && !name.contains("="))) ()
      else if (st.isDirectory) walk(st.getPath)
      else if (name.startsWith("rdf_out_")) {
        val res = st.getPath.toString
        GraphDir.findFirstMatchIn(res).foreach(m => out += Listed(res, m.group(1),
          st.getLen, IsoUtc.format(java.time.Instant.ofEpochMilli(st.getModificationTime))))
      }
    }
    walk(f.makeQualified(root))
    out.toSeq
  }

  /** `files` plus the md5 of each file's content, streamed by executor
    * tasks — the only step that reads patch bytes. */
  def checksummed(spark: SparkSession, files: Dataset[Listed]): DataFrame = {
    import spark.implicits._
    val hconf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    files.map { l =>
      val p = new Path(l.resource)
      (l.resource, l.graph_b64, l.length, md5Hex(p.getFileSystem(hconf.value), p), l.lastmod)
    }.toDF("resource", "graph_b64", "length", "md5", "lastmod")
  }

  /** Hex MD5 of a file's bytes, streamed in 64 KB reads. */
  private[publish] def md5Hex(f: FileSystem, p: Path): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val in = f.open(p)
    val buf = new Array[Byte](65536)
    try {
      var n = in.read(buf)
      while (n >= 0) { if (n > 0) md.update(buf, 0, n); n = in.read(buf) }
    } finally in.close()
    md.digest().map("%02x".format(_)).mkString
  }

  /** Per-resource manifest over a committed patch directory:
    * (resource, graph_b64, length, md5, lastmod, batch, is_complete).
    * Batch ids are assigned per graph (partitioned window — the global
    * Window.orderBy of the first cut funneled every file through one task). */
  def build(spark: SparkSession, patchDir: String, filesPerBatch: Int = 1000): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy(col("graph_b64")).orderBy(col("resource"))
    val inv = checksummed(spark, list(spark, patchDir).toDS())
      .withColumn("rn", row_number().over(w))
      .withColumn("batch", floor((col("rn") - 1) / filesPerBatch).cast("long"))
    val totals = inv.groupBy("graph_b64", "batch").agg(count(lit(1)).as("n_in_batch"))
    inv.join(totals, Seq("graph_b64", "batch"))
      .withColumn("is_complete", col("n_in_batch") === filesPerBatch)
      .drop("rn", "n_in_batch")
  }

  /** J3 — end-part identity comparison (zipsynchronizer.py:149-156):
    * resources in the new provisional window that were NOT in the previously
    * published one (left_anti by resource+md5) — republish only if nonempty. */
  def changedEndPart(newManifest: DataFrame, oldManifest: DataFrame): DataFrame =
    newManifest.filter(!col("is_complete"))
      .join(oldManifest.select(col("resource"), col("md5")),
        Seq("resource", "md5"), "left_anti")

  /** Capability-list analogue: one summary row per batch (the sitemap
    * entries; the ≤50k items / ≤50 MB limits from zipsynchronizer.py:26-31
    * are enforced on the publish path by [[ZipPublisher.publish]]'s count
    * AND byte window caps). */
  def batchSummary(manifest: DataFrame): DataFrame =
    manifest.groupBy("graph_b64", "batch", "is_complete")
      .agg(count(lit(1)).as("n_resources"),
        sum("length").as("total_bytes"),
        max("lastmod").as("lastmod"))
}

/** One inventory file with its greedy window assignment (typed row for the
  * byte-aware batching pass). */
final case class WindowedFile(graph_b64: String, resource: String, md5: String,
                              length: Long, lastmod: String, batch: Long,
                              is_complete: Boolean)

/** The actual artifact emitter: zips + the four ResourceSync XML kinds. */
object ZipPublisher {

  final case class ZipInfo(graph_b64: String, zipName: String, complete: Boolean,
                           nResources: Long, length: Long, md5: String, lastmod: String)

  /** ResourceSync community limits (zipsynchronizer.py:26-31,
    * syncdirector.py:53-55): a window closes at `filesPerZip` files OR at
    * this many member bytes, whichever comes first. */
  val MaxZipBytes: Long = 50L * 1024 * 1024

  /** Sitemap community item cap (syncdirector.py:53-55 `max_items_in_list`):
    * a resource-dump.xml may list at most this many zips; past it the
    * document splits into a resourcedump-index over ≤-cap chunk documents. */
  val MaxItemsInList: Int = 50000

  private val XmlNs =
    """xmlns="http://www.sitemaps.org/schemas/sitemap/0.9" xmlns:rs="http://www.openarchives.org/rs/terms/""""

  private def timed[T](label: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    if (sys.env.get("GRAFT_TIMING").contains("1"))
      println(f"[graft-timing] publish.$label%-24s ${(System.nanoTime() - t0) / 1e9}%8.2fs")
    r
  }

  /** Run independent per-graph filesystem work on a bounded thread pool
    * (Hadoop FileSystem handles are thread-safe; each task touches only
    * its own graph directory). Surfaces the first failure only after all
    * tasks settle, so no task is abandoned mid-write. */
  private def forEachParallel[T](items: Seq[T], threads: Int = 8)(f: T => Unit): Unit = {
    if (items.size <= 1) { items.foreach(f); return }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(threads, items.size))
    try {
      val futs = items.map(i => pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = f(i)
      }))
      val errs = futs.flatMap(fu => scala.util.Try(fu.get()).failed.toOption)
      errs.headOption.foreach {
        case e: java.util.concurrent.ExecutionException => throw e.getCause
        case e => throw e
      }
    } finally pool.shutdown()
  }

  /** Atomic metadata write: tmp + rename. A crash mid-write can no longer
    * leave a torn resource-dump.xml that the next run's read-modify-write
    * trusts (zipsynchronizer.py:69-109's cleanup concern). */
  private def writeFile(f: FileSystem, p: Path, content: String): Unit = {
    val tmp = new Path(p.getParent, p.getName + ".tmp" + System.nanoTime())
    val out = f.create(tmp, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8)) finally out.close()
    if (f.exists(p)) f.delete(p, false)
    if (!f.rename(tmp, p)) sys.error(s"atomic rename failed: $tmp -> $p")
  }

  private def readFile(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try new String(org.apache.commons.io.IOUtils.toByteArray(in), StandardCharsets.UTF_8)
    finally in.close()
  }

  /** resourcedump-manifest XML (the reference's manifest_*.xml,
    * PREFIX_MANIFEST sidecars): one <url> per packaged resource. */
  def manifestXml(rows: Seq[(String, String, Long, String)]): String = {
    val urls = rows.map { case (name, md5v, len, lastmod) =>
      s"""  <url><loc>$name</loc><lastmod>$lastmod</lastmod><rs:md hash="md5:$md5v" length="$len" path="/$name" type="text/plain"/></url>"""
    }.mkString("\n")
    s"""<?xml version="1.0" encoding="UTF-8"?>
       |<urlset $XmlNs>
       |  <rs:md capability="resourcedump-manifest"/>
       |$urls
       |</urlset>""".stripMargin
  }

  /** resource-dump.xml: one <url> per published zip, rs:ln content link to
    * its manifest (zipsynchronizer.publish_metadata). */
  def resourceDumpXml(publishUrl: String, zips: Seq[ZipInfo], at: String): String = {
    val urls = zips.sortBy(_.zipName).map { z =>
      s"""  <url><loc>$publishUrl${z.zipName}.zip</loc><lastmod>${z.lastmod}</lastmod><rs:md hash="md5:${z.md5}" length="${z.length}" type="application/zip"/><rs:ln rel="content" href="${publishUrl}manifest_${z.zipName}.xml"/></url>"""
    }.mkString("\n")
    s"""<?xml version="1.0" encoding="UTF-8"?>
       |<urlset $XmlNs>
       |  <rs:ln rel="up" href="${publishUrl}capability-list.xml"/>
       |  <rs:md capability="resourcedump" at="$at"/>
       |$urls
       |</urlset>""".stripMargin
  }

  /** resourcedump-index (sitemap-index layering, syncdirector.py:53-55):
    * when a graph has published more zips than `max_items_in_list`, the
    * top resource-dump.xml becomes a `<sitemapindex>` whose `<sitemap>`
    * entries point at ≤-cap chunk documents (each an ordinary
    * resourcedump urlset). */
  def resourceDumpIndexXml(publishUrl: String, chunkNames: Seq[String], at: String): String = {
    val maps = chunkNames.sorted.map { n =>
      s"""  <sitemap><loc>$publishUrl$n</loc></sitemap>"""
    }.mkString("\n")
    s"""<?xml version="1.0" encoding="UTF-8"?>
       |<sitemapindex $XmlNs>
       |  <rs:ln rel="up" href="${publishUrl}capability-list.xml"/>
       |  <rs:md capability="resourcedump" at="$at"/>
       |$maps
       |</sitemapindex>""".stripMargin
  }

  def capabilityListXml(publishUrl: String, srcDescUrl: String): String =
    s"""<?xml version="1.0" encoding="UTF-8"?>
       |<urlset $XmlNs>
       |  <rs:ln rel="up" href="$srcDescUrl"/>
       |  <rs:md capability="capabilitylist"/>
       |  <url><loc>${publishUrl}resource-dump.xml</loc><rs:md capability="resourcedump"/></url>
       |</urlset>""".stripMargin

  /** .well-known/resourcesync (source description, syncdirector.py:92-123):
    * one capability-list link per published graph directory. */
  def sourceDescriptionXml(capaUrls: Seq[String]): String = {
    val urls = capaUrls.sorted.map { u =>
      s"""  <url><loc>$u</loc><rs:md capability="capabilitylist"/></url>"""
    }.mkString("\n")
    s"""<?xml version="1.0" encoding="UTF-8"?>
       |<urlset $XmlNs>
       |  <rs:md capability="description"/>
       |$urls
       |</urlset>""".stripMargin
  }

  /** Publish one committed patch directory into `sinkDir`:
    *
    *  - complete windows of `filesPerZip` resources -> `part_def_N.zip`
    *    (immutable; never rewritten once present);
    *  - the remainder -> `part_end_N.zip`, rebuilt ONLY when its membership
    *    changed (old end zip + sidecars removed, index bumped — exactly
    *    do_publish's evolution);
    *  - every zip embeds `manifest.xml` and gets a `manifest_<zip>.xml`
    *    sidecar; per-graph `resource-dump.xml` + `capability-list.xml`; one
    *    top-level `.well-known/resourcesync` over all graphs.
    *
    * Zip bytes are written by executors (foreachPartition over
    * (graph, batch) groups); the driver only writes the small XML set.
    * Published state (which resources sit in which complete zip) lives in a
    * parquet table `sinkDir/_published` — the Spark-native stand-in for the
    * reference's move-files-out-of-source-dir bookkeeping.
    *
    * Returns per-zip summary rows for this run (empty if nothing changed).
    */
  def publish(spark: SparkSession, patchDir: String, sinkDir: String,
              filesPerZip: Int = 1000,
              publishUrl: String = "http://example.com/",
              graphIndex: Option[DataFrame] = None,
              maxZipBytes: Long = MaxZipBytes,
              maxItemsInList: Int = MaxItemsInList,
              onBuiltForTests: Seq[ZipInfo] => Unit = _ => (),
              onPublishedForTests: () => Unit = () => (),
              metadataThreads: Int = 8): Seq[ZipInfo] = {
    import spark.implicits._
    val f = new Path(sinkDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.mkdirs(new Path(sinkDir))
    val stateDir = s"$sinkDir/_published"
    val hasState = graft.state.CompactedAppendTable.exists(spark, stateDir)

    // inventory minus already-definitively-published resources, pruned
    // BEFORE the checksum pass so published files are never read again; when
    // the pipeline's graph-folder index is supplied, the fan-out is driven
    // by it (syncdirector.py:107-115 walks subdirs only when FILE_INDEX exists)
    val listed = timed("inventory")(ManifestBuilder.list(spark, patchDir)).toDF()
    val inGraphs = graphIndex match {
      case None => listed
      case Some(gi) => listed.join(
        broadcast(gi.select(col("g_b64").as("graph_b64")).distinct()),
        Seq("graph_b64"), "left_semi")
    }
    val unpublished =
      if (!hasState) inGraphs
      else inGraphs.join(
        graft.state.CompactedAppendTable.read(spark, stateDir).get.select("resource"),
        Seq("resource"), "left_anti")
    val inv = ManifestBuilder.checksummed(spark, unpublished.as[ManifestBuilder.Listed])

    // Greedy per-graph windows over the unpublished remainder: a window
    // closes at `filesPerZip` files OR `maxZipBytes` member bytes, whichever
    // first (zipsynchronizer.py:26-31 / syncdirector.py:53-55 — the 50 MB
    // sitemap-community limit a consumer relies on; 1000 default-size patch
    // files would otherwise pack ~12.5 GB into one zip). Window completeness
    // is only known when the window CLOSES — a stateful scan no fixed-frame
    // SQL window expresses — so this is a typed pass that buffers at most
    // one window; everything downstream stays declarative.
    val fpz = filesPerZip
    val mzb = maxZipBytes
    val windowed0 = inv
      .select(col("graph_b64"), col("resource"), col("md5"),
        col("length").cast("long").as("length"), col("lastmod"))
      .repartition(col("graph_b64"))
      .sortWithinPartitions("graph_b64", "resource")
      .as[(String, String, String, Long, String)]
      .mapPartitions { it =>
        val buf = it.buffered
        // each next() cuts and yields ONE window, so the task buffers at
        // most `filesPerZip` rows regardless of how many files a hot graph
        // has — a 10^12-doc graph's inventory never materializes in one task
        val windows = new Iterator[Seq[WindowedFile]] {
          private var curGraph: String = _
          private var batch = 0L
          def hasNext: Boolean = buf.hasNext
          def next(): Seq[WindowedFile] = {
            val g = buf.head._1
            if (g != curGraph) { curGraph = g; batch = 0L }
            val cur = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long, String)]
            var bytes = 0L
            var closedFull = false
            while (!closedFull && buf.hasNext && buf.head._1 == g) {
              val r = buf.head
              if (cur.nonEmpty && bytes + r._4 > mzb) closedFull = true // r starts the NEXT window
              else {
                buf.next()
                cur += ((r._2, r._3, r._4, r._5)); bytes += r._4
                if (cur.size >= fpz || bytes >= mzb) closedFull = true
              }
            }
            val out = cur.map { case (res, m, len, lm) =>
              WindowedFile(g, res, m, len, lm, batch, closedFull) }
            batch += 1
            out.toSeq
          }
        }
        windows.flatten
      }
      .toDF()
    val windowedC = timed("windowedInventory") {
      windowed0.localCheckpoint() // consumed 3x below (end check, naming, zip build)
    }

    // existing sink state: one tiny entry per graph that holds a zip
    val sinkGraphs: Map[String, SinkGraph] = timed("scanSink")(scanSink(f, sinkDir))

    // J3: per-graph end-part membership as (basename, md5) pairs — a member
    // whose CONTENT changed under the same name triggers a rebuild, exactly
    // the reference's resource+checksum identity (zipsynchronizer.py:
    // 149-156). ONE small row per graph comes back, never the file rows.
    val windowed = windowedC
    val endMembership = windowed.filter(!col("is_complete"))
      .withColumn("base", regexp_extract(col("resource"), "([^/]+)$", 1))
      .select(col("graph_b64"), concat_ws("|", col("base"), col("md5")).as("m"))
      .groupBy("graph_b64")
      .agg(sort_array(collect_list(col("m"))).as("members"))
      .as[(String, Seq[String])].collect()
      .map { case (g, m) => g -> m.toSet }.toMap
    val endChanged: Set[String] = endMembership.collect {
      case (g, members) if !sinkGraphs.get(g).flatMap(_.endMembers).contains(members) => g
    }.toSet

    // zip NAME assignment in the plan (reference max-index+1 semantics,
    // zipsynchronizer.py:274-281): def name = defBase(g) + batch,
    // end name = endBase(g); a tiny per-graph base table joined in
    val baseDf = broadcast(
      (endMembership.keySet ++ sinkGraphs.keySet).toSeq
        .map { g =>
          val s = sinkGraphs.get(g)
          (g, s.fold(0)(_.maxDef + 1), s.fold(0)(_.maxEnd + 1))
        }
        .toDF("graph_b64", "defBase", "endBase"))
    val assigned = windowed.join(baseDf, Seq("graph_b64"), "left")
      .withColumn("defBase", coalesce(col("defBase"), lit(0)))
      .withColumn("endBase", coalesce(col("endBase"), lit(0)))
      .filter(col("is_complete") ||
        col("graph_b64").isin(endChanged.toSeq: _*))
      .withColumn("zipName",
        when(col("is_complete"),
          format_string("part_def_%05d", (col("defBase") + col("batch")).cast("int")))
          .otherwise(format_string("part_end_%05d", col("endBase"))))

    // every zip this run intends to write — the crash-cleanup manifest
    // (zipsynchronizer.py:69-109: on failure delete every provisional
    // artifact of the failed run, then re-raise)
    val plannedZips: Seq[(String, String)] = assigned
      .select("graph_b64", "zipName").distinct()
      .as[(String, String)].collect().toSeq

    // distributed zip build: stream each (graph, zip) group's files straight
    // into the final zip; only the one-line summary per zip returns
    val hconf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val sink = sinkDir
    val buildJob = assigned
      .select("graph_b64", "zipName", "is_complete", "resource", "md5", "length", "lastmod")
      .repartition(col("graph_b64"), col("zipName"))
      .sortWithinPartitions("graph_b64", "zipName", "resource")
      .mapPartitions { it =>
        val groups = new Iterator[(String, String, Boolean, Seq[(String, String, Long, String)])] {
          val buf = it.buffered
          def hasNext: Boolean = buf.hasNext
          def next(): (String, String, Boolean, Seq[(String, String, Long, String)]) = {
            val h = buf.head
            val (g, name, complete) = (h.getString(0), h.getString(1), h.getBoolean(2))
            val members = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long, String)]
            while (buf.hasNext && buf.head.getString(0) == g && buf.head.getString(1) == name) {
              val r = buf.next()
              members += ((r.getString(3), r.getString(4), r.getLong(5), r.getString(6)))
            }
            (g, name, complete, members.toSeq)
          }
        }
        groups.map { case (g, name, complete, members) =>
          // a zip entry is named by the member's basename; two batches
          // written under one checkpoint repeat `rdf_out_<ckpt>-<serial>`
          // in a graph, which ZipOutputStream would reject opaquely
          val byName = scala.collection.mutable.HashMap.empty[String, String]
          members.foreach { case (res, _, _, _) =>
            val base = res.substring(res.lastIndexOf('/') + 1)
            byName.put(base, res).foreach { other =>
              throw new IllegalStateException(s"graph $g: zip $name would hold two " +
                s"members named $base: $other and $res (patch batches written " +
                "under the same checkpoint)")
            }
          }
          val zfs = new Path(sink).getFileSystem(hconf.value)
          val gDir = new Path(sink, g)
          zfs.mkdirs(gDir)
          val zipPath = new Path(gDir, s"$name.zip")
          // task-attempt-unique temp + rename-on-commit: a speculative or
          // retried task never exposes a half-written final zip
          val tmpPath = new Path(gDir,
            s"$name.zip.tmpzip${java.util.UUID.randomUUID().toString.take(8)}")
          val manifest = manifestXml(members.map { case (res, m, len, lm) =>
            (res.substring(res.lastIndexOf('/') + 1), m, len, lm)
          })
          val os = zfs.create(tmpPath, true)
          val zos = new java.util.zip.ZipOutputStream(os)
          zos.setLevel(1) // speed over ratio: patch text compresses well anyway
          zos.putNextEntry(new java.util.zip.ZipEntry("manifest.xml"))
          zos.write(manifest.getBytes(StandardCharsets.UTF_8)); zos.closeEntry()
          members.foreach { case (res, _, _, _) =>
            val p = new Path(res.stripPrefix("file:"))
            zos.putNextEntry(new java.util.zip.ZipEntry(p.getName))
            val in = zfs.open(p)
            try org.apache.commons.io.IOUtils.copy(in, zos) finally in.close()
            zos.closeEntry()
          }
          zos.close()
          if (zfs.exists(zipPath)) zfs.delete(zipPath, false)
          if (!zfs.rename(tmpPath, zipPath))
            sys.error(s"zip rename failed: $tmpPath -> $zipPath")
          val st = zfs.getFileStatus(zipPath)
          val md5hex = ManifestBuilder.md5Hex(zfs, zipPath)
          // ONE summary line per zip returns — NOT the manifest body: the
          // manifest is O(zip members), so collecting it made the zip-build
          // collect O(total member rows) on the driver (~150 B/member —
          // multi-GB driver ingress at a 50k-zip publish). Sidecar XMLs are
          // written distributed in a second pass below.
          (g, name, complete, members.size.toLong, st.getLen, md5hex,
            members.map(_._4).max)
        }
      }

    // crash/retry discipline (zipsynchronizer.py:69-109): zips build first;
    // the _published state commits BEFORE any destructive step or metadata
    // write, so a crash in between re-runs against consistent state — the
    // left_anti prune sees exactly the completed zips. Any failure up to
    // and including the state append deletes every artifact this run
    // created (def and end) and re-raises.
    val built = try {
      val rows = timed("zipBuild")(buildJob.collect())
      if (rows.isEmpty) return Seq.empty
      onBuiltForTests(rows.map { case (g, name, complete, n, len, md5v, lastmod) =>
        ZipInfo(g, name, complete, n, len, md5v, lastmod) }.toSeq)
      // published-state bookkeeping: complete-zip members, written
      // distributed; compacted-append layout bounds the state's file count
      // across thousands of publish runs, sized ~4M member rows per file
      timed("stateAppend")(graft.state.CompactedAppendTable.append(spark, stateDir,
        assigned.filter(col("is_complete"))
          .select(col("resource"), col("zipName").as("zip")),
        targetFiles = rowsTotal => (rowsTotal / 4000000L + 1L).toInt))
      rows
    } catch {
      case e: Throwable =>
        cleanupPlanned(f, sinkDir, plannedZips)
        throw e
    }
    // beyond this point zips + state are COMMITTED: a crash below leaves a
    // consistent sink whose metadata the next touching run reconciles
    // (orphan recovery in the dump-xml regeneration)
    onPublishedForTests()

    // per-zip sidecar XMLs (manifest_<zip>.xml + <zip>.xml for end parts)
    // are written DISTRIBUTED, where the member rows are: the manifest body
    // is O(zip members), so both collecting it to the driver (the old
    // zip-build collect) and writing it from a driver thread pool scale
    // with total published members, not zips. The ordering contract is
    // unchanged — this pass runs after the state commit (the crash tests'
    // post-state window still sees zero metadata) and before the dump-xml
    // regeneration. Only a count returns.
    timed("zipSidecars") {
      val sidecarJob = assigned
        .select("graph_b64", "zipName", "is_complete", "resource", "md5", "length", "lastmod")
        .repartition(col("graph_b64"), col("zipName"))
        .sortWithinPartitions("graph_b64", "zipName", "resource")
        .mapPartitions { it =>
          val buf = it.buffered
          val groups = new Iterator[Int] {
            def hasNext: Boolean = buf.hasNext
            def next(): Int = {
              val h = buf.head
              val (g, name, complete) = (h.getString(0), h.getString(1), h.getBoolean(2))
              val members = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long, String)]
              while (buf.hasNext && buf.head.getString(0) == g && buf.head.getString(1) == name) {
                val r = buf.next()
                members += ((r.getString(3), r.getString(4), r.getLong(5), r.getString(6)))
              }
              val zfs = new Path(sink).getFileSystem(hconf.value)
              val gDir = new Path(sink, g)
              val manifest = manifestXml(members.toSeq.map { case (res, m, len, lm) =>
                (res.substring(res.lastIndexOf('/') + 1), m, len, lm)
              })
              writeFile(zfs, new Path(gDir, s"manifest_$name.xml"), manifest)
              if (!complete) writeFile(zfs, new Path(gDir, s"$name.xml"), manifest)
              1
            }
          }
          groups
        }(org.apache.spark.sql.Encoders.scalaInt)
      sidecarJob.count(): Unit
    }

    val nowIso = ManifestBuilder.IsoUtc.format(java.time.Instant.now())
    val builtInfos: Seq[ZipInfo] = built.toSeq.map {
      case (g, name, complete, n, len, md5v, lastmod) =>
        ZipInfo(g, name, complete, n, len, md5v, lastmod)
    }
    val summaries = scala.collection.mutable.ArrayBuffer.empty[ZipInfo]
    summaries ++= builtInfos

    // per-graph resource-dump.xml (accumulating: previous defs stay listed).
    // Graphs are independent (disjoint directories) — the metadata writes
    // run on a small thread pool: serially this driver loop is O(graphs)
    // of filesystem round-trips, the publish tail's bottleneck once the
    // graph count is large.
    timed("graphMetadata")(forEachParallel(builtInfos.groupBy(_.graph_b64).toSeq, metadataThreads) { case (g, zs) =>
      val gDir = new Path(sinkDir, g)
      val gUrl = s"$publishUrl$g/"
      // (per-zip sidecars were already written by the distributed pass
      // above — create_zip write_list=True semantics, executor-side)
      val already: Seq[ZipInfo] = readDump(f, gDir, g)
      // EVERY listed end part is provisional by definition: this run
      // recomputed the full unpublished inventory, so an end entry it did
      // not re-emit is superseded (not just prevEnd's max index — a crash
      // between a past run's state append and its metadata tail can leave
      // older part_end_K entries behind; carrying them forward would show
      // consumers a stale end zip forever)
      val keep = already.filter(_.complete)
        .filterNot(z => zs.exists(_.zipName == z.zipName))
      // crash-recovery reconciliation: a def zip ON DISK but listed nowhere
      // was committed (state appended) by a run that died before its
      // metadata writes — without this, the re-run prunes its members via
      // _published and the dump xml stays silently stale. Its row (and a
      // missing manifest sidecar) re-derive from the zip itself, which
      // embeds manifest.xml. Rare path: only runs for unlisted leftovers.
      val listedNames = (keep ++ zs.toSeq).map(_.zipName).toSet
      val orphans = f.listStatus(gDir).map(_.getPath.getName)
        .filter(n => n.startsWith("part_def_") && n.endsWith(".zip"))
        .map(_.stripSuffix(".zip"))
        .filterNot(listedNames.contains)
        .toSeq.sorted
        .map(n => recoverZipInfo(f, gDir, g, n))
      writeDump(f, gDir, gUrl, keep ++ orphans ++ zs.toSeq, nowIso, maxItemsInList)
      val capaPath = new Path(gDir, "capability-list.xml")
      if (!f.exists(capaPath))
        writeFile(f, capaPath,
          capabilityListXml(gUrl, s"$publishUrl.well-known/resourcesync"))
    })

    // stale-end sweep over EVERY graph dir (not just this run's): delete
    // superseded part_end zips/sidecars and repair any dump xml whose end
    // entries disagree with the on-disk current end — the do_publish tail,
    // hardened against crashes in past runs' metadata windows.
    timed("sweepStaleEnds")(sweepStaleEnds(f, sinkDir, publishUrl, summaries.toSeq, nowIso, maxItemsInList, metadataThreads))

    // top-level source description over every graph dir with a capability list
    val graphs = f.listStatus(new Path(sinkDir)).filter(_.isDirectory)
      .map(_.getPath.getName).filterNot(_.startsWith("_")).filterNot(_.startsWith("."))
      .filter(g => f.exists(new Path(new Path(sinkDir, g), "capability-list.xml")))
    f.mkdirs(new Path(sinkDir, ".well-known"))
    writeFile(f, new Path(sinkDir, ".well-known/resourcesync"),
      sourceDescriptionXml(graphs.toSeq.map(g => s"$publishUrl$g/capability-list.xml")))

    summaries.toSeq
  }

  /** Write a graph's resource dump metadata, splitting into a
    * resourcedump-index + ≤`maxItems` chunk documents past the sitemap
    * community item cap (syncdirector.py:53-55). Chunk files are named
    * `resource-dump-%05d.xml`; the top `resource-dump.xml` is either the
    * single urlset (common case) or the `<sitemapindex>` over the chunks.
    * Stale chunk files from a previous (larger or differently-split) write
    * are removed so a reader never sees orphaned chunks. */
  private def writeDump(f: FileSystem, gDir: Path, gUrl: String,
                        zips: Seq[ZipInfo], at: String, maxItems: Int): Unit = {
    val sorted = zips.sortBy(_.zipName)
    val chunkNames: Seq[String] =
      if (sorted.size <= maxItems) Seq.empty
      else sorted.grouped(maxItems).zipWithIndex.map { case (chunk, i) =>
        val n = f"resource-dump-$i%05d.xml"
        writeFile(f, new Path(gDir, n), resourceDumpXml(gUrl, chunk, at))
        n
      }.toSeq
    // drop chunks beyond this write's count (shrink/regroup leftovers)
    if (f.exists(gDir))
      f.listStatus(gDir).map(_.getPath.getName)
        .filter(n => n.startsWith("resource-dump-") && n.endsWith(".xml"))
        .filterNot(chunkNames.contains)
        .foreach(n => f.delete(new Path(gDir, n), false))
    val top =
      if (chunkNames.isEmpty) resourceDumpXml(gUrl, sorted, at)
      else resourceDumpIndexXml(gUrl, chunkNames, at)
    writeFile(f, new Path(gDir, "resource-dump.xml"), top)
  }

  /** Read a graph's published zip rows back, transparently following the
    * sitemapindex layering ([[writeDump]]'s inverse). */
  private def readDump(f: FileSystem, gDir: Path, g: String): Seq[ZipInfo] = {
    val dumpPath = new Path(gDir, "resource-dump.xml")
    if (!f.exists(dumpPath)) return Seq.empty
    val top = readFile(f, dumpPath)
    if (!top.contains("<sitemapindex")) parseDumpZips(top, g)
    else {
      // lenient chunk resolution: any <loc> inside a <sitemap> element,
      // tolerating attributes/whitespace/newlines — a byte-exact regex
      // silently returned ZERO entries for any formatting variation, which
      // downstream is indistinguishable from an empty dump and would
      // orphan-relist every published zip. Zero entries from a document
      // that declares itself a sitemapindex is therefore a loud failure.
      // ...but scoped to ONE <sitemap> element at a time: split on the
      // close tag, then take the first <loc> within each element. A
      // cross-element (?s) .*? would pair a loc-less <sitemap> with the
      // NEXT element's <loc>, silently skipping an entry.
      val locRx = """(?s)<sitemap\b[^>]*>.*?<loc\b[^>]*>\s*([^<]+?)\s*</loc>""".r
      val names = top.split("</sitemap>").toSeq
        .flatMap(el => locRx.findFirstMatchIn(el).map(_.group(1).split('/').last))
      if (names.isEmpty)
        // our own writer only emits a sitemapindex when it has chunk names
        // (writeDump), so zero entries = corrupt metadata, not a legal
        // empty dump — fail loudly rather than orphan-relist every zip
        sys.error(s"sitemapindex at $dumpPath yielded no <sitemap><loc> chunk entries; " +
          "refusing to treat a non-empty index as an empty dump")
      names.flatMap { n =>
        val p = new Path(gDir, n)
        if (f.exists(p)) parseDumpZips(readFile(f, p), g) else Seq.empty
      }
    }
  }

  /** Delete every superseded on-disk `part_end_` zip (anything that is not
    * the graph's CURRENT end part) and repair dump xmls whose end entries
    * disagree with disk. Runs over every graph dir each publish: past
    * crashes between a state append and the metadata tail can strand stale
    * end zips for graphs the current run does not otherwise touch. */
  private def sweepStaleEnds(f: FileSystem, sinkDir: String, publishUrl: String,
                             summaries: Seq[ZipInfo], at: String,
                             maxItems: Int, threads: Int = 8): Unit = {
    val sinkPath = new Path(sinkDir)
    if (!f.exists(sinkPath)) return
    val touched = summaries.map(_.graph_b64).toSet
    forEachParallel(f.listStatus(sinkPath).filter(_.isDirectory).map(_.getPath)
      .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
      .toSeq, threads) { gDir =>
        val g = gDir.getName
        val ends = f.listStatus(gDir).map(_.getPath.getName)
          .filter(n => n.startsWith("part_end_") && n.endsWith(".zip"))
          .map(_.stripSuffix(".zip")).toSeq
        // current end: what this run just published for a touched graph
        // (possibly none — the old end got absorbed into complete zips);
        // the max index for an untouched graph
        val current: Option[String] =
          if (touched.contains(g))
            summaries.collectFirst { case z if z.graph_b64 == g && !z.complete => z.zipName }
          else if (ends.nonEmpty)
            Some(ends.maxBy(_.stripPrefix("part_end_").toInt))
          else None
        ends.filterNot(current.contains).foreach { n =>
          Seq(s"$n.zip", s"$n.xml", s"manifest_$n.xml")
            .foreach(s => f.delete(new Path(gDir, s), false))
        }
        // dump repair only off the touched path (touched graphs' xml was
        // just rewritten consistently above)
        if (!touched.contains(g)) {
          val listed = readDump(f, gDir, g)
          if (listed.nonEmpty) {
            val endListed = listed.filterNot(_.complete).map(_.zipName).toSet
            if (endListed != current.toSet) {
              val defs = listed.filter(_.complete)
              val cur = current.toSeq
                .map(n => recoverZipInfo(f, gDir, g, n, complete = false))
              writeDump(f, gDir, s"$publishUrl$g/", defs ++ cur, at, maxItems)
            }
          }
        }
      }
  }

  /** Re-derive a committed-but-unlisted zip's metadata row from the zip
    * file itself (length/lastmod from the file status, md5 by streaming,
    * member manifest from the embedded manifest.xml — regenerating the
    * sidecar if the dying run never wrote it). */
  private def recoverZipInfo(f: FileSystem, gDir: Path, g: String, name: String,
                             complete: Boolean = true): ZipInfo = {
    val zipPath = new Path(gDir, s"$name.zip")
    val st = f.getFileStatus(zipPath)
    val md5hex = ManifestBuilder.md5Hex(f, zipPath)
    val lastmod = ManifestBuilder.IsoUtc
      .format(java.time.Instant.ofEpochMilli(st.getModificationTime))
    // regenerate the manifest sidecar from the zip's embedded copy if missing
    val sidecar = new Path(gDir, s"manifest_$name.xml")
    var nResources = 0L
    val zin = new java.util.zip.ZipInputStream(f.open(zipPath))
    try {
      var e = zin.getNextEntry
      while (e != null) {
        if (e.getName == "manifest.xml") {
          val content = new String(
            org.apache.commons.io.IOUtils.toByteArray(zin), StandardCharsets.UTF_8)
          nResources = "<url>".r.findAllMatchIn(content).size.toLong
          if (!f.exists(sidecar)) writeFile(f, sidecar, content)
          // an end part also carries the member-list sidecar (write_list)
          val listSidecar = new Path(gDir, s"$name.xml")
          if (!complete && !f.exists(listSidecar)) writeFile(f, listSidecar, content)
        }
        e = zin.getNextEntry
      }
    } finally zin.close()
    ZipInfo(g, name, complete, nResources, st.getLen, md5hex, lastmod)
  }

  /** Failed-run cleanup: delete every zip (and sidecars, and any orphaned
    * .tmpzip temp) the failed run planned, so the next run starts from the
    * previous consistent sink (zipsynchronizer.py:98-109's clean_up_tmp). */
  private def cleanupPlanned(f: FileSystem, sinkDir: String,
                             planned: Seq[(String, String)]): Unit = {
    planned.foreach { case (g, name) =>
      val gDir = new Path(sinkDir, g)
      Seq(s"$name.zip", s"$name.xml", s"manifest_$name.xml")
        .foreach(s => try f.delete(new Path(gDir, s), false) catch { case _: Exception => })
      try {
        if (f.exists(gDir))
          f.listStatus(gDir).map(_.getPath)
            .filter(_.getName.contains(".tmpzip"))
            .foreach(p => f.delete(p, false))
      } catch { case _: Exception => }
    }
  }

  /** What one graph dir of the sink already holds: its highest def and end
    * zip indices (-1 when none) and, when an end zip exists, the current end
    * part's members as "basename|md5" identity pairs parsed from its
    * member-list sidecar's rs:md hash attributes — J3 compares resource AND
    * checksum, zipsynchronizer.py:149-156 (empty when the sidecar is
    * missing, so the end part is rebuilt). */
  private final case class SinkGraph(maxDef: Int, maxEnd: Int, endMembers: Option[Set[String]])

  /** One listing pass over the sink's graph dirs; graphs with no zip are
    * absent. */
  private def scanSink(f: FileSystem, sinkDir: String): Map[String, SinkGraph] = {
    val memberRx =
      """<url><loc>([^<]+)</loc><lastmod>[^<]*</lastmod><rs:md hash="md5:([0-9a-f]+)"""".r
    f.listStatus(new Path(sinkDir)).filter(_.isDirectory).flatMap { d =>
      val names = f.listStatus(d.getPath).map(_.getPath.getName)
      def maxIndex(prefix: String): Int = names
        .filter(n => n.startsWith(prefix) && n.endsWith(".zip"))
        .map(_.stripPrefix(prefix).stripSuffix(".zip").toInt)
        .maxOption.getOrElse(-1)
      val (maxDef, maxEnd) = (maxIndex("part_def_"), maxIndex("part_end_"))
      if (maxDef < 0 && maxEnd < 0) None
      else {
        val listName = f"part_end_$maxEnd%05d.xml"
        val endMembers =
          if (maxEnd < 0) None
          else if (!names.contains(listName)) Some(Set.empty[String])
          else Some(memberRx.findAllMatchIn(readFile(f, new Path(d.getPath, listName)))
            .map(m => m.group(1) + "|" + m.group(2)).toSet)
        Some(d.getPath.getName -> SinkGraph(maxDef, maxEnd, endMembers))
      }
    }.toMap
  }

  /** Minimal parse of our own resource-dump.xml back into ZipInfo rows. */
  private def parseDumpZips(xml: String, g: String): Seq[ZipInfo] = {
    val url = ("""<url><loc>[^<]*/([^/<]+)\.zip</loc><lastmod>([^<]*)</lastmod>""" +
      """<rs:md hash="md5:([0-9a-f]+)" length="(\d+)" type="application/zip"/>""").r
    url.findAllMatchIn(xml).map { m =>
      ZipInfo(g, m.group(1), m.group(1).startsWith("part_def_"),
        0L, m.group(4).toLong, m.group(3), m.group(2))
    }.toSeq
  }

}

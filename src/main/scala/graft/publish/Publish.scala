package graft.publish

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import java.nio.charset.StandardCharsets
import graft.{FsWrite, RecordFile}
import graft.plans.PatchWriter
import graft.Timing.timed

/** S7/W2 — the resourcesync-generator re-expressed: package committed patch
  * files into fixed-size zip batches with per-resource checksums, and publish
  * the ResourceSync metadata set (manifest_*.xml, resource-dump.xml,
  * capability-list.xml, .well-known/resourcesync) exactly as
  * zipsynchronizer.py:111-312 and syncdirector.py:70-123 do.
  *
  * What a publish packs is known from the write records: every batch dir
  * the pipeline writes holds a `_record.txt` with each patch file's graph,
  * name, length, md5 and write time ([[graft.plans.PatchWriter]]), as the
  * reference's generator packs them per file. A publish lists the patches
  * root only, reads the records of the batches it has not yet published
  * and of the batches holding the graphs' live end-part members, and plans
  * every window on the driver from those rows: it never walks the patch
  * tree and never reads a patch file but to copy it into a zip. Zip
  * creation is one distributed pass over the planned zips: each task
  * streams its members straight into the final zip, digesting it as it
  * writes. Only the tiny per-zip summary returns to the driver for the XML
  * writes.
  *
  * The reference's complete `part_def_N` vs provisional `part_end_N` split
  * (zipsynchronizer.py:133-173) is the `is_complete` flag on the last
  * window: an incomplete window is deleted and rebuilt on the next run IF
  * its membership changed (J3 identity comparison, zipsynchronizer.py:
  * 149-156), and indices increase monotonically across runs like
  * create_zip's max-index+1 scan (zipsynchronizer.py:274-281), over every
  * zip the graph ever had, so no name is reused.
  *
  * What the sink holds is known from one place, the publish record
  * `sinkDir/_published` ([[PublishRecord]]) that [[ZipPublisher.publish]]
  * adds one file to per run: every built zip with its summary, members, run
  * and the last patch batch the run published through. Indices, J3 and
  * every XML document derive from it; nothing publish wrote is read back
  * from disk, and no publish lists a graph dir it does not rewrite. The reference scrubs crashed runs by
  * scanning the sink; here the run's record file is the commit point, and
  * the next publish finishes a crashed run's tail.
  */
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

  /** A zip's sidecar XMLs: its manifest, and an end part's member list. */
  private def sidecarNames(zip: String, complete: Boolean): Seq[String] =
    s"manifest_$zip.xml" +: (if (complete) Nil else Seq(s"$zip.xml"))

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

  /** One packaged resource as the publish record holds it, in the zip's
    * manifest order. */
  final case class Member(resource: String, md5: String, length: Long, lastmod: String)

  /** One row of the publish record: a built zip's summary and members, the
    * run that built it and the last patch batch that run published
    * through. */
  private[graft] final case class Recorded(zip: ZipInfo, members: Seq[Member], run: Long,
                                           throughBatch: Long)

  /** A zip a run builds, its members in manifest order. */
  private[publish] final case class Planned(graph_b64: String, zipName: String,
      complete: Boolean, members: Seq[Member])

  /** The name families the publisher writes into a graph dir: zips, their
    * sidecars and staged temps, and the resource dump documents. */
  private val OwnedPrefixes = Seq("part_", "manifest_part_", "resource-dump")

  /** The zips a consumer sees in one graph: every def zip, plus the end
    * part of the latest run that built into the graph (none when that
    * run's windows all closed). `zips` carries each zip's run. */
  private def live(zips: Seq[(ZipInfo, Long)]): Seq[ZipInfo] = {
    val last = zips.map(_._2).max
    zips.collect { case (z, r) if z.complete || r == last => z }
  }

  /** A resource's file name: its zip entry and manifest `<loc>`. */
  private def baseName(resource: String): String =
    resource.substring(resource.lastIndexOf('/') + 1)

  /** The batch dir a resource was written in. */
  private def batchDirOf(resource: String): String =
    resource.substring(0, resource.lastIndexOf("/g_b64="))

  /** Members' J3 identities: file name and md5. */
  private def contentIds(ms: Seq[Member]): Set[(String, String)] =
    ms.map(m => (baseName(m.resource), m.md5)).toSet

  /** Highest `part_def`/`part_end` index among `zips` (-1 when none). */
  private def maxIndex(zips: Seq[ZipInfo], complete: Boolean): Int = zips
    .collect { case z if z.complete == complete => z.zipName.split('_').last.toInt }
    .maxOption.getOrElse(-1)

  /** Greedy windows over one graph's members in resource order: a window
    * closes at `filesPerZip` files or at `maxZipBytes` member bytes,
    * whichever comes first (zipsynchronizer.py:26-31 / syncdirector.py:
    * 53-55 — the 50 MB sitemap-community limit a consumer relies on), and a
    * member that would overflow a non-empty window opens the next one.
    * Returns the closed windows and the open rest, the graph's end part. */
  private def windows(ms: Seq[Member], filesPerZip: Int, maxZipBytes: Long)
      : (Seq[Seq[Member]], Seq[Member]) = {
    val closed = Seq.newBuilder[Seq[Member]]
    var cur = Vector.empty[Member]
    var bytes = 0L
    def close(): Unit = { closed += cur; cur = Vector.empty; bytes = 0L }
    ms.foreach { m =>
      if (cur.nonEmpty && bytes + m.length > maxZipBytes) close()
      cur :+= m; bytes += m.length
      if (cur.size >= filesPerZip || bytes >= maxZipBytes) close()
    }
    (closed.result(), cur)
  }

  /** Build one planned zip (executor side): stream its members into a
    * task-attempt-unique temp beside the final name, digesting the zip as
    * it is written, rename it into place, and write its sidecar XMLs
    * (manifest_<zip>.xml, plus <zip>.xml for an end part) STAGED under the
    * temp's suffix: the driver renames them into place after the record
    * commit (the crash tests' post-commit window still sees zero
    * metadata). Returns the zip's one summary line and the suffix — never
    * the manifest body, which is O(members). */
  private def buildZip(p: Planned, sink: String, conf: Configuration): (ZipInfo, String) = {
    val zfs = new Path(sink).getFileSystem(conf)
    val gDir = new Path(sink, p.graph_b64)
    val stage = s".tmpzip${java.util.UUID.randomUUID().toString.take(8)}"
    val tmpPath = new Path(gDir, s"${p.zipName}.zip$stage")
    val manifest = manifestXml(p.members.map(m => (baseName(m.resource), m.md5, m.length, m.lastmod)))
      .getBytes(StandardCharsets.UTF_8)
    val out = new FsWrite.Digesting(FsWrite.create(zfs, tmpPath))
    val zos = new java.util.zip.ZipOutputStream(out)
    zos.setLevel(1) // speed over ratio: patch text compresses well anyway
    zos.putNextEntry(new java.util.zip.ZipEntry("manifest.xml"))
    zos.write(manifest); zos.closeEntry()
    p.members.foreach { m =>
      val src = new Path(m.resource)
      zos.putNextEntry(new java.util.zip.ZipEntry(src.getName))
      val in = src.getFileSystem(conf).open(src)
      try org.apache.commons.io.IOUtils.copy(in, zos) finally in.close()
      zos.closeEntry()
    }
    zos.close()
    FsWrite.replace(zfs, tmpPath, new Path(gDir, s"${p.zipName}.zip"))
    sidecarNames(p.zipName, p.complete).foreach { n =>
      val o = FsWrite.create(zfs, new Path(gDir, n + stage))
      try o.write(manifest) finally o.close()
    }
    (ZipInfo(p.graph_b64, p.zipName, p.complete, p.members.size.toLong, out.bytes, out.md5Hex,
      p.members.map(_.lastmod).max), stage)
  }

  /** Publish the committed patch batches under `patchDir` (`batch_<id>`
    * dirs, each with its write record) into `sinkDir`:
    *
    *  - complete windows of `filesPerZip` resources -> `part_def_N.zip`
    *    (immutable; never rewritten once present);
    *  - the remainder -> `part_end_N.zip`, rebuilt under a new index when its
    *    membership changed or its graph gained a def zip (the old end and
    *    its sidecars are removed — do_publish's evolution);
    *  - every zip embeds `manifest.xml` and gets a `manifest_<zip>.xml`
    *    sidecar; per-graph `resource-dump.xml` + `capability-list.xml`; one
    *    top-level `.well-known/resourcesync` over all graphs.
    *
    * A batch is new when its id is above the `throughBatch` mark the
    * record holds. A run takes the new batches in id order, up to the first
    * without a write record, and windows each graph's new files together
    * with its live end part's members, whose md5s it re-reads from their
    * batches' records: a file rewritten through the writer under the same
    * name changes the end's identity and rebuilds it (J3). The records
    * decide which graphs a run builds: every graph with a new file or a
    * live end. Zip bytes are written by executors, one task per group of
    * planned zips; the driver only plans and writes the small XML set.
    *
    * The publish record `sinkDir/_published` ([[PublishRecord]]), driver
    * record files, is the only source of truth about the sink. Each run
    * that builds zips writes one row per zip — its [[ZipInfo]], its
    * [[Member]]s, the run's sequence number and its batch mark — as its own
    * file, and that file's rename is the run's commit point;
    * `_published/_done` names the last run whose metadata tail finished. A
    * run reads the record on the driver with no Spark job, and keeps the
    * members of each graph's latest end part and of the runs past `_done`
    * only. Every index, J3's end membership, every XML document and
    * every deletion derives from the record: no sink XML or sidecar is read
    * back and no graph dir is listed except the ones this run rewrites.
    * Those are the graphs it built zips into plus the graphs of any
    * recorded run later than `_done` (a crash after the append), whose
    * sidecars are rewritten from the recorded members. A rewritten graph
    * dir keeps exactly its live zips, their sidecars and its dump
    * documents: a zip no commit recorded is never listed, and is deleted
    * there.
    *
    * Returns per-zip summary rows for this run (empty if nothing changed).
    */
  def publish(spark: SparkSession, patchDir: String, sinkDir: String,
              filesPerZip: Int = 1000,
              publishUrl: String = "http://example.com/",
              maxZipBytes: Long = MaxZipBytes,
              maxItemsInList: Int = MaxItemsInList,
              onBuiltForTests: Seq[ZipInfo] => Unit = _ => (),
              onPublishedForTests: () => Unit = () => (),
              metadataThreads: Int = 8): Seq[ZipInfo] = {
    import spark.implicits._
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val f = new Path(sinkDir).getFileSystem(hadoopConf)
    FsWrite.mkdirs(f, new Path(sinkDir))
    val stateDir = new Path(sinkDir, "_published")

    // the record: every zip with its run, the batch mark, `_done`, each
    // graph's latest end part's run and members, and the members of the
    // zips of runs past `_done` (no older member list is kept)
    val rec = timed("publish.readRecord")(PublishRecord.read(f, stateDir))
    val recorded = rec.zips
    val run = rec.run
    val byGraph: Map[String, Seq[ZipInfo]] = recorded.groupMap(_._1.graph_b64)(_._1)
    val lastRun: Map[String, Long] = recorded.groupMapReduce(_._1.graph_b64)(_._2)(math.max)
    // the zips of runs whose metadata tail never finished: the sidecars
    // they staged are rewritten from their recorded members
    val unfinished = recorded.filter(_._2 > rec.done)
    val unfinishedManifests: Map[(String, String), String] = rec.unfinished.map { case (k, ms) =>
      k -> manifestXml(ms.map(m => (baseName(m.resource), m.md5, m.length, m.lastmod)))
    }

    // what to window, from write records only: the new batches' files and
    // the members of each graph's live end part (the end of the graph's
    // latest run), refreshed from their batches' records
    val liveEnds: Map[String, Seq[Member]] = rec.ends.collect {
      case (g, (r, ms)) if r == lastRun(g) => g -> ms
    }
    val pf = new Path(patchDir).getFileSystem(hadoopConf)
    val patchRoot = pf.makeQualified(new Path(patchDir))
    def recordOf(dir: Path): Option[Seq[(String, Member)]] =
      PatchWriter.readRecord(pf, dir).map(_.map(w =>
        w.g_b64 -> Member(s"$dir/g_b64=${w.g_b64}/${w.file}", w.md5, w.bytes, w.lastmod)))
    val (through, candidates) = timed("publish.batchRecords") {
      // the batches past the mark, in id order, up to the first without a
      // record: its files may not all be written yet
      val fresh: Seq[(Long, Seq[(String, Member)])] = PatchWriter.batches(pf, patchRoot)
        .filter(_._1 > rec.mark).iterator
        .map { case (id, dir) => id -> recordOf(dir) }
        .takeWhile(_._2.isDefined).map { case (id, ms) => id -> ms.get }.toSeq
      // an end member its batch's record no longer lists keeps its recorded row
      val current: Map[String, Member] = liveEnds.values.flatten.map(m => batchDirOf(m.resource))
        .toSeq.distinct.flatMap(d => recordOf(new Path(d)).toSeq.flatten)
        .map { case (_, m) => m.resource -> m }.toMap
      val candidates: Map[String, Seq[Member]] =
        (liveEnds.toSeq.flatMap { case (g, ms) => ms.map(m => g -> current.getOrElse(m.resource, m)) } ++
          fresh.flatMap(_._2))
          .groupMap(_._1)(_._2).map { case (g, ms) => g -> ms.sortBy(_.resource) }
      (fresh.lastOption.fold(rec.mark)(_._1), candidates)
    }

    // J3: a graph is rebuilt when it has a complete window or its end
    // window's (basename, md5) set differs from its live end's recorded
    // one — a member whose CONTENT changed under the same name triggers a
    // rebuild, exactly the reference's resource+checksum identity
    // (zipsynchronizer.py:149-156). Zip NAMES are max-index+1 over every
    // zip the graph ever recorded (zipsynchronizer.py:274-281), so a
    // superseded end's name is never reused. They double as the
    // crash-cleanup manifest (zipsynchronizer.py:69-109: on failure delete
    // every provisional artifact of the failed run, then re-raise).
    val planned: Seq[Planned] = candidates.toSeq.sortBy(_._1).flatMap { case (g, ms) =>
      val (defs, end) = windows(ms, filesPerZip, maxZipBytes)
      if (defs.isEmpty && liveEnds.get(g).exists(e => contentIds(e) == contentIds(end))) Nil
      else {
        val zs = byGraph.getOrElse(g, Nil)
        val (defBase, endBase) = (maxIndex(zs, complete = true) + 1, maxIndex(zs, complete = false) + 1)
        defs.zipWithIndex.map { case (w, k) => Planned(g, f"part_def_${defBase + k}%05d", complete = true, w) } ++
          (if (end.nonEmpty) Seq(Planned(g, f"part_end_$endBase%05d", complete = false, end)) else Nil)
      }
    }
    // a zip entry is named by the member's basename; two batches written
    // under one checkpoint repeat `rdf_out_<ckpt>-<serial>` in a graph
    planned.foreach { p =>
      p.members.groupBy(m => baseName(m.resource)).collectFirst { case (base, Seq(a, b, _*)) =>
        throw new IllegalStateException(s"graph ${p.graph_b64}: zip ${p.zipName} would hold " +
          s"two members named $base: ${a.resource} and ${b.resource} (patch batches written " +
          "under the same checkpoint)")
      }
    }

    // crash/retry discipline (zipsynchronizer.py:69-109): zips build first,
    // one task per group of planned zips (no exchange, so adaptive execution
    // has nothing to coalesce); the record append commits BEFORE any
    // destructive step or metadata write, so a crash in between re-runs
    // against consistent state, and the next run finishes this one's
    // metadata tail. Any failure up to and including the append deletes
    // every artifact this run created and re-raises.
    val sink = sinkDir
    val built = try {
      val rows = if (planned.isEmpty) Seq.empty[(ZipInfo, String)]
        else timed("publish.zipBuild")(FsWrite.withTaskConf(spark, hadoopConf) { conf =>
          planned.toDS().mapPartitions(_.map(buildZip(_, sink, conf.value.value))).collect().toSeq
        })
      if (rows.nonEmpty) {
        onBuiltForTests(rows.map(_._1))
        // one row per built zip with its members, in the run's file
        val members = planned.map(p => (p.graph_b64, p.zipName) -> p.members).toMap
        timed("publish.recordAppend")(PublishRecord.append(f, stateDir, rec,
          rows.map { case (z, _) => Recorded(z, members((z.graph_b64, z.zipName)), run, through) }))
      }
      rows
    } catch {
      case e: Throwable =>
        cleanupPlanned(f, sinkDir, planned.map(p => (p.graph_b64, p.zipName)))
        throw e
    }
    if (built.isEmpty && unfinished.isEmpty) return Seq.empty
    // beyond this point zips + record are COMMITTED: a crash below leaves
    // a run later than `_done`, whose graphs the next publish rewrites
    onPublishedForTests()

    val nowIso = PatchWriter.IsoUtc.format(java.time.Instant.now())
    val builtInfos: Seq[ZipInfo] = built.map(_._1)
    val stages: Map[ZipInfo, String] = built.toMap
    val zipsOf: Map[String, Seq[(ZipInfo, Long)]] =
      (recorded ++ builtInfos.map(_ -> run)).groupBy(_._1.graph_b64)
    val rewrite = (builtInfos ++ unfinished.map(_._1)).map(_.graph_b64).distinct

    // per-graph metadata. Graphs are independent (disjoint directories), so
    // the writes run on a small thread pool: serially this driver loop is
    // O(rewritten graphs) of filesystem round-trips, the publish tail's
    // bottleneck once the graph count is large.
    timed("publish.graphMetadata")(forEachParallel(rewrite, metadataThreads) { g =>
      val gDir = new Path(sinkDir, g)
      val gUrl = s"$publishUrl$g/"
      val zips = live(zipsOf(g))
      // sidecars go into place first, so the dump xml below never names a
      // missing one (create_zip write_list=True): this run's staged ones
      // by rename, a crashed run's rewritten from its recorded members
      zips.foreach { z =>
        val names = sidecarNames(z.zipName, z.complete)
        stages.get(z) match {
          case Some(stage) =>
            names.foreach(n => FsWrite.replace(f, new Path(gDir, n + stage), new Path(gDir, n)))
          case None => unfinishedManifests.get((g, z.zipName)).foreach(xml =>
            names.foreach(n => FsWrite.atomic(f, new Path(gDir, n), xml)))
        }
      }
      val dumpDocs = writeDump(f, gDir, gUrl, zips, nowIso, maxItemsInList)
      val keep = zips.flatMap(z => s"${z.zipName}.zip" +: sidecarNames(z.zipName, z.complete))
        .toSet ++ dumpDocs
      val names = f.listStatus(gDir).map(_.getPath.getName)
      if (!names.contains("capability-list.xml"))
        FsWrite.atomic(f, new Path(gDir, "capability-list.xml"),
          capabilityListXml(gUrl, s"$publishUrl.well-known/resourcesync"))
      // superseded end parts, zips no commit recorded, temps a crashed run
      // left and chunk documents this write no longer has (do_publish tail)
      names.filter(n => OwnedPrefixes.exists(n.startsWith) && !keep(n))
        .foreach(n => f.delete(new Path(gDir, n), false))
    })

    // top-level source description over every recorded graph
    FsWrite.atomic(f, new Path(sinkDir, ".well-known/resourcesync"),
      sourceDescriptionXml(zipsOf.keys.toSeq.map(g => s"$publishUrl$g/capability-list.xml")))
    FsWrite.atomic(f, new Path(stateDir, PublishRecord.Done),
      (if (built.nonEmpty) run else unfinished.map(_._2).max).toString)

    builtInfos
  }

  /** Write a graph's resource dump metadata, splitting into a
    * resourcedump-index + ≤`maxItems` chunk documents past the sitemap
    * community item cap (syncdirector.py:53-55). Chunk files are named
    * `resource-dump-%05d.xml`; the top `resource-dump.xml` is either the
    * single urlset (common case) or the `<sitemapindex>` over the chunks.
    * Returns the names written; the caller deletes any other chunk. */
  private def writeDump(f: FileSystem, gDir: Path, gUrl: String,
                        zips: Seq[ZipInfo], at: String, maxItems: Int): Seq[String] = {
    val sorted = zips.sortBy(_.zipName)
    val chunkNames: Seq[String] =
      if (sorted.size <= maxItems) Seq.empty
      else sorted.grouped(maxItems).zipWithIndex.map { case (chunk, i) =>
        val n = f"resource-dump-$i%05d.xml"
        FsWrite.atomic(f, new Path(gDir, n), resourceDumpXml(gUrl, chunk, at))
        n
      }.toSeq
    val top =
      if (chunkNames.isEmpty) resourceDumpXml(gUrl, sorted, at)
      else resourceDumpIndexXml(gUrl, chunkNames, at)
    FsWrite.atomic(f, new Path(gDir, "resource-dump.xml"), top)
    "resource-dump.xml" +: chunkNames
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
}

/** The publish record `sinkDir/_published`: [[graft.RecordFile]]s of
  * [[ZipPublisher.Recorded]] rows. Each run that builds zips writes its
  * rows as `run_<r>`, and that file's rename is the run's commit point.
  * Runs are numbered 0, 1, 2, … with no gap. A run whose number is a
  * multiple of [[WholeEvery]] writes the whole record instead: the files of
  * the runs since the previous such run, byte for byte, then its own rows;
  * it then deletes every older file, so at most [[WholeEvery]] run files
  * exist. A reader lists the dir once and reads from the newest whole run
  * on; a run file missing there fails loudly. [[Done]] names the last run
  * whose metadata tail finished. */
private[graft] object PublishRecord {
  import ZipPublisher.{Member, Recorded, ZipInfo}

  val WholeEvery = 64
  val Done = "_done"
  private val RunFile = "run_(\\d+)".r

  /** The record as a run reads it: every recorded zip with its run, the
    * highest batch mark, the `_done` run (-1 when none), each graph's latest
    * end part with its run and members, the members of the zips of runs
    * past `_done`, the files read (from the newest whole run on) and every
    * file listed. An older end's members are dropped as they are parsed. */
  final case class Read(zips: Seq[(ZipInfo, Long)], mark: Long, done: Long,
                        ends: Map[String, (Long, Seq[Member])],
                        unfinished: Map[(String, String), Seq[Member]],
                        window: Seq[Path], listed: Seq[Path]) {
    /** The next run's number. */
    val run: Long = zips.map(_._2).maxOption.fold(0L)(_ + 1)
  }

  def read(fs: FileSystem, dir: Path): Read = {
    val listed = try fs.listStatus(dir).toSeq.map(_.getPath)
      catch { case _: java.io.FileNotFoundException => Nil }
    val runs: Map[Long, Path] = listed.flatMap(p => p.getName match {
      case RunFile(r) => Some(r.toLong -> p)
      case _ => None
    }).toMap
    if (runs.isEmpty) return Read(Nil, -1L, -1L, Map.empty, Map.empty, Nil, listed)
    val last = runs.keys.max
    val window = (last - last % WholeEvery to last).map(r => runs.getOrElse(r,
      throw new IllegalStateException(s"publish record $dir: ${new Path(dir, s"run_$r")} is " +
        s"missing; the record's runs since the last whole one end at run_$last")))
    val done = listed.find(_.getName == Done).fold(-1L) { p =>
      val in = fs.open(p)
      try new String(in.readAllBytes(), StandardCharsets.UTF_8).trim.toLong finally in.close()
    }
    val zips = Seq.newBuilder[(ZipInfo, Long)]
    var mark = -1L
    val ends = scala.collection.mutable.Map.empty[String, (Long, Seq[Member])]
    val unfinished = Map.newBuilder[(String, String), Seq[Member]]
    window.foreach(RecordFile.foreach(fs, _, classOf[Recorded]) { r =>
      val z = r.zip
      zips += z -> r.run
      mark = math.max(mark, r.throughBatch)
      if (!z.complete && ends.get(z.graph_b64).forall(_._1 <= r.run)) ends(z.graph_b64) = r.run -> r.members
      if (r.run > done) unfinished += (z.graph_b64, z.zipName) -> r.members
    })
    Read(zips.result(), mark, done, ends.toMap, unfinished.result(), window, listed)
  }

  /** Commit the run after `prior` with `rows`, all of that run: its file
    * lands whole or not at all. A whole-record run then deletes every file
    * `prior` listed but `_done`: the runs it holds, and the leftovers of a
    * crash (files an earlier whole run did not get to delete, temps). */
  def append(fs: FileSystem, dir: Path, prior: Read, rows: Seq[Recorded]): Unit = {
    val whole = prior.run % WholeEvery == 0
    FsWrite.atomic(fs, new Path(dir, s"run_${prior.run}")) { out =>
      if (whole) prior.window.foreach { p =>
        val in = fs.open(p)
        try org.apache.commons.io.IOUtils.copy(in, out) finally in.close()
      }
      rows.foreach(r => out.write(RecordFile.line(r)))
    }
    if (whole) prior.listed.filter(_.getName != Done).foreach(fs.delete(_, false))
  }
}

package graft.publish

import graft.{CountingFileSystem, GraftSpec}
import graft.plans.PatchWriter
import graft.sources.{ExpectedKg, PageGen}
import graft.streaming.QuadLogPipeline
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

class PublishSpec extends GraftSpec {
  import spark.implicits._

  test("graph-folder index == the bootstrap's patch graph dirs (A8)") {
    val root = tmpDir("publish3")
    val pipe = new QuadLogPipeline(spark, root, numBuckets = 4,
      canonicalize = false, maxq = 40)
    pipe.bootstrap(PageGen.snapshot(spark, 30, 0), "e1", "00000000000000")
    val idx = pipe.graphIndex
    assert(idx.count() > 1)
    assert(idx.filter(col("firstBatch") =!= 0L).count() == 0)
    // index graphs == patch-dir graphs (reconciliation of the two artifacts)
    val dirGraphs = new java.io.File(s"$root/patches/batch_0").listFiles()
      .filter(_.isDirectory).map(_.getName.stripPrefix("g_b64=")).toSet
    assert(idx.select("g_b64").collect().map(_.getString(0)).toSet == dirGraphs)
  }

  // --- ZipPublisher scenarios (reference test_zipsynchronizer.py:25-94) ---

  private val g64 = java.util.Base64.getEncoder
    .encodeToString("http://graph.example.org/g1".getBytes("UTF-8"))

  /** Write patch file `serial` of graph g1 into `src/batch_<batch>` and
    * re-record the batch. */
  private def writePatch(src: String, serial: Int, batch: Int = 0): Unit = {
    val dir = Paths.get(src, s"batch_$batch", s"g_b64=$g64")
    Files.createDirectories(dir)
    Files.writeString(dir.resolve(f"rdf_out_00000000000000-$serial%014d"),
      Fixture.sampleBody(serial))
    recordBatch(Paths.get(src, s"batch_$batch"))
  }

  /** Write a batch dir's record the way PatchWriter does: one row per
    * patch file under its `g_b64=` dirs, with the file's length, md5, body
    * lines and the time of writing. */
  private def recordBatch(batch: java.nio.file.Path): Unit = {
    val rows = batch.toFile.listFiles().toSeq.filter(_.getName.startsWith("g_b64=")).flatMap { g =>
      g.listFiles().toSeq.filter(_.getName.startsWith("rdf_out_")).map { f =>
        val bytes = Files.readAllBytes(f.toPath)
        val md5 = java.security.MessageDigest.getInstance("MD5").digest(bytes)
          .map("%02x".format(_)).mkString
        val lines = new String(bytes, "UTF-8").split('\n').count(l => l.nonEmpty && !l.startsWith("#"))
        PatchWriter.Written(g.getName.stripPrefix("g_b64="), f.getName, bytes.length.toLong, md5,
          lines.toLong, PatchWriter.IsoUtc.format(java.time.Instant.now()))
      }
    }
    PatchWriter.writeRecord(FileSystem.getLocal(spark.sparkContext.hadoopConfiguration),
      new Path(batch.toUri), rows)
  }
  private object Fixture {
    def sampleBody(i: Int): String =
      s"# at checkpoint  00000000000000\n+ <http://s$i> <http://p> <http://o> <http://graph.example.org/g1> .\n"
  }
  private def exists(p: String): Boolean = new java.io.File(p).exists()

  test("the write record == the binaryFile formulation on a bootstrap-plus-batch tree") {
    val root = tmpDir("publist")
    val n = 60L
    val pipe = new QuadLogPipeline(spark, root, numBuckets = 4,
      canonicalize = false, maxq = 40)
    pipe.bootstrap(PageGen.snapshot(spark, n, 0), "e1", "00000000000000")
    pipe.incremental(1L, "20240102000000",
      spark.createDataset(ExpectedKg.changedIndices(n, 1).map(PageGen.pageFor(_, 1))),
      spark.createDataset(ExpectedKg.deletedIndices(n, 1).map(PageGen.urlFor)))
    val patchDir = s"$root/patches"
    // the oracle: the Spark file source the inventory was first written with
    val files = spark.read.format("binaryFile")
      .option("pathGlobFilter", "rdf_out_*")
      .option("recursiveFileLookup", "true")
      .load(patchDir)
    val oracle = files.select(
        col("path").as("resource"),
        regexp_extract(col("path"), "g_b64=([^/]+)/", 1).as("graph_b64"),
        col("length"),
        md5(col("content")).as("md5"),
        size(filter(split(col("content").cast("string"), "\n"),
          l => l =!= "" && !l.startsWith("#"))).cast("long").as("lines"),
        unix_timestamp(col("modificationTime")).as("mtime"))
      .filter(col("graph_b64") =!= "") // the dump trailer names no graph
      .as[(String, String, Long, String, Long, Long)].collect()
    val fs = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val got = Seq("batch_0", "batch_1").flatMap { b =>
      val dir = fs.makeQualified(new Path(s"$patchDir/$b"))
      PatchWriter.readRecord(fs, dir).get.map(w =>
        (s"$dir/g_b64=${w.g_b64}/${w.file}", w.g_b64, w.bytes, w.md5, w.lines,
          java.time.Instant.parse(w.lastmod).getEpochSecond))
    }
    val (gotRows, want) = (got.map(r => r.copy(_6 = 0L)).toSet, oracle.map(r => r.copy(_6 = 0L)).toSet)
    assert(files.count() == want.size + 1, "the tree holds exactly one trailer")
    assert(new java.io.File(s"$patchDir/batch_1").isDirectory && want.size > 60)
    assert(got.size == want.size && gotRows == want,
      s"extra=${(gotRows -- want).take(2)} missing=${(want -- gotRows).take(2)}")
    // lastmod is the write time: within a second or two of the file's mtime
    val mtime = oracle.map(r => r._1 -> r._6).toMap
    got.foreach(r => assert(math.abs(r._6 - mtime(r._1)) <= 2, s"lastmod of ${r._1}"))
  }

  test("recorded md5s and lengths are the bytes on disk: every patch file, every zip") {
    val root = tmpDir("pubmd5")
    val sink = tmpDir("pubmd5_sink")
    val n = 60L
    val pipe = new QuadLogPipeline(spark, root, numBuckets = 4,
      canonicalize = false, maxq = 40)
    pipe.bootstrap(PageGen.snapshot(spark, n, 0), "e1", "00000000000000")
    assert(ZipPublisher.publish(spark, s"$root/patches", sink, filesPerZip = 3).nonEmpty)
    pipe.incremental(1L, "20240102000000",
      spark.createDataset(ExpectedKg.changedIndices(n, 1).map(PageGen.pageFor(_, 1))),
      spark.createDataset(ExpectedKg.deletedIndices(n, 1).map(PageGen.urlFor)))
    assert(ZipPublisher.publish(spark, s"$root/patches", sink, filesPerZip = 3).nonEmpty)
    def md5Of(p: java.nio.file.Path) = java.security.MessageDigest.getInstance("MD5")
      .digest(Files.readAllBytes(p)).map("%02x".format(_)).mkString
    val fs = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val written = Seq(0, 1).flatMap { b =>
      val dir = Paths.get(root, "patches", s"batch_$b")
      PatchWriter.readRecord(fs, new Path(dir.toUri)).get.map(w => (dir.resolve(s"g_b64=${w.g_b64}/${w.file}"), w))
    }
    assert(written.size > 60)
    written.foreach { case (f, w) =>
      val body = Files.readAllLines(f).toArray.count { case l: String => l.nonEmpty && !l.startsWith("#") }
      assert((w.md5, w.bytes, w.lines) == ((md5Of(f), Files.size(f), body.toLong)), s"record of $f")
    }
    val zips = recorded(sink).map { case (z, _) => (z.graph_b64, z.zipName, z.md5, z.length) }
    assert(zips.length > 20)
    zips.foreach { case (g, z, m, len) =>
      val f = Paths.get(sink, g, s"$z.zip")
      if (Files.exists(f)) assert((m, len) == ((md5Of(f), Files.size(f))), s"record of $f")
    }
  }

  test("publish runs as many Spark jobs for 4 batch dirs as for 1 (no per-dir listing job)") {
    // each batch dir holds 40 graph dirs, over Spark's 32-path threshold
    // for listing on the driver, the shape of a pipeline batch
    def tree(batches: Int): String = {
      val src = tmpDir(s"pubj$batches")
      for (b <- 0 until batches) {
        for (gi <- 0 until 40) {
          val g = java.util.Base64.getEncoder
            .encodeToString(s"http://graph.example.org/j$gi".getBytes("UTF-8"))
          val dir = Paths.get(src, s"batch_$b", s"g_b64=$g")
          Files.createDirectories(dir)
          Files.writeString(dir.resolve(f"rdf_out_$b%014d-00000000000000"),
            s"+ <http://s$b> <http://p> <http://o> <http://graph.example.org/j$gi> .\n")
        }
        recordBatch(Paths.get(src, s"batch_$b"))
      }
      src
    }
    def publishJobs(batches: Int): Int = {
      val src = tree(batches); val sink = tmpDir(s"pubj${batches}_sink")
      var zips = 0
      val n = jobsRunBy { zips = ZipPublisher.publish(spark, src, sink).size }
      assert(zips == 40)
      n
    }
    publishJobs(1) // first-call plan and codegen costs out of the comparison
    val (one, four) = (publishJobs(1), publishJobs(4))
    assert(one == four, s"jobs per publish: $one at 1 batch dir, $four at 4")
  }

  test("a publish whose files all sit in complete zips reads none of their bytes") {
    val src = tmpDir("pubr_src"); val sink = tmpDir("pubr_sink")
    val dir = Paths.get(src, "batch_0", s"g_b64=$g64")
    Files.createDirectories(dir)
    val line = "+ <http://s> <http://p> <http://o> <http://graph.example.org/g1> .\n"
    val body = line * ((1 << 20) / line.length)
    (0 until 4).foreach(i =>
      Files.writeString(dir.resolve(f"rdf_out_00000000000000-$i%014d"), s"$body# $i\n"))
    recordBatch(Paths.get(src, "batch_0"))
    val r1 = ZipPublisher.publish(spark, src, sink, filesPerZip = 2)
    assert(r1.map(_.zipName).sorted == Seq("part_def_00000", "part_def_00001"))
    def bytesRead: Long = scala.jdk.CollectionConverters.ListHasAsScala(
      FileSystem.getAllStatistics).asScala.filter(_.getScheme == "file").map(_.getBytesRead).sum
    val before = bytesRead
    assert(ZipPublisher.publish(spark, src, sink, filesPerZip = 2).isEmpty)
    // what a no-op publish may read: the _published state and sink metadata,
    // kilobytes; one checksum pass over one member would be a megabyte
    val read = bytesRead - before
    assert(read < body.length / 8, s"no-op publish read $read bytes")
  }

  test("two batches under one checkpoint fail loudly, naming graph, zip and both files") {
    val src = tmpDir("pubd_src"); val sink = tmpDir("pubd_sink")
    Seq(0, 1).foreach(b => writePatch(src, 0, batch = b))
    val e = intercept[Exception](ZipPublisher.publish(spark, src, sink, filesPerZip = 10))
    val msg = e.getMessage
    Seq(g64, "part_end_00000", s"batch_0/g_b64=$g64/rdf_out_", s"batch_1/g_b64=$g64/rdf_out_")
      .foreach(part => assert(msg.contains(part), s"'$part' missing from: $msg"))
    // the failed run leaves nothing behind
    val left = Option(new java.io.File(s"$sink/$g64").listFiles()).toSeq.flatten.map(_.getName)
    assert(!left.exists(n => n.endsWith(".zip") || n.contains(".tmpzip")), s"leftovers: $left")
  }


  test("driver boundary is bounded: one summary row per zip, sidecars on disk") {
    // the zip-build collect must return O(zips) summary ROWS — never the
    // manifest bodies (O(members) each; at a 50k-zip publish that was
    // multi-GB driver ingress). Manifest/end sidecar XMLs are written by
    // the distributed pass, so they must exist for EVERY zip built.
    val src = tmpDir("pubb_src"); val sink = tmpDir("pubb_sink")
    (0 until 7).foreach(writePatch(src, _)) // filesPerZip=2 -> 3 def + 1 end
    var builtRows = -1
    val out = ZipPublisher.publish(spark, src, sink, filesPerZip = 2,
      onBuiltForTests = rows => builtRows = rows.size)
    assert(out.size == 4 && builtRows == 4, s"want 4 zip summaries, got $builtRows")
    out.foreach { zi =>
      assert(exists(s"$sink/$g64/manifest_${zi.zipName}.xml"),
        s"missing distributed sidecar for ${zi.zipName}")
      if (!zi.complete) assert(exists(s"$sink/$g64/${zi.zipName}.xml"))
    }
    // the summary row type itself carries no member-level payload
    assert(classOf[ZipPublisher.ZipInfo].getDeclaredFields.length == 7)
  }

  test("zip publish: zero resources publishes nothing (scenario :25-34)") {
    val src = tmpDir("pubz_src"); val sink = tmpDir("pubz_sink")
    val out = ZipPublisher.publish(spark, src, sink, filesPerZip = 3)
    assert(out.isEmpty)
    assert(!exists(s"$sink/.well-known/resourcesync"))
  }

  test("zip publish: complete/end evolution over three runs (scenario :61-94)") {
    val src = tmpDir("pube_src"); val sink = tmpDir("pube_sink")

    // run 1: 2 resources < filesPerZip -> ONE provisional end part
    (0 until 2).foreach(writePatch(src, _))
    val r1 = ZipPublisher.publish(spark, src, sink, filesPerZip = 3)
    assert(r1.map(_.zipName) == Seq("part_end_00000"))
    assert(!r1.head.complete && r1.head.nResources == 2)
    assert(exists(s"$sink/$g64/part_end_00000.zip"))
    assert(exists(s"$sink/$g64/part_end_00000.xml"))
    assert(exists(s"$sink/$g64/manifest_part_end_00000.xml"))
    assert(exists(s"$sink/$g64/resource-dump.xml"))
    assert(exists(s"$sink/$g64/capability-list.xml"))
    assert(exists(s"$sink/.well-known/resourcesync"))

    // the zip itself: embedded manifest.xml + the member resources
    val zf = new java.util.zip.ZipFile(s"$sink/$g64/part_end_00000.zip")
    val names = zf.entries().asIterator().asScala.map(_.getName).toSet
    zf.close()
    assert(names == Set("manifest.xml",
      "rdf_out_00000000000000-00000000000000", "rdf_out_00000000000000-00000000000001"))

    // run 2: unchanged input -> NOTHING republished (J3 identity)
    assert(ZipPublisher.publish(spark, src, sink, filesPerZip = 3).isEmpty)

    // run 3: +2 resources (4 total) -> def part of 3 + NEW end part of 1;
    // the old end part and its sidecars are removed (do_publish tail)
    (2 until 4).foreach(writePatch(src, _, batch = 1))
    val r3 = ZipPublisher.publish(spark, src, sink, filesPerZip = 3)
    assert(r3.map(_.zipName).sorted == Seq("part_def_00000", "part_end_00001"))
    assert(r3.find(_.complete).get.nResources == 3)
    assert(exists(s"$sink/$g64/part_def_00000.zip"))
    assert(exists(s"$sink/$g64/part_end_00001.zip"))
    assert(!exists(s"$sink/$g64/part_end_00000.zip"))
    assert(!exists(s"$sink/$g64/manifest_part_end_00000.xml"))

    // resource-dump.xml lists exactly the live zips (def kept, old end gone)
    val dump = Files.readString(Paths.get(s"$sink/$g64/resource-dump.xml"))
    assert(dump.contains("part_def_00000.zip"))
    assert(dump.contains("part_end_00001.zip"))
    assert(!dump.contains("part_end_00000.zip"))
    assert(dump.contains("capability=\"resourcedump\""))

    // run 4: idempotent again
    assert(ZipPublisher.publish(spark, src, sink, filesPerZip = 3).isEmpty)

    // run 5: +3 -> previous end member + new ones regroup: def_00001 + end_00002
    (4 until 7).foreach(writePatch(src, _, batch = 2))
    val r5 = ZipPublisher.publish(spark, src, sink, filesPerZip = 3)
    assert(r5.map(_.zipName).sorted == Seq("part_def_00001", "part_end_00002"))
    val dump2 = Files.readString(Paths.get(s"$sink/$g64/resource-dump.xml"))
    assert(dump2.contains("part_def_00000.zip") && dump2.contains("part_def_00001.zip"))
    assert(!dump2.contains("part_end_00001.zip") && dump2.contains("part_end_00002.zip"))
  }

  test("byte cap: an oversized member forces an early window cut (<=50MB rule)") {
    val src = tmpDir("pubb_src"); val sink = tmpDir("pubb_sink")
    // 4 small files + 1 big one; cap chosen so big lands alone in its window
    (0 until 2).foreach(writePatch(src, _))
    val dir = Paths.get(src, "batch_0", s"g_b64=$g64")
    Files.writeString(dir.resolve(f"rdf_out_00000000000000-${2}%014d"),
      "x" * 5000) // oversized vs the 1KB cap below
    (3 until 5).foreach(writePatch(src, _))
    val out = ZipPublisher.publish(spark, src, sink, filesPerZip = 100,
      maxZipBytes = 1024)
    // serial order: [0,1] close by bytes? each ~100B -> no; the 5KB file at
    // serial 2 cannot share a window: [0,1] close when 2 won't fit, [2]
    // closes alone (>cap), [3,4] stay the provisional end part
    val names = out.sortBy(_.zipName).map(z => (z.zipName, z.complete, z.nResources))
    assert(names == Seq(("part_def_00000", true, 2L), ("part_def_00001", true, 1L),
      ("part_end_00000", false, 2L)), s"got $names")
  }

  test("J3 with checksums: same-name content change rebuilds the end part") {
    val src = tmpDir("pubc_src"); val sink = tmpDir("pubc_sink")
    (0 until 2).foreach(writePatch(src, _))
    val r1 = ZipPublisher.publish(spark, src, sink, filesPerZip = 10)
    assert(r1.map(_.zipName) == Seq("part_end_00000"))
    // unchanged -> idempotent
    assert(ZipPublisher.publish(spark, src, sink, filesPerZip = 10).isEmpty)
    // same basename, NEW content, the batch re-recorded as its writer
    // would -> md5 differs -> rebuild under bumped index
    Files.writeString(Paths.get(src, "batch_0", s"g_b64=$g64")
      .resolve(f"rdf_out_00000000000000-${1}%014d"),
      Fixture.sampleBody(1) + "+ <http://extra> <http://p> <http://o> <http://graph.example.org/g1> .\n")
    recordBatch(Paths.get(src, "batch_0"))
    val r3 = ZipPublisher.publish(spark, src, sink, filesPerZip = 10)
    assert(r3.map(_.zipName) == Seq("part_end_00001"), s"got ${r3.map(_.zipName)}")
    assert(!exists(s"$sink/$g64/part_end_00000.zip"))
  }

  test("crash after zips, before state: cleanup leaves a sink the next run republishes from") {
    val src = tmpDir("pubx_src"); val sink = tmpDir("pubx_sink")
    (0 until 5).foreach(writePatch(src, _))
    // fail between zip build and the _published state append
    val boom = intercept[RuntimeException] {
      ZipPublisher.publish(spark, src, sink, filesPerZip = 3,
        onBuiltForTests = _ => throw new RuntimeException("injected crash"))
    }
    assert(boom.getMessage.contains("injected crash"))
    // every provisional artifact of the failed run is gone
    val gDir = new java.io.File(s"$sink/$g64")
    val leftover = Option(gDir.listFiles()).map(_.map(_.getName).toSeq).getOrElse(Seq.empty)
    assert(!leftover.exists(n => n.endsWith(".zip") || n.contains(".tmpzip")),
      s"leftover artifacts: $leftover")
    assert(!new java.io.File(s"$sink/_published").exists())
    // the re-run publishes the full, correct set
    val r = ZipPublisher.publish(spark, src, sink, filesPerZip = 3)
    assert(r.map(_.zipName).sorted == Seq("part_def_00000", "part_end_00000"))
    assert(exists(s"$sink/$g64/part_def_00000.zip"))
    assert(exists(s"$sink/$g64/part_end_00000.zip"))
    assertSettled(src, sink, filesPerZip = 3)
  }

  test("crash after state, before metadata: next run reconciles orphaned def zips") {
    val src = tmpDir("pubo_src"); val sink = tmpDir("pubo_sink")
    (0 until 5).foreach(writePatch(src, _))
    // crash AFTER zips + the record committed, BEFORE sidecars/XMLs
    intercept[RuntimeException] {
      ZipPublisher.publish(spark, src, sink, filesPerZip = 3,
        onPublishedForTests = () => throw new RuntimeException("post-state crash"))
    }
    assert(exists(s"$sink/$g64/part_def_00000.zip"))
    assert(exists(s"$sink/_published"))
    assert(!exists(s"$sink/$g64/resource-dump.xml"), "metadata writes never ran")
    assert(!exists(s"$sink/$g64/manifest_part_def_00000.xml"), "sidecars stay staged")
    // the retry builds nothing: the record already holds both zips, and the
    // end's recorded members match the window (J3); it writes the crashed
    // run's metadata, sidecars rewritten from the recorded members
    assert(ZipPublisher.publish(spark, src, sink, filesPerZip = 3).isEmpty)
    assertSettled(src, sink, filesPerZip = 3)
    assert(liveZips(sink, g64) == Set("part_def_00000", "part_end_00000"))
    val (zip, sidecar) = (new java.util.zip.ZipFile(s"$sink/$g64/part_def_00000.zip"),
      Files.readString(Paths.get(s"$sink/$g64/manifest_part_def_00000.xml")))
    try assert(new String(zip.getInputStream(zip.getEntry("manifest.xml")).readAllBytes(),
      "UTF-8") == sidecar, "rewritten sidecar == the zip's own manifest")
    finally zip.close()
  }

  test("crash inside the metadata tail: the run past `_done` is finished by the next publish") {
    val src = tmpDir("pubt_src"); val sink = tmpDir("pubt_sink")
    (0 until 5).foreach(writePatch(src, _))
    assert(ZipPublisher.publish(spark, src, sink, filesPerZip = 3).size == 2)
    // the state a tail that died half way leaves: `_done` not yet written,
    // one sidecar still staged, the dump document not yet replaced
    val gDir = Paths.get(s"$sink/$g64")
    Files.delete(Paths.get(s"$sink/_published/_done"))
    Files.move(gDir.resolve("manifest_part_end_00000.xml"),
      gDir.resolve("manifest_part_end_00000.xml.tmpzip1234abcd"))
    Files.delete(gDir.resolve("resource-dump.xml"))
    assert(ZipPublisher.publish(spark, src, sink, filesPerZip = 3).isEmpty)
    assertSettled(src, sink, filesPerZip = 3)
    assert(liveZips(sink, g64) == Set("part_def_00000", "part_end_00000"))
  }

  test("sitemap-index layering: >max_items_in_list zips split into resourcedump-index + chunks") {
    val src = tmpDir("pubi_src"); val sink = tmpDir("pubi_sink")
    // filesPerZip=1 -> every window complete -> one def zip per patch file
    (0 until 7).foreach(writePatch(src, _))
    val r1 = ZipPublisher.publish(spark, src, sink, filesPerZip = 1,
      maxItemsInList = 3)
    assert(r1.size == 7 && r1.forall(_.complete))
    val top = Files.readString(Paths.get(s"$sink/$g64/resource-dump.xml"))
    assert(top.contains("<sitemapindex"), "7 zips > cap 3 must produce an index")
    assert(top.contains("capability=\"resourcedump\""))
    val chunkNames = (0 until 3).map(i => f"resource-dump-$i%05d.xml")
    chunkNames.foreach(n => assert(exists(s"$sink/$g64/$n"), s"missing chunk $n"))
    assert(!exists(s"$sink/$g64/resource-dump-00003.xml"))
    // consumer-side parse: index -> chunks -> the full zip list, no dups
    val locRx = """<sitemap><loc>[^<]*/([^/<]+\.xml)</loc></sitemap>""".r
    val listedChunks = locRx.findAllMatchIn(top).map(_.group(1)).toSeq
    assert(listedChunks.sorted == chunkNames.sorted)
    val zipRx = """<loc>[^<]*/([^/<]+\.zip)</loc>""".r
    val members = listedChunks.flatMap { n =>
      val xml = Files.readString(Paths.get(s"$sink/$g64/$n"))
      assert(xml.contains("capability=\"resourcedump\"") && !xml.contains("<sitemapindex"))
      val zs = zipRx.findAllMatchIn(xml).map(_.group(1)).toSeq
      assert(zs.size <= 3, s"chunk $n over cap: $zs")
      zs
    }
    assert(members.sorted == (0 until 7).map(i => f"part_def_$i%05d.zip").sorted)

    // evolution: two more files -> 9 zips -> chunks regrow/regroup cleanly
    (7 until 9).foreach(writePatch(src, _, batch = 1))
    val r2 = ZipPublisher.publish(spark, src, sink, filesPerZip = 1,
      maxItemsInList = 3)
    assert(r2.size == 2)
    val top2 = Files.readString(Paths.get(s"$sink/$g64/resource-dump.xml"))
    val members2 = locRx.findAllMatchIn(top2).map(_.group(1)).toSeq.flatMap { n =>
      zipRx.findAllMatchIn(Files.readString(Paths.get(s"$sink/$g64/$n"))).map(_.group(1))
    }
    assert(members2.sorted == (0 until 9).map(i => f"part_def_$i%05d.zip").sorted)
    assert(members2.distinct.size == members2.size, "duplicate entries after evolution")
  }

  test("many-graph fan-out: 500 graphs publish with a bounded, sublinear driver tail") {
    // the parallel per-graph metadata path (forEachParallel over dump/
    // manifest writes) must keep publish time sublinear in graph count —
    // the serial loop was O(graphs) of driver filesystem round-trips.
    def multiGraphPatch(src: String, graph: Int): Unit = {
      val g = java.util.Base64.getEncoder
        .encodeToString(s"http://graph.example.org/many$graph".getBytes("UTF-8"))
      val dir = Paths.get(src, "batch_0", s"g_b64=$g")
      Files.createDirectories(dir)
      Files.writeString(dir.resolve("rdf_out_00000000000000-00000000000000"),
        s"# at checkpoint  00000000000000\n+ <http://s$graph> <http://p> <http://o> <http://graph.example.org/many$graph> .\n")
    }
    // total publish work is inherently Ω(graphs) — every graph genuinely
    // needs its zip, sidecars and dump xml — so the meaningful claim is
    // about the DRIVER METADATA TAIL (everything after the distributed zip
    // build + state commit): with the per-graph work on the thread pool it
    // must beat the same work run serially. Measure exactly that tail
    // (onPublishedForTests marks its start) at metadataThreads = 1 vs 8 on
    // identical 500-graph corpora, sampled serial, parallel, parallel,
    // serial so a host-load swing weighs on both sides alike.
    def timeTail(tag: String, nGraphs: Int, threads: Int): Double = {
      val src = tmpDir(s"pubmany_src_$tag"); val sink = tmpDir(s"pubmany_sink_$tag")
      (0 until nGraphs).foreach(multiGraphPatch(src, _))
      recordBatch(Paths.get(src, "batch_0"))
      val mark = new java.util.concurrent.atomic.AtomicLong
      val r = ZipPublisher.publish(spark, src, sink, filesPerZip = 1,
        onPublishedForTests = () => mark.set(System.nanoTime()),
        metadataThreads = threads)
      val secs = (System.nanoTime() - mark.get) / 1e9
      assert(r.size == nGraphs, s"expected one zip per graph, got ${r.size}")
      val missing = (0 until nGraphs).count { i =>
        val g = java.util.Base64.getEncoder
          .encodeToString(s"http://graph.example.org/many$i".getBytes("UTF-8"))
        !exists(s"$sink/$g/resource-dump.xml")
      }
      assert(missing == 0, s"$missing graphs missing resource-dump.xml")
      secs
    }
    timeTail("warm", 20, 8) // JIT warmup — keep one-time costs out of both samples
    val serial1 = timeTail("serial1", 500, 1)
    val par1 = timeTail("par1", 500, 8)
    val par2 = timeTail("par2", 500, 8)
    val serial2 = timeTail("serial2", 500, 1)
    val serialTail = serial1 + serial2
    val parTail = par1 + par2
    println(f"MANY-GRAPH PUBLISH metadata tail, 2 x 500 graphs: serial ${serial1}%.2f + " +
      f"${serial2}%.2fs, parallel(8) ${par1}%.2f + ${par2}%.2fs (x${serialTail / parTail}%.1f)")
    assert(parTail < serialTail * 0.6,
      f"parallel metadata tail ${parTail}%.2fs not clearly under serial ${serialTail}%.2fs")
  }

  test("crash after state with a PRIOR end part: the older superseded end is purged too") {
    val src = tmpDir("pubp_src"); val sink = tmpDir("pubp_sink")
    // run 1 (clean): 2 files -> part_end_00000 with full metadata
    (0 until 2).foreach(writePatch(src, _))
    assert(ZipPublisher.publish(spark, src, sink, filesPerZip = 3)
      .map(_.zipName) == Seq("part_end_00000"))
    // run 2: 2 more files (4 total -> def_00000 + end_00001) crashes AFTER
    // the record append, BEFORE the metadata tail
    (2 until 4).foreach(writePatch(src, _, batch = 1))
    intercept[RuntimeException] {
      ZipPublisher.publish(spark, src, sink, filesPerZip = 3,
        onPublishedForTests = () => throw new RuntimeException("post-state crash"))
    }
    assert(exists(s"$sink/$g64/part_end_00000.zip"), "old end still present pre-retry")
    assert(exists(s"$sink/$g64/part_end_00001.zip"), "crashed run's end committed")
    // retry: the recorded end_00001 still matches its window, so nothing is
    // rebuilt; the superseded end_00000 goes, on disk and in the dump xml
    assert(ZipPublisher.publish(spark, src, sink, filesPerZip = 3).isEmpty)
    assertSettled(src, sink, filesPerZip = 3)
    assert(liveZips(sink, g64) == Set("part_def_00000", "part_end_00001"))
    Seq("part_end_00000.zip", "part_end_00000.xml", "manifest_part_end_00000.xml")
      .foreach(n => assert(!exists(s"$sink/$g64/$n"), s"$n not purged"))
  }

  test("a zip no commit recorded is never listed, and goes when its graph is rewritten") {
    val gB = java.util.Base64.getEncoder
      .encodeToString("http://graph.example.org/g2".getBytes("UTF-8"))
    val srcA = tmpDir("pubh_srcA"); val srcB = tmpDir("pubh_srcB")
    val sink = tmpDir("pubh_sink")
    (0 until 2).foreach(writePatch(srcA, _))
    assert(ZipPublisher.publish(spark, srcA, sink, filesPerZip = 3)
      .map(_.zipName) == Seq("part_end_00000"))
    // zips copied in by hand under names no run recorded
    val gDir = Paths.get(s"$sink/$g64")
    Seq("part_end_00009.zip", "part_def_00004.zip")
      .foreach(n => Files.copy(gDir.resolve("part_end_00000.zip"), gDir.resolve(n)))
    val dumpBefore = Files.readString(gDir.resolve("resource-dump.xml"))
    // a publish into graph B leaves graph A alone
    // (one sink's batch ids rise across both patch roots)
    val dirB = Paths.get(srcB, "batch_1", s"g_b64=$gB")
    Files.createDirectories(dirB)
    Files.writeString(dirB.resolve(f"rdf_out_00000000000000-${0}%014d"),
      "# at checkpoint  00000000000000\n+ <http://s> <http://p> <http://o> <http://graph.example.org/g2> .\n")
    recordBatch(Paths.get(srcB, "batch_1"))
    assert(ZipPublisher.publish(spark, srcB, sink, filesPerZip = 3).forall(_.graph_b64 == gB))
    assert(Files.readString(gDir.resolve("resource-dump.xml")) == dumpBefore)
    // a publish into graph A rewrites it: listed are the recorded zips only,
    // and the copies are gone
    writePatch(srcA, 2, batch = 2)
    assert(ZipPublisher.publish(spark, srcA, sink, filesPerZip = 3)
      .map(_.zipName) == Seq("part_def_00000"))
    assertSettled(srcA, sink, filesPerZip = 3)
    assert(liveZips(sink, g64) == Set("part_def_00000"))
    assert(!exists(s"$sink/$g64/part_end_00009.zip") && !exists(s"$sink/$g64/part_def_00004.zip"))
    assert(Files.readString(Paths.get(s"$sink/.well-known/resourcesync"))
      .contains(s"$gB/capability-list.xml"))
  }

  test("a publish that builds into 4 of 40 graphs lists no graph dir it does not rewrite") {
    def gOf(i: Int) = java.util.Base64.getEncoder
      .encodeToString(s"http://graph.example.org/c$i".getBytes("UTF-8"))
    val src = tmpDir("pubc40_src"); val local = tmpDir("pubc40_sink")
    def patch(i: Int, serial: Int): Unit = {
      val dir = Paths.get(src, s"batch_$serial", s"g_b64=${gOf(i)}")
      Files.createDirectories(dir)
      Files.writeString(dir.resolve(f"rdf_out_00000000000000-$serial%014d"),
        s"+ <http://s$serial> <http://p> <http://o> <http://graph.example.org/c$i> .\n")
      recordBatch(Paths.get(src, s"batch_$serial"))
    }
    (0 until 40).foreach(patch(_, 0))
    val sink = s"countfs://$local"
    assert(ZipPublisher.publish(spark, src, sink, filesPerZip = 3).size == 40)
    val touched = Seq(3, 11, 22, 37)
    touched.foreach(patch(_, 1))
    var out = Seq.empty[ZipPublisher.ZipInfo]
    val listed = graft.CountingFileSystem.dirsListedDuring {
      out = ZipPublisher.publish(spark, src, sink, filesPerZip = 3)
    }
    assert(out.map(_.graph_b64).toSet == touched.map(gOf).toSet)
    val graphDirs = listed.filter(_.startsWith(local)).map(_.stripPrefix(local))
      .filterNot(_.startsWith("/_published"))
    assert(graphDirs.sorted == touched.map(i => s"/${gOf(i)}").sorted,
      s"listed outside the rewritten graphs: $graphDirs")
  }

  test("under adaptive execution the zip build of 8 zips runs in more than one task") {
    val src = tmpDir("pubq_src"); val sink = tmpDir("pubq_sink")
    (0 until 8).foreach(writePatch(src, _))
    // (scopes of the stage's RDDs, tasks) per completed stage
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(Seq[String], Int)]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        stages.add(e.stageInfo.rddInfos.flatMap(_.scope.map(_.name)) -> e.stageInfo.numTasks)
    }
    spark.sparkContext.addSparkListener(l)
    try withSQLConf("spark.sql.adaptive.enabled" -> "true") {
      // a marker job after the publish: its start is delivered after every
      // stage event of the publish, so the listener has seen them all
      jobsRunBy(assert(ZipPublisher.publish(spark, src, sink, filesPerZip = 1).size == 8))
    } finally spark.sparkContext.removeSparkListener(l)
    // one stage of a publish runs a typed mapPartitions: the zip build
    // (windows are planned on the driver; the record append runs none)
    val typed = scala.jdk.CollectionConverters.CollectionHasAsScala(stages).asScala
      .filter(_._1.contains("MapPartitions")).toSeq
    assert(typed.size == 1, s"stages: $stages")
    assert(typed.last._2 > 1, s"zip build ran in ${typed.last._2} task(s)")
  }

  test("an end absorbed into a def zip never has its name reused") {
    val src = tmpDir("pubn_src"); val sink = tmpDir("pubn_sink")
    (0 until 2).foreach(writePatch(src, _))
    assert(ZipPublisher.publish(spark, src, sink, filesPerZip = 3)
      .map(_.zipName) == Seq("part_end_00000"))
    // the third file closes the window: the end's members move into a def
    // zip, and the graph's latest run has no end part
    writePatch(src, 2, batch = 1)
    assert(ZipPublisher.publish(spark, src, sink, filesPerZip = 3)
      .map(_.zipName) == Seq("part_def_00000"))
    // a new end takes the next index over every end the graph ever had
    writePatch(src, 3, batch = 2)
    assert(ZipPublisher.publish(spark, src, sink, filesPerZip = 3)
      .map(_.zipName) == Seq("part_end_00001"))
    val names = recorded(sink).map(_._1.zipName)
    assert(names.distinct.size == names.size, s"a zip name recorded twice: ${names.sorted}")
    assertSettled(src, sink, filesPerZip = 3)
  }

  /** `n` '+' patch rows in graph `g`, one file each at maxq 1. */
  private def patchRows(g: String, from: Int, n: Int) = (from until from + n).map(i =>
    ("+", s"http://s$i", "http://p", s"http://o$i", graft.model.TermKind.Iri,
      null: String, null: String, g)).toDF("op", "s", "p", "oLex", "oKind", "oDtype", "oLang", "g")

  test("a batch dir without its write record is not published; re-running the batch publishes it") {
    val root = tmpDir("pubrec"); val sink = tmpDir("pubrec_sink")
    val g = "http://graph.example.org/g1"
    def write(b: Int) = PatchWriter.write(spark, patchRows(g, 10 * b, 2), s"$root/batch_$b",
      f"$b%014d", maxq = 1)
    write(0)
    assert(ZipPublisher.publish(spark, root, sink, filesPerZip = 10).map(_.nResources) == Seq(2L))
    // batch 1's files landed, its record did not (a crash in between);
    // batch 2 is complete, but publishing stops at the first incomplete batch
    write(1); write(2)
    assert(Files.deleteIfExists(Paths.get(root, "batch_1", PatchWriter.RecordName)))
    assert(ZipPublisher.publish(spark, root, sink, filesPerZip = 10).isEmpty)
    write(1) // the re-run
    val r = ZipPublisher.publish(spark, root, sink, filesPerZip = 10)
    assert(r.map(z => (z.zipName, z.nResources)) == Seq(("part_end_00001", 6L)), s"got $r")
    assertSettled(root, sink, filesPerZip = 10)
  }

  test("countfs: publishing a batch after 2 or 8 published ones opens only new and end-part files") {
    // each batch writes 4 files into one graph and is published alone; at
    // filesPerZip 3 every third publish leaves no end part, so after 2 and
    // after 8 publishes the graph's end part holds batch k-1's last 2 files
    def run(published: Int): Map[String, Seq[String]] = {
      val local = tmpDir(s"pubcnt$published")
      val (src, sink) = (s"countfs://$local/patches", s"countfs://$local/sink")
      def batch(b: Int): Unit = {
        val dir = Paths.get(s"$local/patches", s"batch_$b", s"g_b64=$g64")
        Files.createDirectories(dir)
        (0 until 4).foreach(i =>
          Files.writeString(dir.resolve(f"rdf_out_$b%014d-$i%014d"), Fixture.sampleBody(i)))
        recordBatch(Paths.get(s"$local/patches", s"batch_$b"))
      }
      (0 until published).foreach { b => batch(b); ZipPublisher.publish(spark, src, sink, filesPerZip = 3) }
      batch(published)
      var out = Seq.empty[ZipPublisher.ZipInfo]
      val calls = CountingFileSystem.pathsDuring {
        out = ZipPublisher.publish(spark, src, sink, filesPerZip = 3)
      }
      assert(out.map(_.zipName).forall(_.startsWith("part_def_")) && out.size == 2, s"built $out")
      calls.map { case (k, ps) => k -> ps.map(_.stripPrefix(local)) }
    }
    val (two, eight) = (run(2), run(8))
    def of(calls: Map[String, Seq[String]], kind: String) = calls.getOrElse(kind, Nil)
    val runFile = "/sink/_published/run_"
    Seq(2 -> two, 8 -> eight).foreach { case (k, calls) =>
      assert(of(calls, CountingFileSystem.DirListing).toSet ==
        Set("/patches", s"/sink/$g64", "/sink/_published"),
        s"listed ${of(calls, CountingFileSystem.DirListing)}")
      val opened = of(calls, CountingFileSystem.Opens)
      val newFiles = (0 until 4).map(i => f"/patches/batch_$k/g_b64=$g64/rdf_out_$k%014d-$i%014d")
      newFiles.foreach(f => assert(opened.count(_ == f) == 1, s"$f opened ${opened.count(_ == f)}x"))
      assert(!opened.exists(_.startsWith(s"/patches/batch_${k - 2}/")),
        s"opened a file of a batch all in def zips: $opened")
      // the record: its done mark and each run file since its last whole
      // run (run 0, as fewer than 64 runs were published), once
      assert(opened.filter(_.startsWith("/sink/")).sorted ==
        ((0 until k).map(r => s"$runFile$r") :+ "/sink/_published/_done").sorted, s"opened $opened")
      assert(opened.forall(p => p.startsWith(s"/patches/batch_$k/") ||
        p.startsWith(s"/patches/batch_${k - 1}/") || p.startsWith("/sink/_published/")),
        s"opened $opened")
    }
    // only the run files read grow with the batches published
    def sizes(calls: Map[String, Seq[String]]) =
      calls.map { case (k, v) => k -> v.count(!_.startsWith(runFile)) }
    assert(sizes(two) == sizes(eight), s"calls after 2: $two\nafter 8: $eight")
  }

  test("publishing one churn batch runs a pinned number of Spark jobs") {
    val root = tmpDir("pubjobs"); val sink = tmpDir("pubjobs_sink")
    val n = 60L
    val pipe = new QuadLogPipeline(spark, root, numBuckets = 4, canonicalize = false, maxq = 40)
    pipe.bootstrap(PageGen.snapshot(spark, n, 0), "e1", "00000000000000")
    ZipPublisher.publish(spark, s"$root/patches", sink, filesPerZip = 3)
    pipe.incremental(1L, "20240102000000",
      spark.createDataset(ExpectedKg.changedIndices(n, 1).map(PageGen.pageFor(_, 1))),
      spark.createDataset(ExpectedKg.deletedIndices(n, 1).map(PageGen.urlFor)))
    var zips = 0
    val jobs = jobsRunBy { zips = ZipPublisher.publish(spark, s"$root/patches", sink, filesPerZip = 3).size }
    assert(zips > 0)
    // the zip build; the record is read and written on the driver
    assert(jobs == 1, s"publish ran $jobs Spark jobs")
  }

  /** Every zip the publish record of `sink` holds, with its run. */
  private def recorded(sink: String): Seq[(ZipPublisher.ZipInfo, Long)] =
    PublishRecord.read(FileSystem.getLocal(spark.sparkContext.hadoopConfiguration),
      new Path(s"$sink/_published")).zips

  /** The recorded live zips of graph `g`: every def zip plus the end part
    * of the graph's latest run. */
  private def liveZips(sink: String, g: String): Set[String] = {
    val rec = recorded(sink).collect { case (z, r) if z.graph_b64 == g => (z.zipName, z.complete, r) }
    val last = rec.map(_._3).max
    rec.collect { case (z, c, r) if c || r == last => z }.toSet
  }

  /** The state every crash window ends in, one publish later: each graph's
    * dump lists exactly its recorded live zips, each with its sidecars; the
    * dir holds no other zip and no temp; a further publish builds nothing. */
  private def assertSettled(src: String, sink: String, filesPerZip: Int): Unit = {
    val graphs = recorded(sink).map(_._1.graph_b64).distinct
    graphs.foreach { g =>
      val live = liveZips(sink, g)
      val dump = Files.readString(Paths.get(s"$sink/$g/resource-dump.xml"))
      assert("""<loc>[^<]*/([^/<]+)\.zip</loc>""".r.findAllMatchIn(dump).map(_.group(1)).toSet == live)
      val files = new java.io.File(s"$sink/$g").list().toSet
      assert(files.filter(_.endsWith(".zip")) == live.map(_ + ".zip"), s"zips on disk: $files")
      live.foreach { z =>
        assert(files(s"manifest_$z.xml"), s"no manifest sidecar for $z")
        if (z.startsWith("part_end_")) assert(files(s"$z.xml"), s"no member list for $z")
      }
      assert(!files.exists(_.contains(".tmp")), s"temps left: $files")
    }
    assert(ZipPublisher.publish(spark, src, sink, filesPerZip = filesPerZip).isEmpty)
  }

  private implicit class IterOps[T](it: java.util.Iterator[T]) {
    def asScala: Iterator[T] = scala.jdk.CollectionConverters.IteratorHasAsScala(it).asScala
  }
}

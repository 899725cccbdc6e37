package graft.publish

import graft.GraftSpec
import graft.sources.{ExpectedKg, PageGen}
import graft.streaming.QuadLogPipeline
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

class PublishSpec extends GraftSpec {
  import spark.implicits._

  test("manifest inventories committed patch files with md5/length/lastmod") {
    val root = tmpDir("publish1")
    val pipe = new QuadLogPipeline(spark, root, numBuckets = 4,
      canonicalize = false, maxq = 40)
    val r = pipe.bootstrap(PageGen.snapshot(spark, 30, 0), "e1", "00000000000000")
    val manifest = ManifestBuilder.build(spark, s"$root/patches/batch_0", filesPerBatch = 3)
    assert(manifest.count() == r.files)
    val row = manifest.orderBy("resource").head()
    assert(row.getAs[String]("md5").length == 32)
    assert(row.getAs[Long]("length") > 0)
    assert(row.getAs[String]("graph_b64").nonEmpty)
    // per-GRAPH window packaging: at most one incomplete batch per graph
    val summary = ManifestBuilder.batchSummary(manifest).collect()
    val incompletePerGraph = summary.filter(!_.getAs[Boolean]("is_complete"))
      .groupBy(_.getAs[String]("graph_b64")).view.mapValues(_.length)
    assert(incompletePerGraph.values.forall(_ <= 1))
  }

  test("end-part republish only when content changed (J3 anti-join)") {
    val root = tmpDir("publish2")
    val pipe = new QuadLogPipeline(spark, root, numBuckets = 4,
      canonicalize = false, maxq = 40)
    pipe.bootstrap(PageGen.snapshot(spark, 30, 0), "e1", "00000000000000")
    val m1 = ManifestBuilder.build(spark, s"$root/patches/batch_0", 3).cache()
    // unchanged republish -> empty delta
    assert(ManifestBuilder.changedEndPart(m1, m1).count() == 0)
    // vs empty old manifest -> the whole provisional window
    val none = m1.limit(0)
    val endSize = m1.filter(!col("is_complete")).count()
    assert(ManifestBuilder.changedEndPart(m1, none).count() == endSize)
  }

  test("per-graph fan-out is driven by the pipeline's graph-folder index (A8)") {
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

    // publishing restricted to ONE indexed graph publishes only that graph
    val one = idx.limit(1)
    val sink = tmpDir("publish3_sink")
    val out = ZipPublisher.publish(spark, s"$root/patches", sink,
      filesPerZip = 1000, graphIndex = Some(one))
    val g = one.select("g_b64").head().getString(0)
    assert(out.nonEmpty && out.forall(_.graph_b64 == g))
  }

  // --- ZipPublisher scenarios (reference test_zipsynchronizer.py:25-94) ---

  private val g64 = java.util.Base64.getEncoder
    .encodeToString("http://graph.example.org/g1".getBytes("UTF-8"))

  private def writePatch(src: String, serial: Int): Unit = {
    val dir = Paths.get(src, s"g_b64=$g64")
    Files.createDirectories(dir)
    Files.writeString(dir.resolve(f"rdf_out_00000000000000-$serial%014d"),
      Fixture.sampleBody(serial))
  }
  private object Fixture {
    def sampleBody(i: Int): String =
      s"# at checkpoint  00000000000000\n+ <http://s$i> <http://p> <http://o> <http://graph.example.org/g1> .\n"
  }
  private def exists(p: String): Boolean = new java.io.File(p).exists()

  test("listed inventory == the binaryFile formulation on a bootstrap-plus-batch tree") {
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
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("graph_b64")).orderBy(col("resource"))
    val inv = files.select(
        col("path").as("resource"),
        regexp_extract(col("path"), "g_b64=([^/]+)/", 1).as("graph_b64"),
        col("length"),
        md5(col("content")).as("md5"),
        date_format(col("modificationTime"), "yyyy-MM-dd'T'HH:mm:ss'Z'").as("lastmod"))
      .filter(col("graph_b64") =!= "") // the dump trailer names no graph
      .withColumn("rn", row_number().over(w))
      .withColumn("batch", floor((col("rn") - 1) / 3).cast("long"))
    val totals = inv.groupBy("graph_b64", "batch").agg(count(lit(1)).as("n_in_batch"))
    val oracle = inv.join(totals, Seq("graph_b64", "batch"))
      .withColumn("is_complete", col("n_in_batch") === 3)
      .drop("rn", "n_in_batch")
    val got = ManifestBuilder.build(spark, patchDir, filesPerBatch = 3)
    assert(got.schema.map(f => (f.name, f.dataType)) == oracle.schema.map(f => (f.name, f.dataType)))
    val (gotRows, want) = (got.collect().toSet, oracle.collect().toSet)
    assert(files.count() == want.size + 1, "the tree holds exactly one trailer")
    assert(new java.io.File(s"$patchDir/batch_1").isDirectory && want.size > 60)
    assert(gotRows == want, s"extra=${(gotRows -- want).take(2)} missing=${(want -- gotRows).take(2)}")
  }

  /** Spark jobs started by `body` on this thread, counted by a listener. A
    * marker job closes the count: the listener bus delivers events in
    * order, so when the marker's start arrives every job of `body` has been
    * seen. */
  private def jobsRunBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val key = "graft.test.jobCount"
    val id = s"count-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val done = scala.concurrent.Promise[Int]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(key)).foreach {
          case `id` => jobs.incrementAndGet()
          case v if v == s"$id-end" => done.trySuccess(jobs.get)
          case _ =>
        }
    }
    sc.addSparkListener(l)
    try {
      sc.setLocalProperty(key, id)
      body
      sc.setLocalProperty(key, s"$id-end")
      sc.parallelize(Seq(1), 1).count()
      scala.concurrent.Await.result(done.future, scala.concurrent.duration.Duration(60, "s"))
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(l)
    }
  }

  test("publish runs as many Spark jobs for 4 batch dirs as for 1 (no per-dir listing job)") {
    // each batch dir holds 40 graph dirs, over Spark's 32-path threshold
    // for listing on the driver, the shape of a pipeline batch
    def tree(batches: Int): String = {
      val src = tmpDir(s"pubj$batches")
      for (b <- 0 until batches; gi <- 0 until 40) {
        val g = java.util.Base64.getEncoder
          .encodeToString(s"http://graph.example.org/j$gi".getBytes("UTF-8"))
        val dir = Paths.get(src, s"batch_$b", s"g_b64=$g")
        Files.createDirectories(dir)
        Files.writeString(dir.resolve(f"rdf_out_$b%014d-00000000000000"),
          s"+ <http://s$b> <http://p> <http://o> <http://graph.example.org/j$gi> .\n")
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
    val dir = Paths.get(src, s"g_b64=$g64")
    Files.createDirectories(dir)
    val line = "+ <http://s> <http://p> <http://o> <http://graph.example.org/g1> .\n"
    val body = line * ((1 << 20) / line.length)
    (0 until 4).foreach(i =>
      Files.writeString(dir.resolve(f"rdf_out_00000000000000-$i%014d"), s"$body# $i\n"))
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
    Seq("batch_0", "batch_1").foreach(b => writePatch(s"$src/$b", 0))
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
    (2 until 4).foreach(writePatch(src, _))
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
    (4 until 7).foreach(writePatch(src, _))
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
    val dir = Paths.get(src, s"g_b64=$g64")
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
    // same basename, NEW content -> md5 differs -> rebuild under bumped index
    Files.writeString(Paths.get(src, s"g_b64=$g64")
      .resolve(f"rdf_out_00000000000000-${1}%014d"),
      Fixture.sampleBody(1) + "+ <http://extra> <http://p> <http://o> <http://graph.example.org/g1> .\n")
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
    // and is idempotent afterwards
    assert(ZipPublisher.publish(spark, src, sink, filesPerZip = 3).isEmpty)
  }

  test("crash after state, before metadata: next run reconciles orphaned def zips") {
    val src = tmpDir("pubo_src"); val sink = tmpDir("pubo_sink")
    (0 until 5).foreach(writePatch(src, _))
    // crash AFTER zips + _published state committed, BEFORE sidecars/XMLs
    intercept[RuntimeException] {
      ZipPublisher.publish(spark, src, sink, filesPerZip = 3,
        onPublishedForTests = () => throw new RuntimeException("post-state crash"))
    }
    assert(exists(s"$sink/$g64/part_def_00000.zip"))
    assert(exists(s"$sink/_published"))
    assert(!exists(s"$sink/$g64/resource-dump.xml"), "metadata writes never ran")
    // the retry republishes the (sidecar-less) end part and must reconcile
    // the committed-but-unlisted def zip into the dump xml + regenerate its
    // manifest sidecar from the zip's embedded copy
    val r = ZipPublisher.publish(spark, src, sink, filesPerZip = 3)
    assert(r.map(_.zipName) == Seq("part_end_00001"), s"got ${r.map(_.zipName)}")
    val dump = Files.readString(Paths.get(s"$sink/$g64/resource-dump.xml"))
    assert(dump.contains("part_def_00000.zip"), "orphaned def zip must be listed")
    assert(dump.contains("part_end_00001.zip"))
    assert(exists(s"$sink/$g64/manifest_part_def_00000.xml"), "sidecar regenerated")
    assert(!exists(s"$sink/$g64/part_end_00000.zip"), "superseded end removed")
    // steady state afterwards
    assert(ZipPublisher.publish(spark, src, sink, filesPerZip = 3).isEmpty)
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
    (7 until 9).foreach(writePatch(src, _))
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
      val dir = Paths.get(src, s"g_b64=$g")
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
    // identical 500-graph corpora.
    def timeTail(tag: String, nGraphs: Int, threads: Int): Double = {
      val src = tmpDir(s"pubmany_src_$tag"); val sink = tmpDir(s"pubmany_sink_$tag")
      (0 until nGraphs).foreach(multiGraphPatch(src, _))
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
    val serialTail = timeTail("serial", 500, 1)
    val parTail = timeTail("par", 500, 8)
    println(f"MANY-GRAPH PUBLISH metadata tail, 500 graphs: serial ${serialTail}%.2fs, " +
      f"parallel(8) ${parTail}%.2fs (x${serialTail / parTail}%.1f)")
    assert(parTail < serialTail * 0.6,
      f"parallel metadata tail ${parTail}%.2fs not clearly under serial ${serialTail}%.2fs")
  }

  test("sitemapindex read tolerates attribute/whitespace variation; empty index fails loudly") {
    val src = tmpDir("publ_src"); val sink = tmpDir("publ_sink")
    (0 until 7).foreach(writePatch(src, _))
    ZipPublisher.publish(spark, src, sink, filesPerZip = 1, maxItemsInList = 3)
    val dumpPath = Paths.get(s"$sink/$g64/resource-dump.xml")
    val top = Files.readString(dumpPath)
    assert(top.contains("<sitemapindex"))
    // reformat the index the way another ResourceSync producer might:
    // attributes on <sitemap>, <loc> split across lines with padding. The
    // old byte-exact regex parsed this as ZERO chunks == an empty dump ->
    // every published zip re-listed as an orphan.
    val varied = top
      .replace("<sitemap><loc>", "<sitemap lastmod=\"2024-01-01\">\n    <loc >\n      ")
      .replace("</loc></sitemap>", "\n    </loc>\n  </sitemap>")
    // (writes below bypass hadoop's LocalFileSystem, so drop its .crc
    // sidecar or readback trips ChecksumException instead of parsing)
    def rawWrite(content: String): Unit = {
      Files.writeString(dumpPath, content)
      Files.deleteIfExists(Paths.get(s"$sink/$g64/.resource-dump.xml.crc"))
    }
    rawWrite(varied)
    // touch the graph with one new patch: the metadata rewrite reads the
    // reformatted index back (readDump) and must still see all 7 prior
    // defs — a misparse-as-empty would re-list them as orphans/dupes
    writePatch(src, 7)
    val r = ZipPublisher.publish(spark, src, sink, filesPerZip = 1,
      maxItemsInList = 3)
    assert(r.size == 1, s"expected exactly the one new zip, got $r")
    val members = {
      val t = Files.readString(dumpPath)
      val locRx = """(?s)<loc\b[^>]*>\s*([^<]+?)\s*</loc>""".r
      locRx.findAllMatchIn(t).map(_.group(1).split('/').last).toSeq.flatMap { n =>
        val zipRx = """<loc>[^<]*/([^/<]+\.zip)</loc>""".r
        zipRx.findAllMatchIn(Files.readString(Paths.get(s"$sink/$g64/$n"))).map(_.group(1))
      }
    }
    assert(members.sorted == (0 until 8).map(i => f"part_def_$i%05d.zip").sorted)
    assert(members.distinct.size == members.size, "duplicates after lenient re-read")

    // a self-declared sitemapindex with no resolvable entries is a loud
    // failure, never silently an empty dump
    rawWrite(
      "<?xml version=\"1.0\"?><sitemapindex xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\"></sitemapindex>")
    writePatch(src, 8)
    val e = intercept[Exception] {
      ZipPublisher.publish(spark, src, sink, filesPerZip = 1, maxItemsInList = 3)
    }
    assert(e.getMessage != null && e.getMessage.contains("sitemapindex"),
      s"wrong failure: $e")
  }

  test("crash after state with a PRIOR end part: the older superseded end is purged too") {
    val src = tmpDir("pubp_src"); val sink = tmpDir("pubp_sink")
    // run 1 (clean): 2 files -> part_end_00000 with full metadata
    (0 until 2).foreach(writePatch(src, _))
    assert(ZipPublisher.publish(spark, src, sink, filesPerZip = 3)
      .map(_.zipName) == Seq("part_end_00000"))
    // run 2: 2 more files (4 total -> def_00000 + end_00001) crashes AFTER
    // the state append, BEFORE the metadata tail — the window the r3 advice
    // flagged: prevEnd on retry only sees the max end index (00001), so
    // part_end_00000 used to leak forever
    (2 until 4).foreach(writePatch(src, _))
    intercept[RuntimeException] {
      ZipPublisher.publish(spark, src, sink, filesPerZip = 3,
        onPublishedForTests = () => throw new RuntimeException("post-state crash"))
    }
    assert(exists(s"$sink/$g64/part_end_00000.zip"), "old end still present pre-retry")
    assert(exists(s"$sink/$g64/part_end_00001.zip"), "crashed run's end committed")
    // retry: rebuilds the end (sidecar-less 00001 fails J3) as 00002 and
    // must purge BOTH superseded ends, on disk and in the dump xml
    val r = ZipPublisher.publish(spark, src, sink, filesPerZip = 3)
    assert(r.exists(z => !z.complete && z.zipName == "part_end_00002"), s"got $r")
    assert(!exists(s"$sink/$g64/part_end_00000.zip"), "PRIOR superseded end purged")
    assert(!exists(s"$sink/$g64/part_end_00001.zip"), "crashed run's end purged")
    assert(!exists(s"$sink/$g64/manifest_part_end_00000.xml"))
    val dump = Files.readString(Paths.get(s"$sink/$g64/resource-dump.xml"))
    assert(dump.contains("part_def_00000.zip") && dump.contains("part_end_00002.zip"))
    assert(!dump.contains("part_end_00000.zip") && !dump.contains("part_end_00001.zip"))
    // steady state afterwards
    assert(ZipPublisher.publish(spark, src, sink, filesPerZip = 3).isEmpty)
  }

  test("sweep repairs a graph the current run does not touch") {
    val gB = java.util.Base64.getEncoder
      .encodeToString("http://graph.example.org/g2".getBytes("UTF-8"))
    val srcA = tmpDir("pubs_srcA"); val srcB = tmpDir("pubs_srcB")
    val sink = tmpDir("pubs_sink")
    // graph A: consistent publish of part_end_00000
    (0 until 2).foreach(writePatch(srcA, _))
    assert(ZipPublisher.publish(spark, srcA, sink, filesPerZip = 3)
      .map(_.zipName) == Seq("part_end_00000"))
    // simulate a past crashed run's leftover: a newer end zip on disk with
    // no sidecars and a dump xml still pointing at the old end
    Files.copy(Paths.get(s"$sink/$g64/part_end_00000.zip"),
      Paths.get(s"$sink/$g64/part_end_00001.zip"))
    // publish graph B only — graph A is untouched by this run
    val dirB = Paths.get(srcB, s"g_b64=$gB")
    Files.createDirectories(dirB)
    Files.writeString(dirB.resolve(f"rdf_out_00000000000000-${0}%014d"),
      "# at checkpoint  00000000000000\n+ <http://s> <http://p> <http://o> <http://graph.example.org/g2> .\n")
    val r = ZipPublisher.publish(spark, srcB, sink, filesPerZip = 3)
    assert(r.nonEmpty && r.forall(_.graph_b64 == gB))
    // the sweep must have reconciled graph A: old end deleted, dump xml
    // repaired to list the surviving (max-index) end part
    assert(!exists(s"$sink/$g64/part_end_00000.zip"), "stale end purged on untouched graph")
    assert(exists(s"$sink/$g64/part_end_00001.zip"))
    val dumpA = Files.readString(Paths.get(s"$sink/$g64/resource-dump.xml"))
    assert(dumpA.contains("part_end_00001.zip") && !dumpA.contains("part_end_00000.zip"))
    assert(exists(s"$sink/$g64/manifest_part_end_00001.xml"), "sidecar regenerated")
    assert(exists(s"$sink/$g64/part_end_00001.xml"), "member-list sidecar regenerated")
  }

  private implicit class IterOps[T](it: java.util.Iterator[T]) {
    def asScala: Iterator[T] = scala.jdk.CollectionConverters.IteratorHasAsScala(it).asScala
  }
}

package graft.streaming

import graft.GraftSpec
import graft.plans.QuadDiff
import graft.publish.ConsumerSpec.consumeSink
import graft.sources.{ExpectedKg, PageGen}
import graft.extract.TextExtractor
import org.apache.spark.sql.functions._

/** End-to-end: bootstrap dump -> incremental batches over evolving page
  * snapshots; verifies the reference's core invariants (SURVEY.md §5):
  * reconciliation (A7), diff correctness (J1), idempotent re-run (T8),
  * resume-from-checkpoint equals single-run output (T2). */
class PipelineSpec extends GraftSpec {
  import spark.implicits._

  private val N = 120L

  test("byte-identical text extraction per url (input_hint invariant)") {
    val pages = PageGen.snapshot(spark, 200, 0)
    val checked = TextExtractor.withExtracted(pages.toDF())
    assert(checked.filter(!col("text_ok")).count() == 0)
    // scala mirror == column form
    val p = PageGen.pageFor(7, 0)
    assert(TextExtractor.extractText(p.html) == p.text)
  }

  test("bootstrap + two incremental batches keep state == full re-extraction") {
    val root = tmpDir("graft_e2e")
    val pipe = new QuadLogPipeline(spark, root, numBuckets = 8, canonicalize = false)
    val s0 = PageGen.snapshot(spark, N, 0)
    val r0 = pipe.bootstrap(s0, epoch = "e1", checkpoint = "00000000000000")
    assert(r0.added > 0 && r0.files > 0)

    // invariant after bootstrap: facts == extraction of snapshot 0
    assert(QuadDiff.diff(pipe.currentQuads, pipe.extractedQuads(s0)).count() == 0)

    for (snap <- 1 to 2) {
      val prev = PageGen.snapshot(spark, N, snap - 1).collect().map(p => p.url -> p).toMap
      val cur = PageGen.snapshot(spark, N, snap)
      val curMap = cur.collect().map(p => p.url -> p).toMap
      val changed = cur.filter(p =>
        !prev.contains(p.url) || prev(p.url).text != p.text)
      val deleted = spark.createDataset(
        prev.keys.filterNot(curMap.contains).toSeq)
      val r = pipe.incremental(snap.toLong, f"2024010${snap + 1}%s000000", changed, deleted)
      // reconciliation: incremental state == full extraction of current snapshot
      val expected = pipe.extractedQuads(cur)
      val drift = QuadDiff.diff(pipe.currentQuads, expected)
      assert(drift.count() == 0, s"state drift at snapshot $snap")
      assert(r.added + r.deleted > 0, "synthetic churn should produce patches")
    }

    // idempotent re-run of an already-committed batch is a no-op (T8)
    val again = pipe.incremental(2L, "20240103000000",
      PageGen.snapshot(spark, N, 2).limit(5), spark.emptyDataset[String])
    assert(again.added == 0 && again.deleted == 0)
  }

  test("patch files parse back and reconcile with lineage counts") {
    val root = tmpDir("graft_patches")
    val pipe = new QuadLogPipeline(spark, root, numBuckets = 4, canonicalize = false, maxq = 50)
    val s0 = PageGen.snapshot(spark, 40, 0)
    val r0 = pipe.bootstrap(s0, "e1", "00000000000000")
    val lines = spark.read.textFile(s"$root/patches/batch_0/*")
    val bodies = lines.filter(l => l.startsWith("+") || l.startsWith("-"))
    assert(bodies.count() == r0.added)
    // headers present, one per FILE, with the reference's exact label
    // padding (vql_print_graph: values start at column 18) and each file's
    // own '# amount' equal to its body-line count, body <= maxq
    assert(lines.filter(_.startsWith("# at checkpoint  ")).count() > 0)
    val fsDir = new java.io.File(s"$root/patches/batch_0")
    fsDir.listFiles().filter(_.isDirectory).flatMap(_.listFiles())
      .filter(f => f.getName.startsWith("rdf_out_")).foreach { f =>
        val ls = scala.io.Source.fromFile(f, "UTF-8").getLines().toVector
        assert(ls(0).startsWith("# at checkpoint  "))
        assert(ls(1).startsWith("# graph          "))
        assert(ls(2).startsWith("# base64         "))
        assert(ls(3).startsWith("# amount         "))
        val amount = ls(3).substring("# amount         ".length).trim.toLong
        val body = ls.drop(4)
        assert(body.forall(l => l.startsWith("+") || l.startsWith("-")))
        assert(body.size == amount && body.size <= 50)
      }
    // every body line round-trips through the parser
    val parsed = bodies.map(l => graft.rdf.NTriplesParser.parseLine(l, "x").isDefined)
    assert(parsed.filter(b => !b).count() == 0)
    // file naming follows rdf_out_<cp14>-<serial14>
    val fs = new java.io.File(s"$root/patches/batch_0")
    val files = fs.listFiles().filter(_.isDirectory).flatMap(_.listFiles())
      .map(_.getName).filter(!_.startsWith("."))
    assert(files.nonEmpty && files.forall(_.matches("rdf_out_00000000000000-\\d{14}")))
    // dump-report trailer file (dump_nquads.sql:58-83 / sample fixture):
    // five '#' lines, values at column 18, quad/file counts reconciled
    val report = new java.io.File(
      s"$root/patches/batch_0/rdf_out_00000000000000-99999999999998")
    assert(report.exists())
    val rl = scala.io.Source.fromFile(report, "UTF-8").getLines().toVector
    assert(rl(0) == "# at checkpoint  00000000000000")
    assert(rl(1).startsWith("# dump started   "))
    assert(rl(2).startsWith("# dump completed "))
    assert(rl(3) == s"# quad count     ${r0.added}")
    assert(rl(4) == s"# file count     ${r0.files}")
    // lineage recorded per bucket with counts
    val lin = pipe.lineage
    assert(lin.filter(col("batchId") === 0).agg(max("added")).head().getLong(0) == r0.added)
  }

  test("incremental reconciliation with canonicalize=true over alias-bearing input") {
    // PageGen corpus now genuinely carries coreferent aliases: hosts ending
    // "3.example.org" reference entities under /alt/. Incremental state must
    // keep reconciling with re-derivation through the SAME persisted map.
    val root = tmpDir("graft_canon_e2e")
    val pipe = new QuadLogPipeline(spark, root, numBuckets = 8, canonicalize = true)
    val s0 = PageGen.snapshot(spark, N, 0)
    pipe.bootstrap(s0, "e1", "00000000000000")
    assert(pipe.canon.latest.contains(0L), "canonical map must be persisted state")
    assert(QuadDiff.diff(pipe.currentQuads, pipe.extractedQuads(s0)).count() == 0)

    for (snap <- 1 to 2) {
      val prev = PageGen.snapshot(spark, N, snap - 1).collect().map(p => p.url -> p).toMap
      val cur = PageGen.snapshot(spark, N, snap)
      val curMap = cur.collect().map(p => p.url -> p).toMap
      val changed = cur.filter(p => !prev.contains(p.url) || prev(p.url).text != p.text)
      val deleted = spark.createDataset(prev.keys.filterNot(curMap.contains).toSeq)
      pipe.incremental(snap.toLong, f"2024010${snap + 1}%s000000", changed, deleted)
      val drift = QuadDiff.diff(pipe.currentQuads, pipe.extractedQuads(cur))
      assert(drift.count() == 0, s"canonicalized state drift at snapshot $snap")
    }
  }

  test("emitted incremental patches == ExpectedKg closed form (incl. cluster merge)") {
    // the oracle rows q_pipeline_incremental / q_pipeline_remap certify this
    // against DuckDB; this spec pins the same agreement inside sbt test at
    // the n=40 corpus where batch 2 carries a natural cluster-merge remap
    import graft.sources.ExpectedKg
    val n = 40L
    val root = tmpDir("graft_expected_incr")
    val pipe = new QuadLogPipeline(spark, root, numBuckets = 8, canonicalize = true)
    pipe.bootstrap(PageGen.snapshot(spark, n, 0), "e1", "00000000000000")
    for (snap <- 1 to 2) {
      val changed = spark.createDataset(
        ExpectedKg.changedIndices(n, snap).map(PageGen.pageFor(_, snap)))
      val deleted = spark.createDataset(
        ExpectedKg.deletedIndices(n, snap).map(PageGen.urlFor))
      pipe.incremental(snap.toLong, f"2024010${snap + 1}%d000000", changed, deleted)
      val emitted = spark.read.option("recursiveFileLookup", "true")
        .textFile(s"$root/patches/batch_$snap")
        .flatMap(l => graft.rdf.NTriplesParser.parseLine(l, "").map(pl =>
          (pl.op, pl.quad.s, pl.quad.p, pl.quad.oLex, pl.quad.oKind,
            pl.quad.oDtype, pl.quad.oLang, pl.quad.g)))
        .collect().toSet
      val expected = ExpectedKg.incrementalPatches(n, snap)
        .map(q => (q.op, q.s, q.p, q.oLex, q.oKind, q.oDtype, q.oLang, q.g)).toSet
      assert(emitted == expected, s"batch $snap patch set != closed form " +
        s"(extra=${(emitted -- expected).take(3)}, missing=${(expected -- emitted).take(3)})")
    }
    // the pinned merge event: batch 2 retracts rows under the superseded
    // /entity/ representative and re-adds them under /alt/
    val b2 = ExpectedKg.incrementalPatches(n, 2)
    val adds = b2.filter(_.op == "+").map(q => (q.s, q.p)).toSet
    assert(b2.exists(q => q.op == "-" && q.s.contains("/entity/") &&
      adds.contains((q.s.replace("/entity/", "/alt/"), q.p))),
      "n=40 batch 2 must contain the cluster-merge remap rows")
  }

  test("canonical cluster merge across batches remaps stored facts via -/+ patches") {
    import graft.model.Page
    val root = tmpDir("graft_remap")
    val pipe = new QuadLogPipeline(spark, root, numBuckets = 4, canonicalize = true)
    def page(host: String, id: String, text: String): Page = {
      val url = s"https://$host.example.org/page/$id"
      Page(url, new java.sql.Timestamp(1704067200000L),
        PageGen.htmlFor(url, text, "en"), text, "en")
    }
    // batch 0: only the /entity/ namespace exists (normal host)
    val p0 = page("host1", "a", "rembrandt painter art museum")
    pipe.bootstrap(spark.createDataset(Seq(p0)), "e1", "00000000000000")
    val entityIri = "http://kg.example.org/entity/Rembrandt"
    val altIri = "http://kg.example.org/alt/Rembrandt"
    assert(pipe.currentQuads.filter(col("oLex") === entityIri).count() > 0)

    // batch 1: an alias site mentions the same entity -> /alt/ IRI appears,
    // LSH merges the two namespaces, and the component min (the /alt/ IRI)
    // supersedes the stored representative -> stored facts remapped
    val p1 = page("host3", "b", "rembrandt painter art museum")
    val r1 = pipe.incremental(1L, "20240102000000",
      spark.createDataset(Seq(p1)), spark.emptyDataset[String])
    assert(r1.added > 0 && r1.deleted > 0, "remap must surface as -/+ patches")
    // plan shape: the remap scan must be BUCKET-PRUNED via contrib's term
    // blooms (the one stored url's bucket, not the full store) — the last
    // store-sized read in any incremental path is gone
    assert(pipe.lastRemapBuckets.exists(bs => bs.nonEmpty && bs.size < pipe.contrib.numBuckets),
      s"remap batch planned an unpruned scan: ${pipe.lastRemapBuckets}")

    val cur = pipe.currentQuads
    assert(cur.filter(col("s") === entityIri || col("oLex") === entityIri).count() == 0,
      "superseded representative must be gone from state")
    assert(cur.filter(col("oLex") === altIri).count() > 0)
    // the patch files of batch 1 record the retraction of the old rep
    val lines = spark.read.textFile(s"$root/patches/batch_1/*")
    assert(lines.filter(l => l.startsWith("-") && l.contains(entityIri)).count() > 0)
    // and the state reconciles with re-derivation through the persisted map
    val all = spark.createDataset(Seq(p0, p1))
    assert(QuadDiff.diff(cur, pipe.extractedQuads(all)).count() == 0)
  }

  test("one-exchange supportCounts == groupBy support aggregation") {
    val root = tmpDir("graft_supp")
    val pipe = new QuadLogPipeline(spark, root, numBuckets = 8, canonicalize = false)
    // adversarial key content: nulls, empties, duplicates across many urls,
    // and near-identical quads differing in one slot
    val rows = (0 until 500).map { i =>
      ("u" + (i % 37), "s" + (i % 11), "p" + (i % 3),
        if (i % 7 == 0) null else "o" + (i % 5),
        i % 2, if (i % 5 == 0) "" else "dt" + (i % 4),
        if (i % 3 == 0) null else "ln", "g" + (i % 6))
    }
    val df = rows.toDF("url", "s", "p", "oLex", "oKind", "oDtype", "oLang", "g")
    val fast = pipe.supportCounts(df)
      .select("s", "p", "oLex", "oKind", "oDtype", "oLang", "g", "support", "bucket")
      .collect().map(_.toSeq).toSet
    val slow = df.groupBy(QuadDiff.quadCols.map(col): _*)
      .agg(count(lit(1)).as("support"))
      .withColumn("bucket", pipe.facts.bucketCol(QuadDiff.quadCols.map(col): _*))
      .select("s", "p", "oLex", "oKind", "oDtype", "oLang", "g", "support", "bucket")
      .collect().map(_.toSeq).toSet
    assert(fast == slow, s"supportCounts diverged: only-fast=${(fast -- slow).take(3)} " +
      s"only-slow=${(slow -- fast).take(3)}")
  }

  test("canon-map reads are bucket-pruned via term-bloom sidecars") {
    import graft.model.Page
    val root = tmpDir("graft_canonprune")
    val pipe = new QuadLogPipeline(spark, root, numBuckets = 8, canonicalize = true)
    def page(host: String, id: String, text: String): Page = {
      val url = s"https://$host.example.org/page/$id"
      Page(url, new java.sql.Timestamp(1704067200000L),
        PageGen.htmlFor(url, text, "en"), text, "en")
    }
    // bootstrap mentions MANY entities -> the canon store's ids spread
    // over its buckets (8 entity + class IRIs over 8 buckets)
    val texts = Seq(
      "web internet browser page", "amsterdam city canal netherlands",
      "rembrandt painter art museum", "mercury planet orbit solar",
      "mercury metal chemical toxic", "spark cluster query shuffle",
      "tulip flower garden bulb", "erasmus scholar philosophy rotterdam")
    val p0 = texts.zipWithIndex.map { case (t, i) => page("host1", s"p$i", t) }
    pipe.bootstrap(spark.createDataset(p0), "e1", "00000000000000")

    // incremental batch touches ONE entity -> its candidate IRI set is two
    // terms (entity + class), so the canon-map read must plan a PROPER
    // SUBSET of the store's buckets (sidecar bloom probe), never the full
    // accumulated map — the map analogue of the remap-scan assertion above
    val p1 = page("host1", "px", "rembrandt painter art museum")
    val r1 = pipe.incremental(1L, "20240102000000",
      spark.createDataset(Seq(p1)), spark.emptyDataset[String])
    assert(pipe.lastCanonBuckets.exists(bs => bs.nonEmpty && bs.size < pipe.canon.numBuckets),
      s"canon batch planned an unpruned map read: ${pipe.lastCanonBuckets}")

    // and the state still reconciles with full re-derivation
    val all = spark.createDataset(p0 :+ p1)
    assert(QuadDiff.diff(pipe.currentQuads, pipe.extractedQuads(all)).count() == 0)

    // persisted-signature contract: every canon store row (bootstrap full
    // write AND the incremental delta) carries a `sig` equal to the
    // write-side expression recomputed from the id — the invariant that
    // lets extendChangedGivenFresh skip the accumulated-domain signature
    // pass (verifiedPairsStored)
    val st = pipe.canon.read().get
    assert(st.columns.contains("sig"), st.columns.mkString(","))
    assert(st.filter(!(col("sig") <=>
        graft.canon.IriCanonicalizer.signatureColumn(col("id")))).isEmpty,
      "stored sig diverges from the write-side recompute")
  }

  test("crash between store finalizes is repaired from the commit marker") {
    val root = tmpDir("graft_crash")
    val pipe = new QuadLogPipeline(spark, root, numBuckets = 4, canonicalize = false)
    val s0 = PageGen.snapshot(spark, 40, 0)
    val s1 = PageGen.snapshot(spark, 40, 1)
    val prev = s0.collect().map(p => p.url -> p).toMap
    val curMap = s1.collect().map(p => p.url -> p).toMap
    val changed = s1.filter(p => !prev.contains(p.url) || prev(p.url).text != p.text)
    val deleted = spark.createDataset(prev.keys.filterNot(curMap.contains).toSeq)
    pipe.bootstrap(s0, "e1", "00000000000000")
    pipe.incremental(1L, "20240102000000", changed, deleted)
    val want = pipe.currentQuads.collect().toSet

    // simulate the crash window: marker written, facts finalized, contrib
    // pointer still at the previous snapshot (the ADVICE scenario)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/contrib/_latest"), "0")
    // raw write bypasses Hadoop's checksum sidecar — drop the stale .crc
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$root/contrib/._latest.crc"))
    val resumed = new QuadLogPipeline(spark, root, numBuckets = 4, canonicalize = false)
    // recovery runs at batch entry; the re-run is then a committed no-op
    val again = resumed.incremental(1L, "20240102000000", changed, deleted)
    assert(again.added == 0 && again.deleted == 0)
    assert(resumed.contrib.latest.contains(1L), "contrib pointer must be replayed")
    assert(resumed.currentQuads.collect().toSet == want)
    // and contrib state matches a fresh derivation (not one batch stale)
    assert(QuadDiff.diff(resumed.currentQuads,
      resumed.extractedQuads(s1)).count() == 0)
  }

  test("degenerate batch shapes: no-op, pure-delete, pure-add all reconcile") {
    val root = tmpDir("graft_soak")
    val pipe = new QuadLogPipeline(spark, root, numBuckets = 4, canonicalize = true)
    val s0 = PageGen.snapshot(spark, 40, 0)
    pipe.bootstrap(s0, "e1", "00000000000000")

    // batch 1: NOTHING changed — must commit as an explicit empty batch
    val r1 = pipe.incremental(1L, "20240102000000",
      s0.limit(0), spark.emptyDataset[String])
    assert(r1.added == 0 && r1.deleted == 0)
    assert(pipe.facts.latest.contains(1L), "empty batches still advance the store")
    assert(QuadDiff.diff(pipe.currentQuads, pipe.extractedQuads(s0)).count() == 0)

    // batch 2: PURE DELETE of a third of the corpus
    val dropped = s0.collect().map(_.url).sorted.take(13).toSeq
    val kept = s0.filter(p => !dropped.contains(p.url))
    val r2 = pipe.incremental(2L, "20240103000000",
      s0.limit(0), spark.createDataset(dropped))
    assert(r2.deleted > 0 && r2.added == 0)
    assert(QuadDiff.diff(pipe.currentQuads, pipe.extractedQuads(kept)).count() == 0)

    // batch 3: PURE ADD of brand-new pages (urls outside the snapshot)
    val added = PageGen.snapshot(spark, 60, 0)
      .filter(p => p.url.substring(p.url.lastIndexOf('/') + 1).toLong >= 40L)
    val r3 = pipe.incremental(3L, "20240104000000", added, spark.emptyDataset[String])
    assert(r3.added > 0)
    val want = kept.union(added)
    assert(QuadDiff.diff(pipe.currentQuads, pipe.extractedQuads(want)).count() == 0)

    // idempotent re-run of the final batch
    val again = pipe.incremental(3L, "20240104000000", added, spark.emptyDataset[String])
    assert(again.added == 0 && again.deleted == 0)
  }

  test("canon store moves with the commit marker (three-store crash replay)") {
    import graft.model.Page
    val root = tmpDir("graft_canon_crash")
    val pipe = new QuadLogPipeline(spark, root, numBuckets = 4, canonicalize = true)
    def page(host: String, id: String, text: String): Page = {
      val url = s"https://$host.example.org/page/$id"
      Page(url, new java.sql.Timestamp(1704067200000L),
        PageGen.htmlFor(url, text, "en"), text, "en")
    }
    val p0 = page("host1", "a", "rembrandt painter art museum")
    val p1 = page("host3", "b", "rembrandt painter art museum") // alias site
    pipe.bootstrap(spark.createDataset(Seq(p0)), "e1", "00000000000000")
    pipe.incremental(1L, "20240102000000",
      spark.createDataset(Seq(p1)), spark.emptyDataset[String])
    val want = pipe.currentQuads.collect().toSet
    assert(pipe.canon.latest.contains(1L))

    // crash window: marker written (it is), NO store finalized — roll all
    // three pointers back; the staged snap_1 data + manifests stay on disk
    for (store <- Seq("canon", "facts", "contrib")) {
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$root/$store/_latest"), "0")
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(s"$root/$store/._latest.crc"))
    }
    val resumed = new QuadLogPipeline(spark, root, numBuckets = 4, canonicalize = true)
    val again = resumed.incremental(1L, "20240102000000",
      spark.createDataset(Seq(p1)), spark.emptyDataset[String])
    assert(again.added == 0 && again.deleted == 0, "replay then no-op")
    assert(resumed.canon.latest.contains(1L), "canon pointer must replay with the marker")
    assert(resumed.currentQuads.collect().toSet == want)
    // facts state and the replayed canonical map still reconcile
    assert(QuadDiff.diff(resumed.currentQuads,
      resumed.extractedQuads(spark.createDataset(Seq(p0, p1)))).count() == 0)
  }

  test("epoch reset (T6): new epoch wipes and re-derives downstream state") {
    val root = tmpDir("graft_epoch")
    val n = 30L
    val pipe = new QuadLogPipeline(spark, root, numBuckets = 4, canonicalize = false)
    pipe.bootstrap(PageGen.snapshot(spark, n, 0), "epoch-1", "00000000000000")
    assert(pipe.facts.epoch.contains("epoch-1"))
    for (snap <- 1 to 2) pipe.incremental(snap.toLong, f"2024010${snap + 1}%d000000",
      spark.createDataset(ExpectedKg.changedIndices(n, snap).map(PageGen.pageFor(_, snap))),
      spark.createDataset(ExpectedKg.deletedIndices(n, snap).map(PageGen.urlFor)))
    val s1 = PageGen.snapshot(spark, n, 1)
    pipe.bootstrap(s1, "epoch-2", "00000000000001") // cascading reset
    assert(pipe.facts.epoch.contains("epoch-2"))
    assert(QuadDiff.diff(pipe.currentQuads, pipe.extractedQuads(s1)).count() == 0)
    // the reset takes epoch-1's patch batches with it: a publish into a
    // fresh sink serves the new dump alone, not epoch-1's batch 2 on top
    Seq(1, 2).foreach(b => assert(!new java.io.File(s"$root/patches/batch_$b").exists(),
      s"epoch-1's patch batch $b is left"))
    val sink = tmpDir("graft_epoch_sink")
    graft.publish.ZipPublisher.publish(spark, s"$root/patches", sink, filesPerZip = 5)
    assert(consumeSink(sink) == pipe.currentQuads.as[graft.model.Quad].collect().toSet)
    assert(!new java.io.File(s"$root/graphidx").exists())
  }

  test("graphIndex is (g, min batch) over the patch files' graph headers") {
    val root = tmpDir("graft_graph_index")
    val pipe = new QuadLogPipeline(spark, root, numBuckets = 4, canonicalize = true, maxq = 40)
    val s0 = PageGen.snapshot(spark, 10, 0)
    pipe.bootstrap(s0, "e1", "00000000000000")
    def graphOf(url: String) = url.substring(0, url.indexOf('/', "https://".length))
    val boot = s0.collect().sortBy(_.url)
    val known = boot.map(p => graphOf(p.url)).toSet
    // batch 1 re-sends two bootstrap pages and adds the pages of two hosts
    // the bootstrap lacked; batch 2 adds one more such host
    val newPages = (10L until 500L).filterNot(i => known(graphOf(PageGen.urlFor(i))))
      .groupBy(i => graphOf(PageGen.urlFor(i))).values.map(_.min).toSeq.sorted.take(3)
    assert(newPages.size == 3)
    pipe.incremental(1L, "20240102000000",
      spark.createDataset(boot.take(2).toSeq ++ newPages.take(2).map(PageGen.pageFor(_, 0))),
      spark.emptyDataset[String])
    pipe.incremental(2L, "20240103000000",
      spark.createDataset(newPages.drop(2).map(PageGen.pageFor(_, 0))), spark.emptyDataset[String])

    var idx: org.apache.spark.sql.DataFrame = null
    assert(jobsRunBy { idx = pipe.graphIndex } == 0, "graphIndex started a Spark job")
    val rows = idx.as[(String, String, Long)].collect().toSet
    // every patch file's `# graph` header, with its graph dir and batch
    val onDisk = for {
      b <- new java.io.File(s"$root/patches").listFiles().toSeq
      g <- b.listFiles().toSeq if g.isDirectory
      f <- g.listFiles().toSeq if f.getName.startsWith("rdf_out_")
    } yield {
      val header = java.nio.file.Files.readAllLines(f.toPath).get(1)
      assert(header.startsWith("# graph          "), s"$f: $header")
      (header.stripPrefix("# graph          "), g.getName.stripPrefix("g_b64="),
        b.getName.stripPrefix("batch_").toLong)
    }
    val want = onDisk.groupMapReduce(t => (t._1, t._2))(_._3)(math.min)
      .map { case ((g, b64), batch) => (g, b64, batch) }.toSet
    assert(rows == want)
    newPages.zip(Seq(1L, 1L, 2L)).foreach { case (i, batch) =>
      val g = graphOf(PageGen.urlFor(i))
      assert(rows.exists(r => r._1 == g && r._3 == batch), s"$g: $rows")
    }
    assert(!new java.io.File(s"$root/graphidx").exists())
  }

  test("bootstrap resets lineage with the stores: the watermark is the new epoch's") {
    val root = tmpDir("graft_epoch_lineage")
    val pipe = new QuadLogPipeline(spark, root, numBuckets = 4, canonicalize = false)
    pipe.bootstrap(PageGen.snapshot(spark, 30, 2), "epoch-1", "00000000000000")
    // the new epoch's snapshot is the OLDER one, so a leftover epoch-1 row
    // would raise the watermark past it
    val s0 = PageGen.snapshot(spark, 30, 0)
    pipe.bootstrap(s0, "epoch-2", "00000000000001")
    assert(pipe.lineage.select("epoch").distinct().as[String].collect().toSeq == Seq("epoch-2"))
    assert(pipe.watermark.contains(s0.agg(max("warc_ts")).head().getTimestamp(0)))
  }

  test("a batch re-run after a crash between its lineage and its marker counts once") {
    val root = tmpDir("graft_lineage_rerun")
    val n = 40L
    val changed = spark.createDataset(ExpectedKg.changedIndices(n, 1).map(PageGen.pageFor(_, 1)))
    val deleted = spark.createDataset(ExpectedKg.deletedIndices(n, 1).map(PageGen.urlFor))
    def pipeline(r: String) = {
      val p = new QuadLogPipeline(spark, r, numBuckets = 4, canonicalize = false)
      p.bootstrap(PageGen.snapshot(spark, n, 0), "e1", "00000000000000"); p
    }
    // the single run
    val clean = pipeline(tmpDir("graft_lineage_once"))
    clean.incremental(1L, "20240102000000", changed, deleted)
    // the crash: once the batch reads its pages (after its recovery check),
    // a non-empty directory occupies the commit marker's path, so the
    // marker's rename fails after the lineage write
    val pipe = pipeline(root)
    val occupant = s"$root/_commit/occupied"
    val occupying = changed.map { p =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(occupant)); p
    }
    intercept[Exception](pipe.incremental(1L, "20240102000000", occupying, deleted))
    assert(pipe.lineage.filter(col("batchId") === 1L).count() > 0, "the crash came before the lineage write")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$root/_commit"))
    pipe.incremental(1L, "20240102000000", changed, deleted)
    def perPartition(p: QuadLogPipeline) = p.lineage.filter(col("batchId") === 1L)
      .groupBy("partitionId").agg(count(lit(1)).as("n"), sum("added").as("added"))
      .as[(Int, Long, Long)].collect().sortBy(_._1).toSeq
    val rows = perPartition(pipe)
    assert(rows.nonEmpty && rows.forall(_._2 == 1L), s"(partitionId, rows, added): $rows")
    assert(rows == perPartition(clean))
    assert(pipe.lineage.agg(sum("added")).head() == clean.lineage.agg(sum("added")).head())
    // the lineage and its watermark are read on the driver
    assert(jobsRunBy { pipe.lineage; pipe.watermark } == 0)
  }

  test("an INVALID bootstrap dump leaves no epoch, so incremental refuses to run") {
    import graft.model.Page
    val root = tmpDir("graft_torn")
    val pipe = new QuadLogPipeline(spark, root, numBuckets = 4, canonicalize = false)
    // warc_ts is evaluated anew by every query, so the end-of-dump
    // fingerprint re-check always sees a snapshot that changed
    val drifting = PageGen.snapshot(spark, 30, 0)
      .withColumn("warc_ts", current_timestamp()).as[Page]
    val e = intercept[RuntimeException](pipe.bootstrap(drifting, "e1", "00000000000000"))
    assert(e.getMessage.contains("INVALID"), e.getMessage)
    assert(pipe.facts.epoch.isEmpty)
    val e2 = intercept[RuntimeException](pipe.incremental(1L, "20240102000000",
      PageGen.snapshot(spark, 30, 1).limit(5), spark.emptyDataset[String]))
    assert(e2.getMessage.contains("bootstrap first"), e2.getMessage)
  }

  test("resume: re-running from committed state equals single-run output") {
    val rootA = tmpDir("graft_resumeA")
    val rootB = tmpDir("graft_resumeB")
    val a = new QuadLogPipeline(spark, rootA, numBuckets = 4, canonicalize = false)
    val b = new QuadLogPipeline(spark, rootB, numBuckets = 4, canonicalize = false)
    val s0 = PageGen.snapshot(spark, 60, 0)
    val s1 = PageGen.snapshot(spark, 60, 1)
    val prev = s0.collect().map(p => p.url -> p).toMap
    val curMap = s1.collect().map(p => p.url -> p).toMap
    val changed = s1.filter(p => !prev.contains(p.url) || prev(p.url).text != p.text)
    val deleted = spark.createDataset(prev.keys.filterNot(curMap.contains).toSeq)

    a.bootstrap(s0, "e1", "00000000000000")
    a.incremental(1, "20240102000000", changed, deleted)

    b.bootstrap(s0, "e1", "00000000000000")
    // simulate crash-and-resume: a NEW pipeline object over the same root
    val b2 = new QuadLogPipeline(spark, rootB, numBuckets = 4, canonicalize = false)
    b2.incremental(1, "20240102000000", changed, deleted)

    assert(QuadDiff.diff(a.currentQuads, b2.currentQuads).count() == 0)
  }

  test("deleting a page whose language is null retracts its null-term quad") {
    // such a page's dc:terms/language quad has null oLex and oLang: every
    // join on quad identity (the support transition, the store fold) must
    // be null-safe, or its '-' line and its retraction from state are lost
    import graft.model.Page
    val root = tmpDir("graft_nullterm")
    val pipe = new QuadLogPipeline(spark, root, numBuckets = 4, canonicalize = false)
    def page(id: String, lang: String): Page = {
      val url = s"https://host1.example.org/page/$id"
      Page(url, new java.sql.Timestamp(1704067200000L),
        PageGen.htmlFor(url, "plain words", lang), "plain words", lang)
    }
    val (pNull, pEn) = (page("n", null), page("e", "en"))
    pipe.bootstrap(spark.createDataset(Seq(pNull, pEn)), "e1", "00000000000000")
    val kept = spark.createDataset(Seq(pEn))
    val wantDeleted = QuadDiff.diff(pipe.extractedQuads(spark.createDataset(Seq(pNull, pEn))),
      pipe.extractedQuads(kept))
    assert(wantDeleted.filter(col("op") === "-" && col("oLex").isNull).count() == 1)
    val r = pipe.incremental(1L, "20240102000000",
      spark.emptyDataset[Page], spark.createDataset(Seq(pNull.url)))
    assert(r.added == 0 && r.deleted == wantDeleted.count(),
      s"added=${r.added} deleted=${r.deleted}, want 0 and ${wantDeleted.count()}")
    val body = spark.read.textFile(s"$root/patches/batch_1/*")
      .filter(l => l.startsWith("+") || l.startsWith("-")).count()
    assert(body == r.added + r.deleted)
    val want = pipe.extractedQuads(kept)
    assert(pipe.currentQuads.count() == want.count())
    assert(QuadDiff.diff(pipe.currentQuads, want).count() == 0)
  }

  test("a churn batch with no fresh IRI runs a bounded number of Spark jobs") {
    // The batch re-sends known pages and deletes others, so it brings no
    // fresh IRI: it reads no whole canon map, checkpoints no empty canon
    // delta or remap set, plans its store reads without inference jobs,
    // writes its deltas in as many tasks as cores, builds contrib's term
    // sidecar in its write tasks (no read-back job), keeps no graph index
    // (it is derived from the write records) and, with no changed canon
    // row, stages nothing in the canon store. It counts no row the driver
    // already has: the IRI count rides on the IRI checkpoint, one collect
    // feeds the canon prune's buckets and bloom, one action each gives the
    // view's count and triviality and the fresh-id test, the delta's bucket
    // tally materializes its checkpoint, and the op tallies come from the
    // patch writer's count pass. Measured here: 41 jobs; the same batch ran
    // 70 before those cuts, 54 with the read-back, 53 with canon's
    // empty-delta check, 52 with those counts and 44 with the graph-index
    // store's anti-join and count (adaptive execution's map-stage jobs
    // count too).
    val root = tmpDir("graft_jobs")
    val pipe = new QuadLogPipeline(spark, root, numBuckets = 16, canonicalize = true)
    val s0 = PageGen.snapshot(spark, N, 0)
    pipe.bootstrap(s0, "e1", "00000000000000")
    val urls = s0.collect().map(_.url).sorted
    val (resent, dropped) = (urls.take(10).toSet, urls.slice(10, 20).toSeq)
    val jobs = jobsRunBy {
      pipe.incremental(1L, "20240102000000",
        s0.filter(p => resent.contains(p.url)), spark.createDataset(dropped))
    }
    assert(!new java.io.File(s"$root/canon/snap_${f"${1L}%014d"}").exists(),
      "the batch brought a fresh IRI: the canon store took a data delta")
    assert(jobs <= 41, s"a churn batch ran $jobs Spark jobs")
    val kept = s0.filter(p => !dropped.contains(p.url))
    assert(QuadDiff.diff(pipe.currentQuads, pipe.extractedQuads(kept)).count() == 0)
  }
}

package graft.streaming

import graft.GraftSpec
import graft.plans.QuadDiff
import graft.sources.PageGen
import org.apache.spark.sql.functions._

/** Streaming ingestion must land in exactly the state the equivalent batch
  * sequence produces (same engine under foreachBatch). */
class StreamSpec extends GraftSpec {
  import spark.implicits._

  test("availableNow stream of page drops == batch incremental sequence") {
    val root = tmpDir("stream_root")
    val inDir = tmpDir("stream_in")
    val cpDir = tmpDir("stream_cp")
    val pipe = new QuadLogPipeline(spark, root, numBuckets = 4, canonicalize = false)

    val s0 = PageGen.snapshot(spark, 60, 0)
    pipe.bootstrap(s0, "e1", "00000000000000")

    // snapshot 1 changes as a CDC-style drop: changed pages + tombstones
    val s1 = PageGen.snapshot(spark, 60, 1)
    val prev = s0.collect().map(p => p.url -> p).toMap
    val curMap = s1.collect().map(p => p.url -> p).toMap
    val changed = s1.filter(p => !prev.contains(p.url) || prev(p.url).text != p.text)
    val tombstones = prev.keys.filterNot(curMap.contains).toSeq
      .map(u => graft.model.Page(u, new java.sql.Timestamp(0), Array.emptyByteArray, null, null))
    changed.toDF().unionByName(spark.createDataset(tombstones).toDF())
      .coalesce(1).write.mode("append").parquet(inDir)

    val n = new StreamRunner(spark, pipe).runAvailableNow(inDir, cpDir, startBatchId = 1)
    assert(n >= 1)

    // state must equal the full re-extraction of snapshot 1
    val expected = pipe.extractedQuads(s1)
    assert(QuadDiff.diff(pipe.currentQuads, expected).count() == 0)

    // and the whole streamed changelog publishes end-to-end: zips + the
    // ResourceSync metadata set over every committed batch dir, each
    // published graph one of the pipeline's graph index (three reference
    // stages glued)
    val sink = tmpDir("stream_sink")
    val zips = graft.publish.ZipPublisher.publish(spark, s"$root/patches", sink,
      filesPerZip = 5)
    assert(zips.nonEmpty)
    assert(new java.io.File(s"$sink/.well-known/resourcesync").exists())
    val pubGraphs = zips.map(_.graph_b64).toSet
    val idxGraphs = pipe.graphIndex.select("g_b64").collect().map(_.getString(0)).toSet
    assert(pubGraphs.subsetOf(idxGraphs))
    // reconciliation (A7): published resources == committed patch files
    val published = zips.map(_.nResources).sum
    val onDisk = new java.io.File(s"$root/patches").listFiles().flatMap(b =>
      b.listFiles().filter(_.isDirectory).flatMap(_.listFiles()))
      .count(f => f.getName.startsWith("rdf_out_")) // not hadoop .crc sidecars
    assert(published == onDisk)
  }

  test("stream restart resumes from the checkpoint: batch ids continue, no reprocessing") {
    val root = tmpDir("rstream_root")
    val inDir = tmpDir("rstream_in")
    val cpDir = tmpDir("rstream_cp")
    val pipe = new QuadLogPipeline(spark, root, numBuckets = 4, canonicalize = false)
    val n = 60L
    pipe.bootstrap(PageGen.snapshot(spark, n, 0), "e1", "00000000000000")

    def drop(snap: Int): Unit = {
      val prev = PageGen.snapshot(spark, n, snap - 1).collect().map(p => p.url -> p).toMap
      val cur = PageGen.snapshot(spark, n, snap)
      val curMap = cur.collect().map(p => p.url -> p).toMap
      val changed = cur.filter(p => !prev.contains(p.url) || prev(p.url).text != p.text)
      val tombstones = prev.keys.filterNot(curMap.contains).toSeq
        .map(u => graft.model.Page(u, new java.sql.Timestamp(0), Array.emptyByteArray, null, null))
      changed.toDF().unionByName(spark.createDataset(tombstones).toDF())
        .coalesce(1).write.mode("append").parquet(inDir)
    }

    // run 1: first drop, then the query STOPS (AvailableNow)
    drop(1)
    val runner = new StreamRunner(spark, pipe)
    assert(runner.runAvailableNow(inDir, cpDir, startBatchId = 1) >= 1)
    val factsAfter1 = pipe.facts.latest.get

    // restart with the SAME checkpoint dir after a second drop: the file
    // source must skip run 1's files (no reprocessing — the engine would
    // no-op them as already-committed batch ids, but the checkpoint makes
    // the skip structural) and continue the micro-batch id sequence
    drop(2)
    assert(runner.runAvailableNow(inDir, cpDir, startBatchId = 1) >= 1)
    assert(pipe.facts.latest.get > factsAfter1, "restart must commit NEW batches")
    val expected = pipe.extractedQuads(PageGen.snapshot(spark, n, 2))
    assert(QuadDiff.diff(pipe.currentQuads, expected).count() == 0)
  }

  test("continuous (RUN_INTERVAL) trigger: two staggered drops -> two commits, same state") {
    val root = tmpDir("cstream_root")
    val inDir = tmpDir("cstream_in")
    val cpDir = tmpDir("cstream_cp")
    val pipe = new QuadLogPipeline(spark, root, numBuckets = 4, canonicalize = false)
    val n = 60L
    pipe.bootstrap(PageGen.snapshot(spark, n, 0), "e1", "00000000000000")

    def dropDelta(snap: Int): Unit = {
      val prev = PageGen.snapshot(spark, n, snap - 1).collect().map(p => p.url -> p).toMap
      val cur = PageGen.snapshot(spark, n, snap)
      val curMap = cur.collect().map(p => p.url -> p).toMap
      val changed = cur.filter(p => !prev.contains(p.url) || prev(p.url).text != p.text)
      val tombstones = prev.keys.filterNot(curMap.contains).toSeq
        .map(u => graft.model.Page(u, new java.sql.Timestamp(0), Array.emptyByteArray, null, null))
      changed.toDF().unionByName(spark.createDataset(tombstones).toDF())
        .coalesce(1).write.mode("append").parquet(inDir)
    }

    val committed = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    // first drop exists BEFORE start; second lands while the query polls —
    // the poll loop must pick it up on a later trigger tick
    dropDelta(1)
    val q = new StreamRunner(spark, pipe).runContinuous(
      inDir, cpDir, startBatchId = 1, interval = "1 second",
      onBatch = id => { committed.add(id); () })
    try {
      def awaitBatches(k: Int): Unit = {
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (committed.size < k && System.nanoTime() < deadline) Thread.sleep(100)
        assert(committed.size >= k, s"timed out waiting for $k commits, got $committed")
      }
      awaitBatches(1)
      dropDelta(2)
      awaitBatches(2)
    } finally q.stop()
    // the polled commits must land in exactly the batch-sequence state
    val expected = pipe.extractedQuads(PageGen.snapshot(spark, n, 2))
    assert(QuadDiff.diff(pipe.currentQuads, expected).count() == 0)
    assert(committed.iterator().next() == 1L)
  }

  test("continuous trigger killed mid-run and relaunched: ids continue, state reconciles") {
    val root = tmpDir("kstream_root")
    val inDir = tmpDir("kstream_in")
    val cpDir = tmpDir("kstream_cp")
    val pipe = new QuadLogPipeline(spark, root, numBuckets = 4, canonicalize = false)
    val n = 60L
    pipe.bootstrap(PageGen.snapshot(spark, n, 0), "e1", "00000000000000")

    def dropDelta(snap: Int): Unit = {
      val prev = PageGen.snapshot(spark, n, snap - 1).collect().map(p => p.url -> p).toMap
      val cur = PageGen.snapshot(spark, n, snap)
      val curMap = cur.collect().map(p => p.url -> p).toMap
      val changed = cur.filter(p => !prev.contains(p.url) || prev(p.url).text != p.text)
      val tombstones = prev.keys.filterNot(curMap.contains).toSeq
        .map(u => graft.model.Page(u, new java.sql.Timestamp(0), Array.emptyByteArray, null, null))
      changed.toDF().unionByName(spark.createDataset(tombstones).toDF())
        .coalesce(1).write.mode("append").parquet(inDir)
    }
    def awaitSize(q: java.util.concurrent.ConcurrentLinkedQueue[Long], k: Int): Unit = {
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (q.size < k && System.nanoTime() < deadline) Thread.sleep(100)
      assert(q.size >= k, s"timed out waiting for $k commits, got $q")
    }

    val runner = new StreamRunner(spark, pipe)
    val run1 = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    dropDelta(1)
    val q1 = runner.runContinuous(inDir, cpDir, startBatchId = 1,
      interval = "1 second", onBatch = id => { run1.add(id); () })
    try {
      awaitSize(run1, 1)
      // a second drop lands, then the query is KILLED before (or while)
      // its trigger processes it — the AvailableNow path has this soak,
      // the production RUN_INTERVAL path must survive it too
      dropDelta(2)
    } finally q1.stop()

    // relaunch against the SAME streaming checkpoint: the pending drop is
    // processed exactly once, micro-batch ids continue (no restart at 0,
    // no re-commit of run 1's batch), and state lands on the snapshot-2
    // closed form
    val run2 = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q2 = runner.runContinuous(inDir, cpDir, startBatchId = 1,
      interval = "1 second", onBatch = id => { run2.add(id); () })
    val expected = pipe.extractedQuads(PageGen.snapshot(spark, n, 2))
      .localCheckpoint()
    try {
      // wait on CONVERGENCE, not a commit count: if the kill raced the
      // second trigger, run 1 may already have committed the drop and the
      // relaunched query legitimately has nothing to do
      val deadline = System.nanoTime() + 90L * 1000 * 1000 * 1000
      var converged = false
      while (!converged && System.nanoTime() < deadline) {
        converged = QuadDiff.diff(pipe.currentQuads, expected).count() == 0
        if (!converged) Thread.sleep(500)
      }
      assert(converged,
        "state after kill+relaunch never reached the snapshot-2 closed form")
    } finally q2.stop()

    val ids1 = run1.toArray(Array.empty[java.lang.Long]).map(_.toLong).toSeq
    val ids2 = run2.toArray(Array.empty[java.lang.Long]).map(_.toLong).toSeq
    assert(ids1.nonEmpty)
    // when the relaunched query did commit, its ids must CONTINUE the
    // sequence — never restart at the beginning or re-commit run 1's batch
    if (ids2.nonEmpty)
      assert(ids2.min > ids1.max,
        s"relaunched query replayed old batch ids: run1=$ids1 run2=$ids2")
  }
}

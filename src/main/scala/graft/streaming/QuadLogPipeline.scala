package graft.streaming

import scala.concurrent.{Await, Future}
import scala.concurrent.duration.Duration
import scala.util.{Failure, Try}
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.FsWrite
import graft.Timing.timed
import graft.model.Page
import graft.canon.IriCanonicalizer
import graft.functions.BloomProbe
import graft.plans.{PatchWriter, QuadDiff}
import graft.state.{SnapshotStore, TermBloom}

/** The end-to-end KG changelog pipeline — the Spark re-expression of the
  * reference's three chained components (quad-logger -> graph-splitter ->
  * resourcesync-generator) as one incremental batch job over page snapshots.
  *
  * State layout (all three stores are [[SnapshotStore]]s: bucketed,
  * atomically committed; contrib, facts and canon commit MERGE-ON-READ
  * deltas per batch — O(batch) writes with bounded chains, folded
  * bucket-locally — NO store-sized write exists in any per-batch path;
  * full commits happen only at bootstrap):
  *
  *  - `contrib`  — per-PAGE quad contributions, bucketed by xxhash64(url).
  *                 The unit of incremental work: a batch only ever touches
  *                 the buckets of pages that changed.
  *  - `facts`    — global quad support counts, bucketed by xxhash64(quad).
  *                 A fact is IN the graph while support > 0; patches are the
  *                 0 <-> >0 transitions ([[QuadDiff.supportTransition]]).
  *                 This is what makes shared facts (e.g. `entity rdf:type T`
  *                 supported by millions of pages) diff correctly without
  *                 recomputing the world.
  *  - `canon`    — the ACCUMULATED entity-canonicalization map (id ->
  *                 canonical), extended monotonically per batch. Without
  *                 persistence a component's representative could differ
  *                 across batches (each batch only sees its own IRIs) and
  *                 the facts store would hold one real-world fact under
  *                 several representatives. When a new alias BRIDGES two
  *                 existing clusters the losing representative's stored
  *                 facts are rewritten and the change surfaces as ordinary
  *                 -/+ patches (remap flow in [[incremental]]).
  *
  * The graph-folder index is no store: [[graphIndex]] derives it from the
  * patch batches' write records.
  *
  * An [[incremental]] batch runs as named phases, each timed as
  * `incr.phase.<name>`, with work proportional to |changed pages|, not
  * |table|: derive (extract, extend and stage the canon map, canonicalize),
  * touchedUrls and touch (the touched urls and their stored contributions),
  * delta (the signed per-quad support delta), transition (vs the pruned
  * facts store), sinks (patch files, staged facts and contrib deltas,
  * concurrently) and commit (tallies, lineage, marker, flips).
  *
  * Checkpoint/resume (reference T2, vql_lastlogsuffix.txt): each batch
  * writes its lineage — per-bucket url ranges, the watermark and counts —
  * as one driver record file, `lineage/batch_<id>`, like the reference's
  * `vql_*.txt` files; a re-run of an already-committed batch is a no-op
  * (idempotent, T8).
  *
  * Crash atomicity across the two data stores (the facts/contrib pair must
  * move together): merges are STAGED (data + manifest, no pointer flip),
  * then a single `_commit` marker is written, then both pointers flip.
  * [[recoverPartialCommit]] replays the flips from the marker, so a crash
  * between the two finalizes cannot leave contrib one batch behind facts
  * with re-runs silently no-oping against stale contributions.
  *
  * `facts/_epoch` is [[bootstrap]]'s completion point: bootstrap writes it
  * last, after the dump trailer and lineage, and [[incremental]] refuses
  * to run without it.
  */
final class QuadLogPipeline(
    spark: SparkSession,
    root: String,
    numBuckets: Int = 64,
    maxq: Int = 100000,
    canonicalize: Boolean = true,
    maxDeltas: Int = 4) {

  import spark.implicits._
  import QuadLogPipeline.Lineage

  graft.Preflight.assertSession(spark) // refuse to run misconfigured

  // Every store takes MERGE-ON-READ deltas per batch: O(batch) commit
  // writes, where a bucket rewrite would rewrite the whole store because
  // touched urls hash into every bucket. Delete keys: contrib rows belong
  // to a url; facts rows to a quad.
  // contrib records per-bucket TermBloom sidecars over the IRI slots a
  // remap lookup probes (s, and oLex when the object is an IRI): a
  // cluster-merge batch plans a bucket-pruned scan via candidateBuckets
  // instead of the full store read — at 10^12 contributions a remap
  // otherwise paid a complete store pass (the last store-sized read in
  // any incremental path).
  val contrib = new SnapshotStore(spark, s"$root/contrib", numBuckets,
    deleteKeys = Seq("url"), maxDeltas = maxDeltas,
    termExpr = Some(array(col("s"),
      when(col("oKind") === graft.model.TermKind.Iri, col("oLex")))))
  val facts = new SnapshotStore(spark, s"$root/facts", numBuckets,
    deleteKeys = QuadDiff.quadCols, maxDeltas = maxDeltas)
  // canon: the accumulated map is O(all IRIs ever seen). Delta = the
  // extendMapParts changed rows; tombstones = their ids. Per-bucket
  // TermBloom sidecars over `id` (the store's own bucket key) let a batch
  // plan BUCKET-PRUNED map reads: the fresh-id check and the rewrite view
  // probe candidateBuckets with the batch's IRIs instead of reading the
  // accumulated map (see extendedCanonMap — the map analogue of contrib's
  // remap-scan pruning).
  val canon = new SnapshotStore(spark, s"$root/canon", math.min(numBuckets, 8),
    deleteKeys = Seq("id"), maxDeltas = maxDeltas,
    termExpr = Some(array(col("id"))))
  private val lineageDir = s"$root/lineage"
  private val patchesDir = s"$root/patches"
  private val quadCols = QuadDiff.quadCols

  /** A8 — the graph-folder index (split-graphs.sh:99-102's
    * vql_graph_folder.csv): (g, g_b64, firstBatch), each graph with the
    * first committed batch that wrote a patch file of it. Built on the
    * driver from the committed batches' write records, with no Spark job:
    * one listing of the patches root and one record read per batch. `g`
    * is `g_b64` decoded; the writer encodes it with Spark's unwrapped
    * `base64`, so the round trip is exact. Empty before bootstrap. */
  def graphIndex: DataFrame = {
    val committed = facts.latest.getOrElse(-1L)
    val firstBatch = PatchWriter.batches(hfs, new Path(patchesDir)).filter(_._1 <= committed)
      .flatMap { case (id, dir) =>
        PatchWriter.readRecord(hfs, dir)
          .getOrElse(sys.error(s"committed patch batch $dir has no write record"))
          .map(_.g_b64 -> id)
      }
      .groupMapReduce(_._1)(_._2)(math.min)
    firstBatch.toSeq.sorted.map { case (b64, id) =>
      (new String(java.util.Base64.getDecoder.decode(b64), "UTF-8"), b64, id)
    }.toDF("g", "g_b64", "firstBatch")
  }

  // --- extraction front-end ------------------------------------------------

  /** pages -> canonicalized quad SET (set semantics, no attribution).
    * Canonicalization reads the PERSISTED map state extended with these
    * pages' IRIs (it does not persist) — so re-deriving the corpus through
    * this function reconciles exactly with incrementally accumulated state. */
  def extractedQuads(pages: Dataset[Page]): DataFrame =
    pageContributions(pages).drop("url", "bucket")
      .dropDuplicates(quadCols)

  /** Candidate entity IRIs of a quad batch: one scan, s and IRI-objects
    * exploded together (a union of two projections would extract twice). */
  private def candidateIris(quads: DataFrame): DataFrame =
    quads.select(explode(array(col("s"),
        when(col("oKind") === graft.model.TermKind.Iri, col("oLex")))).as("id"))
      .filter(col("id").isNotNull && col("id").startsWith("http://kg.example.org/"))
      .distinct()

  /** Extend the persisted canonical map with this batch's IRIs.
    *
    * Returns a [[CanonExtension]]:
    *  - `view`    = the EXTENDED map restricted to (a superset of) the
    *    batch's candidate IRIs — everything the batch rewrite can match.
    *    Churn-sized at ANY accumulated map size, so the rewrite join
    *    stays a BROADCAST at target scale. Its row count and whether any
    *    row maps an id to another canonical come from one action.
    *  - `changed` = exactly the rows that differ from the stored map
    *    (fresh ids + members of clusters a new edge touched) — the canon
    *    store's merge-on-read delta. At bootstrap (empty store) it is the
    *    whole new map. `changedRows` is its row count.
    *  - `remapped` = (oldRep -> newRep) pairs for superseded
    *    representatives, derived from `changed` (rep changes are a subset
    *    of changed ids), so the comparison join is churn-sized. None when
    *    no representative can have changed: at bootstrap, and in a batch
    *    with no fresh id.
    *
    * The stored-map reads are TWO-TIER pruned, mirroring the contrib
    * remap scan: (1) when the batch's IRI set is driver-collectable, the
    * canon store's per-bucket TermBloom sidecars prune which buckets are
    * read at all ([[SnapshotStore.candidateBuckets]]); (2) a broadcast
    * Bloom filter over the batch IRIs, probed by the codegen'd
    * BloomProbe predicate INSIDE the scan, prunes rows — the result
    * (`oldPruned`) is ~batch-sized. Both tiers are conservative
    * (sidecars never exclude a term's true bucket; the bloom has no
    * false negatives), so the fresh-id anti-join against `oldPruned` is
    * EXACT — completeness additionally needs only the store-map
    * invariant that every canonical value is also an id row, which every
    * map this pipeline writes satisfies (see extendChangedGivenFresh).
    * False positives only widen `view`/`oldPruned` by harmless rows that
    * match nothing in the batch. The IRI count comes with the IRI
    * checkpoint's own job; under the collect gate one collect of (id,
    * xxhash64(id)) feeds both tiers, the bloom built on the driver with
    * the bits a distributed build sets.
    *
    * A batch with no fresh id (the common churn batch) changes no cluster:
    * its view is `oldPruned` itself, and the whole stored map is never
    * read, nor planned. Only a batch with fresh ids reads it, once: below
    * [[canonCheckpointBytes]] (id, canonical, sig) is materialized one
    * time and both the map and the signature scan of
    * [[IriCanonicalizer.verifiedPairsStored]] derive from it. */
  private[graft] def extendedCanonMap(rawQuads: DataFrame): CanonExtension = {
    val seen = Observation("canon.iris")
    val iris = timed("canon.iris")(
      candidateIris(rawQuads).observe(seen, count(lit(1)).as("n")).localCheckpoint())
    val nIris = seen.get("n").asInstanceOf[Long]
    // the recorded bytes are 0 exactly when a read would find no file
    val canonBytes = canon.approxDataBytes
    if (canonBytes == 0) {
      val cm = timed("canonicalMap")(
        IriCanonicalizer.canonicalMap(spark, iris).localCheckpoint())
      lastCanonBuckets = None
      val (n, nonTrivial) = viewStats(cm)
      CanonExtension(cm, n, nonTrivial, None, cm, n)
    } else {
      // Persisted signatures (`sig` column, written by every canon
      // commit) route extendChangedGivenFresh through
      // verifiedPairsStored, so no shingle/signature pass over the
      // accumulated domain ever runs per batch.
      lazy val full = canon.read().get
      // tier 1 — sidecar bucket pruning (collect gate mirrors the remap
      // scan's: 100k strings ≈ a few MB on the driver); the same collect
      // gives tier 2 its hashes
      val (buckets, irisBloom) =
        if (nIris > canonProbeLimit) (None,
          BloomProbe.build(iris.select(xxhash64(col("id"))), nIris, factsPruneBloomMaxBits))
        else {
          val idHashes = iris.select(col("id"), xxhash64(col("id"))).as[(String, Long)].collect()
          (canon.candidateBuckets(idHashes.map(_._1).toSeq),
            BloomProbe.onDriver(idHashes.map(_._2), nIris, factsPruneBloomMaxBits))
        }
      lastCanonBuckets = buckets
      val oldView = buckets.fold(full.select("id", "canonical"))(bs =>
        canon.readBuckets(bs).map(_.select("id", "canonical"))
          .getOrElse(iris.select(col("id"), col("id").as("canonical")).limit(0)))
      // tier 2 — bloom row pruning inside the scan (codegen predicate); the
      // action over the pruned rows materializes their lazy checkpoint
      val bloomB = spark.sparkContext.broadcast(irisBloom)
      val oldPruned = oldView.filter(BloomProbe(bloomB, xxhash64(col("id"))))
        .localCheckpoint(eager = false)
      val (prunedRows, prunedNonTrivial) = timed("canon.oldPruned")(viewStats(oldPruned))
      bloomB.unpersist()
      // lazy checkpoint: the count materializes it, in one job
      val fresh = iris.join(oldPruned.select("id"), Seq("id"), "left_anti")
        .localCheckpoint(eager = false)
      if (fresh.count() == 0)
        CanonExtension(oldPruned, prunedRows, prunedNonTrivial, None, oldPruned.limit(0), 0L)
      else {
        // Small stores: materialize the folded map once — the domain
        // union, the touched-cluster splits, the signature scan and the
        // remap join all read it, and each lazy read re-runs the
        // merge-on-read fold. Past the byte gate they go to the store
        // lazily: a per-batch O(map) materialization is exactly the
        // cost this path exists to shed.
        val m =
          if (canonBytes > canonCheckpointBytes) full
          else timed("canon.readOld")(full.select("id", "canonical", "sig").localCheckpoint())
        val o = m.select("id", "canonical")
        // lazy checkpoint: the count materializes it, in one job
        val changed = IriCanonicalizer.extendChangedGivenFresh(spark, o, fresh,
            storedSigs = Some(m.select("id", "sig")))
          .localCheckpoint(eager = false)
        val changedRows = timed("canonicalMap")(changed.count())
        // rewrite view: pruned old rows minus the ones `changed`
        // replaces, plus the changed rows the batch can actually reference
        val view = oldPruned.join(changed.select("id"), Seq("id"), "left_anti")
          .unionByName(changed.join(iris, Seq("id"), "left_semi"))
          .localCheckpoint(eager = false)
        val (viewRows, nonTrivial) = timed("canon.view")(viewStats(view))
        val remapped = o
          .join(changed.withColumnRenamed("canonical", "rep2"), Seq("id"))
          .filter(col("canonical") =!= col("rep2"))
          .select(col("canonical").as("id"), col("rep2").as("canonical"))
          .distinct()
        CanonExtension(view, viewRows, nonTrivial, Some(remapped), changed, changedRows)
      }
    }
  }

  /** A rewrite view's row count and whether some row maps an id to another
    * canonical (else the rewrite is the identity), from one action. */
  private def viewStats(view: DataFrame): (Long, Boolean) = {
    val r = view.agg(count(lit(1)), count(when(col("id") =!= col("canonical"), 1))).head()
    (r.getLong(0), r.getLong(1) > 0)
  }

  /** Canon-map probe gate (same rationale and size as
    * [[remapIdProbeLimit]]): above this many batch IRIs the sidecar
    * bucket-prune skips the driver collect and tier 2 alone prunes. */
  private val canonProbeLimit: Long = 100000L

  /** Byte gate under which the folded canon map is still materialized once
    * per batch (several consumers, and at small sizes the checkpoint costs
    * the same as ONE fold scan). Past it the consumers re-scan the store
    * lazily — narrow columnar reads — because a per-batch O(map) block-
    * store materialization is the unbounded cost this path removes. */
  private val canonCheckpointBytes: Long = 256L << 20

  /** Buckets the last canon-map prune planned (None = full read or empty
    * store) — observable plan-shape evidence for specs/benchmarks. */
  @volatile private[graft] var lastCanonBuckets: Option[Seq[Int]] = None

  /** Exact per-page contributions: quads tagged with the url that supports
    * them (a quad may appear under many urls; support = distinct urls).
    * Extraction is [[graft.extract.TypedExtractor]], checked against the
    * closed-form `ExpectedKg` oracle. Pure — does not advance state. */
  def pageContributions(pages: Dataset[Page]): DataFrame = {
    // NOT cached: extraction is a narrow, CPU-bound, re-runnable pass; RAM-
    // caching 10^6+ deserialized rows costs more (alloc + GC bandwidth) than
    // recomputing, and at real scale caching the corpus is impossible anyway.
    val quads = rawQuads(pages)
    val out =
      if (!canonicalize) quads
      else {
        rewriteIfNonTrivial(quads, extendedCanonMap(quads))
      }
    out.withColumn("bucket", contrib.bucketCol(col("url")))
  }

  /** identity view -> skip the rewrite joins AND the per-page re-dedup.
    * The view is the batch-restricted rewrite view from [[extendedCanonMap]]
    * (checkpointed, churn-sized), so both the triviality check and the
    * broadcast gate read the PRUNED size — at target scale the full map is
    * billions of rows (see IriCanonicalizer.broadcastRowLimit) but the
    * view stays batch-sized and the rewrite stays a broadcast join. */
  private def rewriteIfNonTrivial(quads: DataFrame, ext: CanonExtension): DataFrame =
    // every caller feeds extraction output (url-grouped within partitions),
    // so the broadcast path deduplicates with the narrow streaming pass
    if (ext.nonTrivial) IriCanonicalizer.canonicalizeAttributed(quads, ext.view, ext.viewRows,
      urlGrouped = true)
    else quads

  /** Raw extraction for one batch — deliberately LAZY (re-evaluated by each
    * consumer: IRI distinct, delta aggregation, store merge). Measured on
    * this box: the typed extractor is pure compute and SCALES with cores,
    * while materializing its output to scratch parquet costs a multi-GB
    * write + re-reads on the one resource that does NOT scale here
    * (concurrent file IO). Recomputing is the cheaper, scale-correct side
    * of that trade; at 100 TB a RAM/disk cache of the corpus is impossible
    * regardless. */
  private def rawQuads(pages: Dataset[Page]): DataFrame =
    graft.extract.TypedExtractor.pageQuads(pages.toDF())

  // --- batches ---------------------------------------------------------------

  /** Bootstrap dump (reference lifecycle 3.1): full extraction, all '+',
    * checkpoint serial 00000000000000-style ts.
    *
    * One-pass materialization discipline: extraction is evaluated exactly
    * once into the contrib store; every downstream consumer reads committed
    * parquet back (columnar, splittable) instead of a RAM cache — at bench
    * scale the deserialized-row cache was the memory-bandwidth bottleneck,
    * and at target scale caching the corpus is impossible regardless.
    *
    * Recovery is a re-run: bootstrap resets every store, the patch
    * batches and the lineage first (split-graphs.sh:171's cascading
    * `rm -Rf`), so no batch of an earlier epoch is published on top of the
    * new dump. Its completion point is `facts/_epoch`, written last —
    * after the trailer and lineage — so a dump that failed (an INVALID
    * fingerprint re-check, a sink error, a crash) leaves no epoch and
    * [[incremental]] refuses to run on top of it. */
  def bootstrap(pages: Dataset[Page], epoch: String, checkpoint: String): BatchResult = {
    val startedAtMs = System.currentTimeMillis()
    contrib.reset(); facts.reset(); canon.reset()
    // patch batches and lineage rows are per epoch
    Seq(patchesDir, lineageDir).foreach(d => hfs.delete(new Path(d), true))
    hfs.delete(markerPath, false)
    // A4 (vql_check_trx, dump_nquads.sql:75-78, 98-143): fingerprint the
    // input snapshot at the START of the dump; re-checked before the
    // completion trailer — a drifting source (concurrent inserts/deletes
    // during the multi-pass dump) invalidates the dump loudly. The
    // fingerprint COMPLETES before any extraction job is submitted: were it
    // concurrent, drift landing during the fingerprint scan could be seen
    // by both fp0 and the end-of-dump re-check while extraction had already
    // read pre-drift rows — a torn snapshot would pass. The reference's
    // vql_check_trx window covers the whole dump with no such blind spot;
    // the small serial column-pruned scan is the price of that guarantee.
    val fp0 = timed("bootstrap.fingerprint")(snapshotFingerprint(pages))
    val raw = rawQuads(pages)
    val contribData =
      if (!canonicalize) raw
      else {
        // empty store: `changed` IS the whole new map (and equals the view).
        // `sig` is persisted at write time (a deterministic function of the
        // id string) so no later batch ever recomputes signatures over the
        // accumulated domain — see extendedCanonMap / verifiedPairsStored.
        val ext = extendedCanonMap(raw)
        canon.commitFull(IriCanonicalizer.withSignatures(ext.changed)
          .withColumn("bucket", canon.bucketCol(col("id"))), 0L)
        rewriteIfNonTrivial(raw, ext)
      }
    timed("bootstrap.commitContrib")(contrib.commitFull(
      contribData.withColumn("bucket", contrib.bucketCol(col("url"))), 0L))
    timed("bootstrap.commitFacts")(
      facts.commitFull(supportCounts(contrib.read().get), 0L, assumePartitioned = true))
    // Patches dump from the COMMITTED facts parquet (cheap columnar scans —
    // measured: sourcing it from the `supports` plan re-ran the whole
    // support aggregation once per PatchWriter pass).
    val patches = facts.read().get.select((lit("+").as("op") +: quadCols.map(col)): _*)
    // A4: the fingerprint re-check and the lineage aggregation are
    // independent read-only jobs over inputs the sinks never touch —
    // submitted WITH the sinks, but settled before the trailer below, which
    // is the externally visible completion artifact (dump_nquads.sql:75-78
    // invalidates before declaring complete). A torn snapshot raises while
    // the trailer, lineage and epoch are absent. The quad count is the
    // patch writer's '+' tally: one line per facts row.
    val Seq(_, wrote: PatchWriter.Wrote, lineage: Seq[Lineage] @unchecked) = fanIn(
      () => timed("bootstrap.recheckFp")(assertSnapshotStable(pages, fp0)),
      () => timed("bootstrap.patchFiles")(
        PatchWriter.write(spark, patches, s"$patchesDir/batch_0", checkpoint, maxq)),
      () => timed("bootstrap.lineageRows")(lineageRows(epoch, 0L, pages)))
    // dump-report trailer file (dump_nquads.sql:58-83 / sample fixture)
    val isoNow = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)
    PatchWriter.writeDumpReport(spark, s"$patchesDir/batch_0", checkpoint,
      started = isoNow.format(java.time.Instant.ofEpochMilli(startedAtMs)),
      completed = isoNow.format(java.time.Instant.now()),
      quadCount = wrote.added, fileCount = wrote.files)
    timed("bootstrap.lineage")(writeLineage(0L, lineage, wrote))
    facts.setEpoch(epoch) // the completion point: incremental reads it
    BatchResult(0L, wrote.added, 0L, wrote.files)
  }

  /** (count, order-independent xxhash64 signature) of a page snapshot —
    * cheap relative to extraction (one column-pruned pass). */
  private[graft] def snapshotFingerprint(pages: Dataset[Page]): (Long, Long) = {
    val r = pages.toDF().select("url", "warc_ts", "text")
      .agg(count(lit(1)), bit_xor(xxhash64(col("url"), col("warc_ts"), col("text"))))
      .head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** A4's actual safety net: the dump is only valid if the source it read
    * was immutable for the dump's whole duration. Mirrors the reference's
    * dump invalidation (dump_nquads.sql:75-78: a transaction count change
    * during the dump raises and scraps the dump). */
  private[graft] def assertSnapshotStable(pages: Dataset[Page], fp0: (Long, Long)): Unit = {
    val fp1 = snapshotFingerprint(pages)
    if (fp1 != fp0)
      sys.error(s"bootstrap dump INVALID: input snapshot changed during the " +
        s"dump (fingerprint $fp0 -> $fp1); re-run against an immutable snapshot " +
        s"(reference vql_check_trx invalidation, dump_nquads.sql:75-78)")
  }

  /** Incremental batch (lifecycle 3.2). `changed` = pages whose current
    * revision is new since the watermark (adds + updates); `deletedUrls` =
    * pages removed from the source. Work scales with |changed|+|deleted|
    * (+ the rare remap rewrite set when canonical clusters merge).
    * The phases are listed in the class scaladoc. */
  def incremental(batchId: Long, checkpoint: String,
                  changed: Dataset[Page], deletedUrls: Dataset[String]): BatchResult = {
    val epoch = facts.epoch.getOrElse(sys.error("bootstrap first"))
    recoverPartialCommit()
    if (alreadyCommitted(batchId)) return BatchResult(batchId, 0, 0, 0) // idempotent re-run
    val (newContrib, remap, canonStaged) = timed("incr.phase.derive")(derive(batchId, changed))
    val (touchedUrls, remapUrls) =
      timed("incr.phase.touchedUrls")(touchedUrlSet(remap, changed, deletedUrls))
    try {
      val (oldContrib, urlBloom, nTouched) =
        timed("incr.phase.touch")(touch(touchedUrls, newContrib, remap.isDefined))
      val delta = timed("incr.phase.delta")(signedDelta(newContrib, oldContrib, remap, remapUrls))
      urlBloom.foreach(_.unpersist()) // oldContrib consumers are materialized
      val (patchesC, newFactRows) = timed("incr.phase.transition")(transition(delta))
      val (wrote, lineage) = timed("incr.phase.sinks")(
        sinks(epoch, batchId, checkpoint, patchesC, newFactRows, delta, touchedUrls, nTouched,
          changed, deletedUrls))
      timed("incr.phase.commit")(commit(batchId, wrote, lineage, canonStaged))
    } finally touchedUrls.unpersist()
  }

  /** Phase derive: the changed pages' canonical contributions, after a
    * cluster merge the checkpointed (oldRep -> newRep) pairs and count, and
    * whether the canon store staged a snapshot for the batch. */
  private def derive(batchId: Long, changed: Dataset[Page])
      : (DataFrame, Option[(DataFrame, Long)], Boolean) = {
    // CHANGED-page extraction materialized ONCE: both the canon IRI pass
    // and the contribution rewrite consume it, and lazily each re-ran the
    // extraction kernel. Unlike bootstrap (corpus-sized — deliberately
    // recomputed, see rawQuads), this is O(batch) rows in the block store,
    // the same bound as newSide in signedDelta.
    val rawNew = timed("incr.rawNew")(rawQuads(changed).localCheckpoint())
    val (newContrib, remapPairs, canonStaged) =
      if (!canonicalize) (rawNew, None, false)
      else {
        val ext = extendedCanonMap(rawNew)
        // STAGED, not committed: the extended map must move atomically with
        // the facts/contrib stores. A crash after an early canon commit but
        // before the batch marker would make the re-run derive remapPairs
        // against the already-extended map (empty remap set) — stored rows
        // under superseded representatives would silently never be
        // rewritten. Staging keeps canon.read() on the OLD snapshot until
        // the single marker-guarded finalize in commit flips all three.
        // MOR delta: only the CHANGED rows land (tombstones = their ids).
        // A batch with no changed id stages nothing: canon keeps its
        // snapshot.
        val stage = ext.changedRows > 0
        if (stage) timed("incr.canonStage")(
          canon.stageDelta(
            additions = IriCanonicalizer.withSignatures(ext.changed)
              .withColumn("bucket", canon.bucketCol(col("id"))),
            tombstones = ext.changed.select(col("id"))
              .withColumn("bucket", canon.bucketCol(col("id"))),
            tombstoneRows = ext.changedRows,
            id = batchId)) // one map row per id by construction
        (rewriteIfNonTrivial(rawNew, ext), ext.remapped, stage)
      }
    // Cluster merges are rare so the pair set is usually tiny, but it stays
    // DISTRIBUTED: a semi-join against it (auto-broadcast when small)
    // instead of a driver collect + isin literals, which one alias-heavy
    // batch could blow up. Only its count comes back to the driver. A batch
    // with no fresh id has no pair set at all (None), so nothing is
    // materialized or counted for it.
    val remap = remapPairs
      .map { r => val c = r.localCheckpoint(); c -> c.count() }
      .filter(_._2 > 0)
    (newContrib.withColumn("bucket", contrib.bucketCol(col("url"))), remap, canonStaged)
  }

  /** Phase touchedUrls: changed, deleted and remap-affected urls (CACHED;
    * the caller unpersists them), and the remap-affected ones. Their stored
    * rows under superseded representatives are rewritten, so their -old/+new
    * falls out of the signed delta. The scan reads (url, s, oKind, oLex). */
  private def touchedUrlSet(remap: Option[(DataFrame, Long)], changed: Dataset[Page],
                            deletedUrls: Dataset[String]): (DataFrame, DataFrame) = {
    val changedUrls = changed.toDF().select(col("url"))
    val remapUrls: DataFrame = remap match {
      case None => changedUrls.limit(0)
      case Some((remapPairsC, nRemap)) =>
        timed("incr.remapScan") {
          // BUCKET-PRUNED scan: the superseded representatives are a tiny
          // driver-known set (cluster merges are rare), so probe contrib's
          // per-bucket TermBloom sidecars and read only buckets that can
          // mention one — IO ∝ candidate buckets, not store size. Falls
          // back to the full read only when the remap set is too large to
          // collect (pathological) — bloom false positives already degrade
          // gracefully toward more buckets, never wrong rows.
          val buckets =
            if (nRemap > remapIdProbeLimit) None
            else contrib.candidateBuckets(remapPairsC.select("id").as[String].collect().toSeq)
          lastRemapBuckets = buckets
          val storedOpt = buckets.fold(contrib.read())(contrib.readBuckets)
          storedOpt.fold(changedUrls.limit(0)) { stored =>
            val byS = stored
              .join(remapPairsC.select(col("id").as("s")), Seq("s"), "left_semi")
              .select(col("url"))
            val byO = stored
              .filter(col("oKind") === graft.model.TermKind.Iri)
              .join(remapPairsC.select(col("id").as("oLex")), Seq("oLex"), "left_semi")
              .select(col("url"))
            byS.union(byO).distinct()
              .join(changedUrls, Seq("url"), "left_anti") // changed pages re-extract anyway
              .join(deletedUrls.toDF("url"), Seq("url"), "left_anti")
              .localCheckpoint()
          }
        }
    }
    val touchedUrls = changedUrls
      .union(deletedUrls.toDF("url")).union(remapUrls).distinct()
      .withColumn("bucket", contrib.bucketCol(col("url"))).cache()
    (touchedUrls, remapUrls)
  }

  /** Phase touch: the touched urls' stored contributions, the url bloom
    * filter if the large-churn tier built one (the caller unpersists it),
    * and the touched url count. */
  private def touch(touchedUrls: DataFrame, newContrib: DataFrame, remapping: Boolean)
      : (DataFrame, Option[Broadcast[TermBloom]], Long) = {
    // ONE action yields both the bucket list and the url count the
    // two-tier prune gate needs below (the driver receives <= numBuckets
    // rows)
    val urlBucketCounts = timed("incr.affectedBuckets") {
      touchedUrls.groupBy("bucket").agg(count(lit(1)).as("n"))
        .as[(Int, Long)].collect()
    }
    val affectedBuckets = urlBucketCounts.map(_._1).toSeq.sorted
    val oldInBuckets = contrib.readBuckets(affectedBuckets)
      .getOrElse(spark.emptyDataFrame)
    // On a REMAP batch the touched-old rows feed TWO consumers (the signed
    // delta and the remap rewrite), and each lazy consumption re-ran the
    // bucket-pruned merge-on-read fold over the store. Checkpoint the
    // CHURN-SIZED semi-join result once (O(touched urls' rows), never
    // O(store)) and derive both from it — one fold scan per batch. On the
    // common no-remap batch there is exactly one consumer, so no
    // materialization is added.
    //
    // The url restriction is TWO-TIER, cliff-free in both directions.
    // Small churn (the common batch): an EXPLICITLY broadcast-hinted exact
    // semi join — the hint matters, because Spark's own size estimate for
    // the cached url set crosses the 10 MB auto-broadcast line long before
    // the broadcast is actually a hazard, and the silent fallback
    // sort-merge-joined the ENTIRE store scan. Large churn: a bloom
    // PRE-filter (O(bits) broadcast, one extra small build job — which is
    // why it is not tier one: at the common batch size the build's fixed
    // job latency exceeds what it saves) followed by the exact semi,
    // unhinted — post-prune the store side is ~churn-sized, so whatever
    // strategy Spark picks moves ~churn rows, never the store. The bloom
    // alone can never replace this join: a false positive would put an
    // untouched url's rows on the -1 side of the signed delta with no +1
    // partner — a fabricated deletion.
    val nTouched = urlBucketCounts.map(_._2).sum // from the affectedBuckets job
    val urlBloom =
      if (nTouched <= urlBroadcastKeyLimit || oldInBuckets.columns.isEmpty) None
      else Some(spark.sparkContext.broadcast(
        BloomProbe.build(
          touchedUrls.select(xxhash64(col("url"))), nTouched,
          factsPruneBloomMaxBits)))
    val oldContrib =
      if (oldInBuckets.columns.isEmpty) newContrib.limit(0)
      else {
        val urls = touchedUrls.select("url")
        val touched = urlBloom match {
          case None => oldInBuckets.join(broadcast(urls), Seq("url"), "left_semi")
          case Some(b) => oldInBuckets
            .filter(BloomProbe(b, xxhash64(col("url"))))
            .join(urls, Seq("url"), "left_semi")
        }
        if (!remapping) touched
        else timed("incr.oldTouched")(touched.localCheckpoint())
      }
    (oldContrib, urlBloom, nTouched)
  }

  /** Phase delta: new (and remap-rewritten) contributions against the
    * touched old ones, summed per quad. */
  private def signedDelta(newContrib: DataFrame, oldContrib: DataFrame,
                          remap: Option[(DataFrame, Long)], remapUrls: DataFrame): SignedDelta = {
    // rewritten state of remap-affected urls = their stored rows passed
    // through the (oldRep -> newRep) map. remapUrls ⊆ touchedUrls, so the
    // checkpointed oldContrib already holds these rows.
    val rewrittenOld = remap match {
      case None => newContrib.limit(0)
      case Some((remapPairsC, nRemap)) => IriCanonicalizer.canonicalizeAttributed(
          oldContrib.join(remapUrls, Seq("url"), "left_semi").drop("bucket"),
          remapPairsC, nRemap)
        .withColumn("bucket", contrib.bucketCol(col("url")))
    }
    // Materialize the batch's new contributions ONCE: both the signed delta
    // and the contrib merge consume them, and lazily each consumer re-ran
    // the changed-page extraction + canonical rewrite (measured ~2x the
    // batch's extraction compute — the 8-core level pays it serially while
    // 32 cores hide it under the concurrent sink writes, i.e. pure ratio
    // padding). O(batch) rows in the block store, never O(corpus) — the
    // corpus-sized materialization stays parquet-backed by design.
    val newSide = timed("incr.newSide") {
      newContrib.unionByName(rewrittenOld).localCheckpoint()
    }
    // signed support delta per quad from the touched pages only. ONE
    // quad-key aggregation: contrib rows are distinct per (url, quad) by
    // construction, so summing ±1 directly per quad equals
    // support_new - support_old (map-side partial combine already
    // collapses each side's contribution per quad).
    val d = oldContrib.select(quadKey: _*).withColumn("w", lit(-1L))
      .unionByName(newSide.select(quadKey: _*).withColumn("w", lit(1L)))
      .groupBy(quadKey: _*)
      .agg(sum("w").as("d"))
      .filter(col("d") =!= 0L)
      .withColumn("bucket", facts.bucketCol(quadKey: _*))
    // small net-delta set, checkpointed to cut the extraction lineage; ONE
    // action materializes it and yields the bucket list AND the churn count
    // the prune-tier gate in transition reads
    val dC = d.localCheckpoint(eager = false)
    val deltaBucketCounts = timed("incr.delta") {
      dC.groupBy("bucket").agg(count(lit(1)).as("n")).as[(Int, Long)].collect()
    }
    SignedDelta(newSide, dC, deltaBucketCounts)
  }

  /** Phase transition: checkpointed patch rows and new facts rows. */
  private def transition(delta: SignedDelta): (DataFrame, DataFrame) = {
    val dC = delta.dC
    val factBuckets = delta.bucketCounts.map(_._1).toSeq.sorted
    // PRUNE the old-facts side to the changed quads before the transition
    // join: unchanged rows contribute no patch and no new state, and under
    // merge-on-read they are carried forward by the base, untouched. The
    // prune is TWO-TIER on the churn's xxhash64 quad keys, and BOTH tiers
    // are a narrow pass over the store — no store-sized exchange exists at
    // any churn size:
    //
    //  - small churn (the common batch): exact semi against the EXPLICITLY
    //    broadcast 8-byte key set. Byte-safe under the gate (~32 B/key
    //    resident), and cheaper than tier two because it adds no build job.
    //  - large churn: a broadcast BLOOM FILTER probed by a codegen'd
    //    predicate inside the scan's whole-stage span — no join at all.
    //    10 bits/key (4M keys ≈ 5 MB vs ~128 MB hashed), capped at 64 MB =
    //    53M keys at ~1% FPR; past the cap it saturates GRACEFULLY (FPR
    //    rises, the pruned set widens, nothing shuffles, nothing breaks).
    //
    // Bloom false positives (and hash collisions, both tiers) are harmless
    // by construction: the row passes the prune, the transition join finds
    // no delta partner, marks it d-null, and supportTransitionDelta drops
    // it from both patches and additions — correctness never depends on
    // the filter. The pruned result is churn-sized; checkpoint it once so
    // the transition join (two churn-sized sides) feeds both the patch set
    // and the delta additions without re-running the scan per sink.
    val nDelta = delta.bucketCounts.map(_._2).sum // from the factBuckets job
    val pruneKeys: DataFrame => DataFrame =
      if (nDelta <= broadcastKeyLimit) {
        val dKeysH = dC.select(xxhash64(quadKey: _*).as("_qh")).distinct()
        df => df.withColumn("_qh", xxhash64(quadKey: _*))
          .join(broadcast(dKeysH), Seq("_qh"), "left_semi")
          .drop("_qh")
      } else {
        val churnBloom = spark.sparkContext.broadcast(
          BloomProbe.build(
            dC.select(xxhash64(quadKey: _*)), nDelta, factsPruneBloomMaxBits))
        df => df.filter(
          BloomProbe(churnBloom, xxhash64(quadKey: _*)))
      }
    val oldFacts = timed("incr.oldFactsScan") {
      pruneKeys(
        facts.readBuckets(factBuckets)
          .getOrElse(dC.limit(0).drop("d").withColumn("support", lit(0L)))
          .drop("bucket"))
        .localCheckpoint()
    }
    val (patches, newFactRows) = QuadDiff.supportTransitionDelta(
      oldFacts, dC.drop("bucket"))
    (patches.localCheckpoint(), newFactRows) // small; read by write + tally
  }

  /** Phase sinks: returns what the patch writer wrote and the batch's
    * lineage rows, their counts not yet stamped. */
  private def sinks(epoch: String, batchId: Long, checkpoint: String, patchesC: DataFrame,
                    newFactRows: DataFrame, delta: SignedDelta, touchedUrls: DataFrame,
                    nTouched: Long, changed: Dataset[Page], deletedUrls: Dataset[String])
      : (PatchWriter.Wrote, Seq[Lineage]) = {
    // Independent jobs over checkpointed/committed inputs and different
    // directories: the IO-bound patch files overlap the compute-bound
    // merges (BENCH.md §Scaling residual: sequential phases idled cores).
    // MERGE-ON-READ commits: O(batch) additions + tombstones;
    // coverage holds by construction: every newFactRows quad is in dC, and
    // every newSide url is in touchedUrls. The lineage aggregation over the
    // changed pages reads neither.
    val Seq(wrote: PatchWriter.Wrote, _, _, lineage: Seq[Lineage] @unchecked) =
      fanIn(
      () => timed("incr.patchFiles")(
        PatchWriter.write(spark, patchesC, s"$patchesDir/batch_$batchId", checkpoint, maxq)),
      () => timed("incr.mergeFacts")(facts.stageDelta(
        additions = newFactRows.withColumn("bucket", facts.bucketCol(quadKey: _*)),
        tombstones = delta.dC.select((quadKey :+ col("bucket")): _*),
        tombstoneRows = delta.bucketCounts.map(_._2).sum,
        id = batchId)), // dC is a per-quad aggregation output
      () => timed("incr.mergeContrib")(contrib.stageDelta(
        additions = delta.newSide.join(deletedUrls.toDF("url"), Seq("url"), "left_anti"),
        tombstones = touchedUrls,
        tombstoneRows = nTouched,
        id = batchId)), // touchedUrls is a union-distinct
      () => timed("incr.lineageRows")(lineageRows(epoch, batchId, changed)))
    (wrote, lineage)
  }

  /** Phase commit: the tallies are the patch writer's (its per-graph
    * count pass counts per op), so the phase starts no Spark job. */
  private def commit(batchId: Long, wrote: PatchWriter.Wrote,
                     lineage: Seq[Lineage], canonStaged: Boolean): BatchResult = {
    // lineage BEFORE the marker: a crash before the marker recomputes the
    // batch, whose re-run replaces the batch's lineage file (every lineage
    // sum counts the batch once); after the marker, recovery replays the
    // pointer flips below.
    // The marker-guarded finalize flips ALL staged stores (canon, when it
    // staged — it moves atomically with the data it canonicalizes).
    timed("incr.lineage")(writeLineage(batchId, lineage, wrote))
    FsWrite.atomic(hfs, markerPath, batchId.toString)
    if (canonStaged) canon.finalizeCommit(batchId)
    facts.finalizeCommit(batchId)
    contrib.finalizeCommit(batchId)
    // expire snapshots the just-finalized commits unreferenced (folded
    // bases, superseded full rewrites) — disk stays O(live state), not
    // O(history). Single writer, everything finalized: safe window.
    Seq(canon, facts, contrib).foreach(_.vacuum())
    BatchResult(batchId, wrote.added, wrote.deleted, wrote.files)
  }

  /** Runs each sink on [[sinkEc]] and returns their results in argument
    * order. EVERY sink settles (success or failure) before the first
    * failure, in argument order, is rethrown: a rethrow while sibling
    * sinks still run would let their zombie write jobs race an immediate
    * same-batchId retry's staging dirs and patch files. */
  private def fanIn(sinks: (() => Any)*): Seq[Any] = {
    val running = sinks.map(s => Future(s())(sinkEc))
    val settled = running.map(f => Try(Await.result(f, Duration.Inf)))
    settled.collectFirst { case Failure(e) => throw e }
    settled.map(_.get)
  }

  /** Pool for concurrent sink-write job submission (Spark job submission is
    * thread-safe; local-mode tasks all run on the shared executor anyway —
    * this only overlaps the per-job driver-side planning + IO waits). */
  private lazy val sinkEc: scala.concurrent.ExecutionContextExecutorService =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(4, r => {
        val t = new Thread(r, "graft-sink"); t.setDaemon(true); t
      }))

  /** Quad-identity bucket key: the columns themselves — bucketCol hashes
    * them variadically (xxhash64(s,p,...)), never a concatenated string. */
  private def quadKey = quadCols.map(col)

  /** Bootstrap support counts with ONE corpus-sized exchange instead of
    * two. The aggregation's group key DETERMINES the facts-store bucket
    * (bucket = xxhash64(quad) % n), so a `groupBy(quad)` exchange followed
    * by the store's `repartition(bucket)` exchange shuffles the corpus
    * twice for one placement. Instead: partition ONCE by bucket (every
    * quad group lands whole in one partition), Tungsten-sort within the
    * partition, and count consecutive identical keys in a streaming typed
    * pass — O(one group) memory, and the external sort spills gracefully
    * at any bucket size (a per-bucket hash map would not). The output is
    * already placed for the store write (commitFull assumePartitioned).
    * Plan: 2 Exchange -> 1 on the bootstrap's biggest shuffle.
    *
    * support = count(1), NOT count_distinct(url): contrib rows are
    * distinct per (url, quad) BY CONSTRUCTION (per-page dedup in every
    * extractor path and after every canonical rewrite).
    * PipelineSpec asserts equality with the groupBy formulation, nulls
    * and empty strings included. */
  private[graft] def supportCounts(cBack: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    val keyed = cBack.select(quadCols.map(col): _*)
      .withColumn("bucket", facts.bucketCol(quadKey: _*))
    val sorted = keyed
      .repartition(numBuckets, col("bucket"))
      .sortWithinPartitions(quadCols.map(col): _*)
    val outSchema = StructType(
      sorted.schema.fields.filter(_.name != "bucket") ++
        Seq(StructField("support", LongType, nullable = false),
          StructField("bucket", IntegerType, nullable = false)))
    val nKey = quadCols.length
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    sorted.mapPartitions { it =>
      new Iterator[org.apache.spark.sql.Row] {
        private val buf = it.buffered
        def hasNext: Boolean = buf.hasNext
        def next(): org.apache.spark.sql.Row = {
          val head = buf.next()
          var support = 1L
          def sameKey(r: org.apache.spark.sql.Row): Boolean = {
            var i = 0
            while (i < nKey) {
              if (!java.util.Objects.equals(r.get(i), head.get(i))) return false
              i += 1
            }
            true
          }
          while (buf.hasNext && sameKey(buf.head)) { buf.next(); support += 1 }
          org.apache.spark.sql.Row.fromSeq(
            (0 until nKey).map(head.get) ++
              Seq[Any](support, head.getInt(nKey))) // NOT Seq(l, i): it widens the Int
        }
      }
    }(enc)
  }

  /** Remap-id collect gate: above this many superseded representatives the
    * remap scan skips the driver-side bloom probe and reads the full store
    * (collecting millions of IRI strings to the driver would be the real
    * scale hazard; the probe exists for the rare-but-recurring small-merge
    * case). 100k strings ≈ a few MB — safely collectable. */
  private val remapIdProbeLimit: Long = 100000L

  /** Buckets the last remap scan planned (None = full-store fallback or no
    * remap yet) — observable plan-shape evidence for specs/benchmarks. */
  @volatile private[graft] var lastRemapBuckets: Option[Seq[Int]] = None

  /** Tier boundary for the churn prunes: up to this many keys the exact
    * 8-byte-key broadcast semi is both byte-safe (~32 B/key resident =>
    * <= 32 MB hashed relation) and CHEAPER than a bloom (no extra build
    * job — measured ~1-2 s of fixed per-batch latency at the driver-bench
    * shape); above it the bloom path takes over. Crucially this is a
    * tier boundary between two safe plans, not a gate with a shuffle
    * fallback — there is no churn size at which the store scan gets
    * exchanged. */
  private val broadcastKeyLimit: Long = 1000000L

  /** Separate, lower tier boundary for the url-STRING keyed prune: the
    * 1M-key gate's "~32 B/key resident" sizing only holds for the 8-byte
    * hash tier — a url string is ~100-200 B plus hashed-relation overhead,
    * so 1M urls hinted into a broadcast is a few hundred MB forced past
    * Spark's own estimator. 200k urls ≈ 200k x ~250 B ≈ 50 MB resident —
    * byte-safe; above it the bloom pre-filter tier takes over (same
    * cliff-free two-tier shape, just a boundary matched to the key WIDTH). */
  private val urlBroadcastKeyLimit: Long = 200000L

  /** Bloom-tier cap, BYTE-derived like every other bound in the repo
    * (tombMax 64 MB file-gated, canon 5M rows): 2^29 bits = 64 MB of
    * broadcast — at ~10 bits/key that is 53M churn keys at ~1% FPR. This
    * is a SATURATION point, not a cliff: a bigger churn just raises the
    * false-positive rate (at 100M keys ≈ 5.4 bits/key the FPR is ~11% —
    * the prune still drops ~89% of unchanged rows), it never switches
    * plan shape. The predecessors both had cliffs: a broadcast hashed
    * key-set costs ~32 B/key resident, so any byte-sane gate caps at ~2M
    * keys, and past the gate the fallback shuffle semi-join dragged the
    * whole store scan through an exchange (measured +60 s on a 40M-quad
    * store at the 3.2M-page point, BENCH.md round 6). */
  private val factsPruneBloomMaxBits: Long = 1L << 29

  // --- commit marker / recovery ---------------------------------------------

  private def markerPath = new Path(root, "_commit")
  private def hfs = markerPath.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The marker's batch id: one open, with no existence check before it. */
  private def commitMarker: Option[Long] = {
    val in = try hfs.open(markerPath)
      catch { case _: java.io.FileNotFoundException => return None }
    try Some(new String(in.readAllBytes(), "UTF-8").trim.toLong) finally in.close()
  }

  /** Replay pointer flips for a batch whose marker was written but whose
    * stores were not all finalized (crash between the flips). Canon is part
    * of the protocol: it stages with the batch and flips with it. The
    * marker proves single-writer ownership of the root, so any `_lease`
    * the crashed predecessor abandoned on a store being replayed is broken
    * here — a restarted driver (fresh writerId) must not be locked out of
    * its own store for the lease timeout. */
  def recoverPartialCommit(): Unit = commitMarker.foreach { m =>
    Seq(canon, facts, contrib).foreach { s =>
      if (s.isStagedNotFinal(m)) { s.breakLease(); s.finalizeCommit(m) }
    }
  }

  private def alreadyCommitted(batchId: Long): Boolean =
    facts.latest.exists(_ >= batchId) && contrib.latest.exists(_ >= batchId)

  // --- lineage / checkpoint --------------------------------------------------

  /** Per-bucket lineage rows (BASELINE.json: url range, warc_ts watermark,
    * quad counts per partition) of `pages`, collected from one aggregation
    * that can run beside the sinks; their counts are 0 until
    * [[writeLineage]] stamps the batch's. */
  private def lineageRows(epoch: String, batchId: Long,
                          pages: Dataset[Page]): Seq[Lineage] =
    pages.toDF()
      .groupBy(contrib.bucketCol(col("url")).as("partitionId"))
      .agg(min("url").as("urlLo"), max("url").as("urlHi"),
        max("warc_ts").as("watermark"))
      .withColumn("epoch", lit(epoch))
      .withColumn("batchId", lit(batchId))
      .withColumn("added", lit(0L))
      .withColumn("deleted", lit(0L))
      .withColumn("files", lit(0L))
      .as[Lineage].collect().sortBy(_.partitionId).toSeq

  /** The batch's lineage rows, stamped with what its patch writer wrote, as
    * its record file `lineage/batch_<id>`. A re-run of the batch replaces
    * the file, so no row is ever counted twice. */
  private def writeLineage(batchId: Long, rows: Seq[Lineage],
                           wrote: PatchWriter.Wrote): Unit =
    graft.RecordFile.write(hfs, new Path(lineageDir, s"batch_$batchId"),
      rows.map(_.copy(added = wrote.added, deleted = wrote.deleted, files = wrote.files)))

  /** Every lineage row of the current epoch, read on the driver from the
    * batches' record files (no Spark job). */
  def lineage: DataFrame = {
    val rows = QuadLogPipeline.readLineage(hfs, new Path(lineageDir))
    if (rows.isEmpty) sys.error(s"no lineage at $lineageDir")
    rows.toDF()
  }

  def watermark: Option[java.sql.Timestamp] =
    QuadLogPipeline.readLineage(hfs, new Path(lineageDir)).flatMap(r => Option(r.watermark))
      .maxOption.map(java.sql.Timestamp.from)

  /** Current graph state as quads (for verification / reconciliation A7). */
  def currentQuads: DataFrame =
    facts.read().map(_.filter(col("support") > 0).select(quadCols.map(col): _*))
      .getOrElse(spark.emptyDataFrame)
}

object QuadLogPipeline {

  /** One lineage row: a contrib bucket's url range and newest `warc_ts` in
    * one batch, with the batch's counts. */
  final case class Lineage(partitionId: Int, urlLo: String, urlHi: String,
                           watermark: java.time.Instant, epoch: String, batchId: Long,
                           added: Long, deleted: Long, files: Long)

  private val LineageFile = "batch_(\\d+)".r

  /** The lineage rows of the batch files under `dir`, in batch order (none
    * when `dir` is absent). */
  private[graft] def readLineage(fs: org.apache.hadoop.fs.FileSystem, dir: Path): Seq[Lineage] =
    (try fs.listStatus(dir).toSeq.map(_.getPath) catch { case _: java.io.FileNotFoundException => Nil })
      .flatMap(p => p.getName match {
        case LineageFile(id) => Some(id.toLong -> p)
        case _ => None
      })
      .sortBy(_._1).flatMap { case (_, p) => graft.RecordFile.read(fs, p, classOf[Lineage]) }
}

final case class BatchResult(batchId: Long, added: Long, deleted: Long, files: Long)

/** [[QuadLogPipeline.extendedCanonMap]]'s answer: the batch's rewrite
  * view with its row count and whether it maps any id to another canonical,
  * the superseded-representative pairs, and the changed map rows with their
  * count. */
private[graft] final case class CanonExtension(view: DataFrame, viewRows: Long, nonTrivial: Boolean,
                                               remapped: Option[DataFrame], changed: DataFrame,
                                               changedRows: Long)

/** The delta phase's hand-off: new contribution rows, the checkpointed
  * non-zero per-quad support delta `dC` and its rows per facts bucket. */
private final case class SignedDelta(newSide: DataFrame, dC: DataFrame,
                                     bucketCounts: Array[(Int, Long)])

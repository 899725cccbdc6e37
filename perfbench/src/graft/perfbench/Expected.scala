package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.model.TermKind
import graft.rdf.NQuadFormatter
import graft.sources.{ExpectedKg, PageGen}

/** Independent expectations for the benchmark's output checks. */
object Expected {

  /** The bootstrap's patch files hold exactly ExpectedKg's per-page closed
    * form over the snapshot, canonicalized by its rule (an /entity/ IRI
    * rewrites to its /alt/ alias whenever both occur), one line per quad. */
  def matchesDump(spark: SparkSession, c: Corpus, idx: Seq[Long], patchDir: String): Boolean = {
    import spark.implicits._
    val raw = idx.flatMap(j => ExpectedKg.pageQuads(c.page(j, 0))).toSet
    val iris = raw.flatMap(q => Seq(q.s) ++ (if (q.oKind == TermKind.Iri) Seq(q.oLex) else Nil))
      .filter(_.startsWith("http://kg.example.org/"))
    val canonical = iris.collect {
      case e if e.contains("/entity/") && iris.contains(PageGen.aliasIri(e)) =>
        e -> PageGen.aliasIri(e)
    }.toMap
    def canon(t: String) = canonical.getOrElse(t, t)
    val exp = raw.toSeq.map(q => q.copy(s = canon(q.s),
      oLex = if (q.oKind == TermKind.Iri) canon(q.oLex) else q.oLex)).toDF()
    val want = exp.select(NQuadFormatter.patchLineCol(exp).as("value")).cache()
    val got = spark.read.option("recursiveFileLookup", "true").text(patchDir)
      .filter(length(col("value")) > 0 && !col("value").startsWith("#")).cache()
    try got.count() == want.count() && got.except(want).isEmpty && want.except(got).isEmpty
    finally { got.unpersist(); want.unpersist() }
  }
}

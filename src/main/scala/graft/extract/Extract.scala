package graft.extract

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Stage 1 of the KG pipeline: html -> text, byte-identical per url
  * (BASELINE.json input_hint invariant; the analogue of the reference's
  * deterministic quad serialization, utils.sql).
  *
  * Pure Column expressions — codegen'd, stays inside WholeStageCodegen, and
  * never forces a read of the `html` binary column unless extraction is
  * actually requested (column pruning keeps 100 TB of html out of queries
  * that only need `text`).
  */
object TextExtractor {
  /** Strip tags, then un-escape the three entities the canonical wrapper
    * escapes — exact inverse of PageGen.htmlFor. Order matters: &amp; LAST
    * (it is escaped first on the way in). */
  def extractText(html: Column): Column = {
    val decoded = decode(html, "UTF-8")
    val body = regexp_extract(decoded, "(?s)<p>(.*)</p>", 1)
    val unTagged = regexp_replace(body, "<[^>]*>", "")
    val e1 = replace(unTagged, lit("&lt;"), lit("<"))
    val e2 = replace(e1, lit("&gt;"), lit(">"))
    replace(e2, lit("&amp;"), lit("&"))
  }

  /** Scala mirror for property tests (must equal the Column form byte-wise). */
  def extractText(html: Array[Byte]): String = {
    val decoded = new String(html, "UTF-8")
    val m = "(?s)<p>(.*)</p>".r.findFirstMatchIn(decoded).map(_.group(1)).getOrElse("")
    m.replaceAll("<[^>]*>", "")
      .replace("&lt;", "<").replace("&gt;", ">").replace("&amp;", "&")
  }

  /** Re-derive text from html and verify the invariant; returns pages with a
    * `text_ok` flag (used by tests and the pipeline's self-check). */
  def withExtracted(pages: DataFrame): DataFrame =
    pages.withColumn("extracted", extractText(col("html")))
      .withColumn("text_ok", col("extracted") === col("text"))
}

/** The quad vocabulary: the predicate and datatype IRIs every extracted
  * quad is built from, shared by [[TypedExtractor]] and the closed-form
  * oracle (`ExpectedKg`). */
object MentionDetector {
  val mentionsPred = "http://kg.example.org/ontology/mentions"
  val typePred = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
  val langPred = "http://purl.org/dc/terms/language"
  val crawledPred = "http://kg.example.org/ontology/crawledAt"
  val posPred = "http://kg.example.org/ontology/position"
  val XsdDateTime = "http://www.w3.org/2001/XMLSchema#dateTime"
  val XsdInteger = "http://www.w3.org/2001/XMLSchema#integer"
}

package graft.perfbench

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.model.Page
import graft.sources.PageGen

/** The benchmark's page universe: `PageGen` pages shifted by a seed offset.
  *
  * Local index `j` in `[0, n + snap * n/20)` is PageGen page `off + j`:
  * url, text and revisions are PageGen's pure functions of the global index,
  * while birth and death follow PageGen's snapshot schedule over the local
  * index (n pages at snapshot 0, n/20 born per later snapshot, 5 % dying per
  * snapshot after birth). Different seeds therefore give disjoint urls with
  * the same statistical shape, and every input is a pure function of
  * (n, seed).
  */
final case class Corpus(n: Long, off: Long) {

  private val perSnap: Long = math.max(n / 20, 1)

  def page(j: Long, snap: Int): Page = PageGen.pageFor(off + j, snap)

  private def bornAt(j: Long): Int = if (j < n) 0 else ((j - n) / perSnap + 1).toInt

  def isLive(j: Long, snap: Int): Boolean = {
    val b = bornAt(j)
    b <= snap &&
      !((b + 1) to snap).exists(k => (PageGen.fnv1a(s"die:${off + j}:$k") >>> 1) % 20 == 0)
  }

  def live(snap: Int): Seq[Long] = (0L until n + snap * perSnap).filter(isLive(_, snap))

  /** Pages batch `snap` receives as changed, derived like
    * `ExpectedKg.changedIndices`: born at `snap`, or text revision bumped
    * against snapshot `snap - 1`. */
  def changed(snap: Int): Seq[Long] =
    live(snap).filter(j => !isLive(j, snap - 1) ||
      PageGen.revisionOf(off + j, snap) != PageGen.revisionOf(off + j, snap - 1))

  /** Pages batch `snap` deletes, like `ExpectedKg.deletedIndices`. */
  def deleted(snap: Int): Seq[Long] = live(snap - 1).filterNot(isLive(_, snap))

  def url(j: Long): String = PageGen.urlFor(off + j)
}

object Corpus {

  /** Seeds map to disjoint index ranges of PageGen. */
  def forSeed(n: Long, seed: Long): Corpus = Corpus(n, 1000000L + seed * 10000000L)

  /** Pages (local indices at snapshot `snap`) as a Dataset, generated on the
    * executors. */
  def pages(spark: SparkSession, c: Corpus, idx: Seq[Long], snap: Int): Dataset[Page] = {
    import spark.implicits._
    val parts = math.max(1, math.min(idx.size / 256 + 1, spark.sparkContext.defaultParallelism * 4))
    spark.sparkContext.parallelize(idx, parts).map(j => c.page(j, snap)).toDS()
  }
}

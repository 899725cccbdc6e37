package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Page
import graft.plans.QuadDiff
import graft.publish.ZipPublisher
import graft.sources.{ExpectedKg, PageGen}
import graft.streaming.{BatchResult, QuadLogPipeline}

/** An input page row tagged with the input part it belongs to. */
final case class PartPage(part: String, url: String, warc_ts: java.sql.Timestamp,
                          html: Array[Byte], text: String, lang: String)

/** One timed public entry-point call. `docs` = pages it consumed, `lines` =
  * RDF-patch body lines it wrote (0 for publish calls). */
final case class Call(kind: String, span: Span, docs: Long, lines: Long)

/** Tally of attempted and failed operations (pipeline calls, publish calls
  * and output checks). Each failure is printed to stderr by name. */
final class Checks {
  var attempted = 0L
  var failed = 0L

  private def fail(what: String): Unit = {
    failed += 1
    System.err.println(s"[perfbench] FAILED: $what")
  }

  /** Run an operation; a throw counts as a failure. */
  def op[T](name: String)(f: => T): Option[T] = {
    attempted += 1
    try Some(f) catch { case e: Exception => fail(s"$name: $e"); None }
  }

  def check(name: String)(cond: => Boolean): Unit = {
    attempted += 1
    val ok = try cond catch { case e: Exception => System.err.println(e); false }
    if (!ok) fail(name)
  }
}

/** Everything a workload needs from the run. */
final class Env(val spark: SparkSession, val work: Path, val tracer: Tracer,
                val checks: Checks, val numBuckets: Int) {
  private var rootSeq = 0

  /** A fresh, empty directory under the run's work dir. */
  def freshDir(prefix: String): String = {
    rootSeq += 1
    val p = work.resolve(f"$prefix-$rootSeq%03d")
    Env.deleteRec(p)
    p.toString
  }

  def pipeline(root: String): QuadLogPipeline =
    new QuadLogPipeline(spark, root, numBuckets = numBuckets)
}

object Env {
  def deleteRec(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }

  def bytesUnder(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  /** Regular files under `dir` whose name starts with `prefix`. */
  def filesUnder(dir: String, prefix: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Seq.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala
        .filter(f => Files.isRegularFile(f) && f.getFileName.toString.startsWith(prefix)).toSeq
      finally s.close()
    }
  }
}

/** A benchmark workload: inputs made from a [[Corpus]], a cycle of timed
  * calls on one store root, and the output checks of that cycle.
  *
  * A cycle starts with [[start]] (untimed: the store the timed batch runs
  * on, or nothing) and then runs [[steps]], the timed calls. */
abstract class Workload(val env: Env, val corpus: Corpus) {
  import env._
  import spark.implicits._

  def name: String

  /** Whether output checks run; the setup's warm-up copy skips them (its
    * calls still count as operations). */
  var checking: Boolean = true

  protected def verify(what: String)(cond: => Boolean): Unit =
    if (checking) checks.check(what)(cond)

  /** Input page sets: (part name, local page indices, snapshot). */
  protected def pageParts: Seq[(String, Seq[Long], Int)]

  /** Input url sets: (part name, urls). */
  protected def urlParts: Seq[(String, Seq[String])] = Seq.empty

  /** Materialize every input under `dir` as two parquet tables partitioned
    * by part name, so timed calls read a stored page table. */
  def prepare(dir: String): Unit = {
    inputDir = dir
    val rows = pageParts.flatMap { case (part, idx, snap) => idx.map(j => (part, j, snap)) }
    val c = corpus
    spark.sparkContext.parallelize(rows, spark.sparkContext.defaultParallelism * 2)
      .map { case (part, j, snap) =>
        val pg = c.page(j, snap)
        PartPage(part, pg.url, pg.warc_ts, pg.html, pg.text, pg.lang)
      }.toDS()
      .write.partitionBy("part").parquet(s"$dir/pages")
    urlParts.flatMap { case (part, urls) => urls.map(part -> _) }.toDF("part", "url")
      .coalesce(1).write.partitionBy("part").parquet(s"$dir/urls")
  }

  /** Use inputs an earlier [[prepare]] wrote under `dir`. */
  def attach(dir: String): this.type = { inputDir = dir; this }

  /** Untimed cycle start on a fresh `root`. */
  def start(root: String): QuadLogPipeline

  /** The cycle's timed calls; appends one [[Call]] per call. */
  def steps(root: String, pipe: QuadLogPipeline, calls: ArrayBuffer[Call],
            hook: CallHook): Unit

  /** Pages of the workload's bootstrap input. */
  def bootstrapInput: Dataset[Page]

  /** Pages the workload's timed pipeline calls extract. */
  def extractedPages: Dataset[Page]

  /** Checks on the last cycle's root, run once after the timed loop. */
  def lastCycleChecks(root: String): Unit = ()

  /** Whether [[start]] already runs every code path of the timed calls
    * once, so setup needs no scaled-down copy of the workload. */
  def startWarmsUp: Boolean = false

  // --- shared pieces -------------------------------------------------------

  protected var inputDir: String = _

  protected def readPages(part: String): Dataset[Page] =
    spark.read.parquet(s"$inputDir/pages").filter(col("part") === part).drop("part").as[Page]

  protected def readUrls(part: String): Dataset[String] =
    spark.read.parquet(s"$inputDir/urls").filter(col("part") === part).select("url").as[String]

  protected val ckpt0 = "00000000000000"
  protected def ckpt(k: Int): String = f"${20240101000000L + k * 1000000L}%014d"

  def timedBootstrap(root: String, pipe: QuadLogPipeline, pages: Dataset[Page],
                     docs: Long, calls: ArrayBuffer[Call], hook: CallHook,
                     label: String = "bootstrap", kind: String = "pipeline"): Option[BatchResult] = {
    hook.before(pipe)
    checks.op(label)(tracer.span(label, kind)(pipe.bootstrap(pages, "bench", ckpt0)))
      .map { case (r, sp) =>
        calls += Call(kind, sp, docs, r.added + r.deleted)
        hook.after(pipe, sp, r, root)
        checkBatchFiles(root, r, dump = true)
        r
      }
  }

  def timedPublish(root: String, calls: ArrayBuffer[Call], hook: CallHook,
                   label: String, kind: String = "publish"): Unit = {
    val sink = s"$root/sink"
    val before = Env.bytesUnder(sink)
    checks.op(label)(tracer.span(label, kind)(
        ZipPublisher.publish(spark, s"$root/patches", sink)))
      .foreach { case (zips, sp) =>
        calls += Call(kind, sp, 0L, 0L)
        hook.published(sp, zips, Env.bytesUnder(sink) - before)
      }
  }

  /** Patch body lines of one batch directory equal added + deleted; a
    * bootstrap's dump trailer `# quad count` equals added. */
  protected def checkBatchFiles(root: String, r: BatchResult, dump: Boolean): Unit = {
    val dir = s"$root/patches/batch_${r.batchId}"
    val files = Env.filesUnder(dir, "rdf_out_")
    val (trailer, data) = files.partition(_.getFileName.toString.endsWith("-99999999999998"))
    val body = data.map { f =>
      val s = Files.lines(f)
      try s.iterator().asScala.count(l => l.nonEmpty && !l.startsWith("#")).toLong finally s.close()
    }.sum
    verify(s"batch ${r.batchId}: patch body lines ($body) == added + deleted " +
      s"(${r.added + r.deleted})")(body == r.added + r.deleted)
    if (dump) {
      val count = trailer.headOption.flatMap { f =>
        Files.readAllLines(f).asScala.collectFirst {
          case l if l.startsWith("# quad count") => l.stripPrefix("# quad count").trim.toLong
        }
      }
      verify(s"batch ${r.batchId}: dump trailer quad count $count == added ${r.added}")(
        count.contains(r.added))
    }
  }

  /** State equals re-derivation: no diff between the committed facts and a
    * fresh extraction of the pages that should be live. */
  protected def checkState(pipe: QuadLogPipeline, live: Dataset[Page], what: String): Unit =
    verify(s"$name: state == re-derivation $what")(
      QuadDiff.diff(pipe.currentQuads, pipe.extractedQuads(live)).isEmpty)
}

/** Per-call observation points for the traced run (no-ops otherwise);
  * they run outside the timed spans. */
class CallHook {
  def before(pipe: QuadLogPipeline): Unit = ()
  def after(pipe: QuadLogPipeline, sp: Span, r: BatchResult, root: String): Unit = ()
  def published(sp: Span, zips: Seq[ZipPublisher.ZipInfo], bytes: Long): Unit = ()
  def cycleEnd(pipe: QuadLogPipeline, root: String): Unit = ()
}

/** `bootstrap_dump`: bootstrap a full snapshot-0 page table, then publish
  * its patch files. Every cycle runs on a fresh root. */
final class BootstrapDump(env: Env, corpus: Corpus) extends Workload(env, corpus) {
  import env._
  def name = "bootstrap_dump"
  private lazy val s0 = corpus.live(0)

  protected def pageParts = Seq(("snap0", s0, 0))
  def bootstrapInput: Dataset[Page] = readPages("snap0")
  def extractedPages: Dataset[Page] = readPages("snap0")
  def start(root: String): QuadLogPipeline = env.pipeline(root)

  def steps(root: String, p: QuadLogPipeline, calls: ArrayBuffer[Call],
            hook: CallHook): Unit =
    timedBootstrap(root, p, bootstrapInput, s0.size.toLong, calls, hook)
      .foreach(_ => timedPublish(root, calls, hook, "publish#0"))

  /** The patch set of the last cycle's bootstrap, checked once after the
    * loop so that the check's own Spark queries run outside the cycles. */
  override def lastCycleChecks(root: String): Unit =
    verify("bootstrap_dump: patch set == ExpectedKg closed form")(
      Expected.matchesDump(spark, corpus, s0, s"$root/patches/batch_0"))
}

/** `incremental_churn`: the batches of snapshots 2 and 3, each followed by
  * a publish, on one store that holds the bootstrap of snapshot 0 and the
  * batch of snapshot 1, each published.
  *
  * The cycle's untimed start runs the bootstrap, the batch of snapshot 1
  * and their publishes, so it also runs every code path of the timed calls
  * once: setup needs no scaled-down copy of this workload. */
final class IncrementalChurn(env: Env, corpus: Corpus) extends Workload(env, corpus) {
  import env._
  def name = "incremental_churn"
  override def startWarmsUp: Boolean = true

  /** Snapshots whose batches the cycle times. */
  private val timedSnaps = 2 to 3

  private lazy val s0 = corpus.live(0)
  private lazy val batches: Map[Int, (Seq[Long], Seq[Long])] =
    (1 to timedSnaps.last).map(k => k -> (corpus.changed(k), corpus.deleted(k))).toMap

  protected def pageParts =
    ("snap0", s0, 0) +: batches.toSeq.sortBy(_._1).map { case (k, (ch, _)) => (s"changed$k", ch, k) }
  override protected def urlParts =
    batches.toSeq.sortBy(_._1).map { case (k, (_, del)) => (s"deleted$k", del.map(corpus.url)) }
  def bootstrapInput: Dataset[Page] = readPages("snap0")
  def extractedPages: Dataset[Page] = timedSnaps.map(k => readPages(s"changed$k")).reduce(_ union _)

  private def incremental(p: QuadLogPipeline, k: Int): BatchResult =
    p.incremental(k.toLong, ckpt(k), readPages(s"changed$k"), readUrls(s"deleted$k"))

  def start(root: String): QuadLogPipeline = {
    val p = env.pipeline(root)
    checks.op("bootstrap (untimed)")(p.bootstrap(bootstrapInput, "bench", ckpt0))
    checks.op("publish#0 (untimed)")(ZipPublisher.publish(spark, s"$root/patches", s"$root/sink"))
    checks.op("incremental#1 (untimed)")(incremental(p, 1)).foreach(checkBatchFiles(root, _, dump = false))
    checks.op("publish#1 (untimed)")(ZipPublisher.publish(spark, s"$root/patches", s"$root/sink"))
    Tracer.log("store ready: bootstrap and batch 1, each published")
    p
  }

  def steps(root: String, p: QuadLogPipeline, calls: ArrayBuffer[Call],
            hook: CallHook): Unit = {
    timedSnaps.foreach { k =>
      val (ch, del) = batches(k)
      hook.before(p)
      checks.op(s"incremental#$k")(tracer.span(s"incremental#$k", "pipeline")(incremental(p, k)))
        .foreach { case (r, sp) =>
          calls += Call("pipeline", sp, (ch.size + del.size).toLong, r.added + r.deleted)
          hook.after(p, sp, r, root)
          checkBatchFiles(root, r, dump = false)
          timedPublish(root, calls, hook, s"publish#$k")
        }
    }
    val last = timedSnaps.last
    checkState(p, Corpus.pages(spark, corpus, corpus.live(last), last), s"after batch $last")
  }
}

/** The traced run's probe input and merge probe, a scaled-down stand-in
  * for the `alias_merge` workload. Its bootstrap input is a corpus's
  * snapshot-0 pages less those that name the /alt/ alias of
  * [[MergeProbe.mergeIri]]. On a store bootstrapped from it, a batch of the
  * held-back pages is the first to name that alias, so it merges the
  * entity: its /alt/ IRI becomes the representative, and every stored fact
  * of the entity is retracted and re-added through the remap scan. */
final class MergeProbe(env: Env, corpus: Corpus) extends Workload(env, corpus) {
  import env._
  import spark.implicits._
  def name = "merge_probe"

  private lazy val (held, bootstrapPages) = corpus.live(0).partition(j =>
    ExpectedKg.pageQuads(corpus.page(j, 0)).exists(_.oLex == PageGen.aliasIri(MergeProbe.mergeIri)))

  /** Pages of [[bootstrapInput]]. */
  def bootstrapDocs: Long = bootstrapPages.size.toLong

  protected def pageParts = Seq(("snap0", bootstrapPages, 0), ("held", held, 0))
  def bootstrapInput: Dataset[Page] = readPages("snap0")
  def extractedPages: Dataset[Page] = readPages("held")

  def start(root: String): QuadLogPipeline = {
    val p = env.pipeline(root)
    checks.op("merge probe: bootstrap")(p.bootstrap(bootstrapInput, "bench", ckpt0))
    p
  }

  /** The merge batch, on a store that holds the bootstrap of
    * [[bootstrapInput]] and nothing else. */
  def steps(root: String, p: QuadLogPipeline, calls: ArrayBuffer[Call],
            hook: CallHook): Unit = {
    hook.before(p)
    checks.op("merge probe: incremental")(tracer.span("merge", "merge")(
        p.incremental(1L, ckpt(1), readPages("held"), spark.emptyDataset[String])))
      .foreach { case (r, sp) =>
        calls += Call("merge", sp, held.size.toLong, r.added + r.deleted)
        hook.after(p, sp, r, root)
        checkBatchFiles(root, r, dump = false)
      }
    checkState(p, Corpus.pages(spark, corpus, corpus.live(0), 0), "after the merge")
  }
}

object MergeProbe {
  /** The entity the probe merges: one reading of the ambiguous surface
    * "mercury", not the hub, so the merge rewrites a share of the store
    * rather than most of it. */
  val mergeIri: String = "http://kg.example.org/entity/Mercury_element"
}

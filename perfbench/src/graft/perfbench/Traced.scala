package graft.perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.plans.{PatchWriter, QuadDiff}
import graft.publish.ZipPublisher
import graft.streaming.{BatchResult, QuadLogPipeline}

/** The traced run: the untraced run's setup and timed loop with the
  * [[StageAttribution]] listener attached and per-call observations made
  * between calls, followed by direct layer probes, a traced/untraced A/B,
  * and the same bootstrap + publish at `local[1]`. Reports the per-layer
  * metrics and writes every span as JSON. */
object Traced {
  import PerfMain._

  final case class CallStat(freshIds: Long, remapPairs: Long,
                            canonRatio: Option[Double], remapRatio: Option[Double],
                            patchFiles: Long, patchBytes: Long)
  final case class PubStat(span: Span, zips: Int, resources: Long, bytes: Long)
  final case class CycleStat(storeBytes: Long, lineageLines: Long, patchLines: Long)

  /** Observations around each timed call of the loop. */
  final class TraceHook extends CallHook {
    val calls: ArrayBuffer[CallStat] = ArrayBuffer.empty
    val pubs: ArrayBuffer[PubStat] = ArrayBuffer.empty
    val cycles: ArrayBuffer[CycleStat] = ArrayBuffer.empty
    private var mapBefore = Map.empty[String, String]

    private def canonMap(pipe: QuadLogPipeline): Map[String, String] =
      pipe.canon.read().map(_.select("id", "canonical").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap).getOrElse(Map.empty)

    override def before(pipe: QuadLogPipeline): Unit = {
      mapBefore = canonMap(pipe)
      pipe.lastCanonBuckets = None
      pipe.lastRemapBuckets = None
    }

    override def after(pipe: QuadLogPipeline, sp: Span, r: BatchResult, root: String): Unit = {
      val m = canonMap(pipe)
      val remaps = mapBefore.collect { case (id, c) if m.get(id).exists(_ != c) => c -> m(id) }
      calls += CallStat((m.keySet -- mapBefore.keySet).size.toLong, remaps.toSet.size.toLong,
        pipe.lastCanonBuckets.map(_.size.toDouble / pipe.canon.numBuckets),
        pipe.lastRemapBuckets.map(_.size.toDouble / pipe.contrib.numBuckets),
        r.files, Env.bytesUnder(s"$root/patches/batch_${r.batchId}"))
    }

    override def published(sp: Span, zips: Seq[ZipPublisher.ZipInfo], bytes: Long): Unit =
      pubs += PubStat(sp, zips.size, zips.map(_.nResources).sum, bytes)

    override def cycleEnd(pipe: QuadLogPipeline, root: String): Unit = {
      val store = Seq("contrib", "facts", "canon", "graphidx")
        .map(d => Env.bytesUnder(s"$root/$d")).sum
      val lineage = pipe.lineage.agg(sum(col("added") + col("deleted"))).head().getLong(0)
      val lines = Env.filesUnder(s"$root/patches", "rdf_out_").map { f =>
        val s = Files.lines(f)
        try s.iterator().asScala.count(l => l.nonEmpty && !l.startsWith("#")).toLong
        finally s.close()
      }.sum
      cycles += CycleStat(store, lineage, lines)
    }
  }

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Length of the union of `[a, b]` intervals (ms), in seconds. */
  private def unionS(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var cur: Option[(Long, Long)] = None
    iv.sortBy(_._1).foreach { case (a, b) =>
      cur match {
        case Some((ca, cb)) if a <= cb => cur = Some((ca, math.max(cb, b)))
        case Some((ca, cb)) => total += cb - ca; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    cur.foreach { case (ca, cb) => total += cb - ca }
    total / 1e3
  }

  private def clipped(l: StageAttribution, s: Span, module: Option[String] = None) =
    l.stagesIn(s).filter(r => module.forall(_ == r.module))
      .map(r => (math.max(r.submitted, s.startMs), math.min(r.completed, s.endMs)))
      .filter { case (a, b) => b > a }

  def run(env0: Env, w: Workload, args: Args): String = {
    var env = env0
    val tracer = env.tracer
    val checks = env.checks
    val listener = StageAttribution.install(env.spark.sparkContext)
    val p = Run.prepare(env, w, args)
    val probe = new MergeProbe(env, p.small.corpus)
    val probeInputs = env.freshDir("probe-inputs")
    probe.prepare(probeInputs)
    val probeCalls = ArrayBuffer.empty[Call]
    /** The probe input's bootstrap on a fresh root. */
    def probeBootstrap(e: Env, label: String, kind: String): (String, QuadLogPipeline) = {
      val root = e.freshDir("probe")
      val pipe = e.pipeline(root)
      val input = new MergeProbe(e, p.small.corpus).attach(probeInputs)
      input.timedBootstrap(root, pipe, input.bootstrapInput, probe.bootstrapDocs, probeCalls,
        new CallHook, label, kind)
      (root, pipe)
    }
    def dropProbe(e: Env, label: String, kind: String): Unit =
      Env.deleteRec(Paths.get(probeBootstrap(e, label, kind)._1))

    // the first call in this fresh JVM: the probe input's bootstrap
    dropProbe(env, "cold", "cold")
    val (root0, pipe0) = Run.startWarm(env, w, p)
    val setupJvm = (Tracer.jitS(), Tracer.gcS(), Tracer.codegenS())
    Tracer.log("setup done")

    val hook = new TraceHook
    val (calls, lastRoot, lastPipe) = Run.loop(env, w, args.seconds, root0, pipe0, hook)

    // A/B on the probe input, in the order untraced, traced, traced,
    // untraced, so that warming and drift fall on both sides alike
    val sc = env.spark.sparkContext
    StageAttribution.remove(sc, listener)
    dropProbe(env, "untraced#1", "untraced")
    sc.addSparkListener(listener)
    dropProbe(env, "traced#1", "traced")
    val (tracedRoot, tracedPipe) = probeBootstrap(env, "traced#2", "traced")
    StageAttribution.remove(sc, listener)
    dropProbe(env, "untraced#2", "untraced")
    sc.addSparkListener(listener)
    probe.timedPublish(tracedRoot, probeCalls, new CallHook, "scaleN.publish", "scaleN")

    // the merge batch on that bootstrap: the first merge of the run
    val mergeHook = new TraceHook
    probe.steps(tracedRoot, tracedPipe, ArrayBuffer.empty, mergeHook)

    // extraction kernel over the workload's pages, forced by an order-free
    // checksum
    val pages = w.extractedPages
    val nPages = pages.count()
    val ext = (1 to 3).map { i =>
      tracer.span(s"extract#$i", "extract") {
        val q = graft.extract.TypedExtractor.pageQuads(pages.toDF())
        val r = q.agg(count(lit(1)), bit_xor(xxhash64(q.columns.map(col).toIndexedSeq: _*))).head()
        (r.getLong(0), r.getLong(1))
      }
    }
    checks.check("extract: checksum identical across reps")(ext.map(_._1).distinct.size == 1)
    val nQuads = ext.head._1._1

    // PatchWriter over the last cycle's committed facts, materialized first
    val src = env.freshDir("dumpq-src")
    lastPipe.currentQuads.select((lit("+").as("op") +: QuadDiff.quadCols.map(col)): _*)
      .write.parquet(src)
    val dq = env.spark.read.parquet(src)
    val nDump = dq.count()
    val dumps = (1 to 2).map { i =>
      val out = env.freshDir("dumpq-out")
      val r = tracer.span(s"dumpq#$i", "dumpq")(PatchWriter.write(env.spark, dq, out, "00000000000000"))
      Env.deleteRec(Paths.get(out))
      r._2
    }
    org.apache.spark.PerfBus.drain(sc)

    // the same bootstrap + publish at local[1]
    env.spark.stop()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    val one = session(1, args.work)
    listener.moveTo(one.sparkContext)
    env = new Env(one, args.work, tracer, checks, env0.numBuckets)
    val (r1, _) = probeBootstrap(env, "scale1.bootstrap", "scale1")
    new MergeProbe(env, p.small.corpus).attach(probeInputs)
      .timedPublish(r1, probeCalls, new CallHook, "scale1.publish", "scale1")
    org.apache.spark.PerfBus.drain(one.sparkContext)
    one.stop()

    // --- per-layer metrics --------------------------------------------------
    val pSpans = calls.filter(_.kind == "pipeline").map(_.span).toSeq
    val uSpans = calls.filter(_.kind == "publish").map(_.span).toSeq
    val stagesP = pSpans.flatMap(listener.stagesIn)
    def busy(spans: Seq[Span], m: String): Double =
      spans.flatMap(listener.stagesIn).filter(_.module == m).map(_.runS).sum / math.max(spans.size, 1)
    def perCall(f: StageRec => Double, m: String): Double =
      stagesP.filter(_.module == m).map(f).sum / math.max(pSpans.size, 1)
    val patchBytes = hook.calls.map(_.patchBytes).sum
    val stateOut = stagesP.filter(_.module == "state").map(_.outputBytes).sum
    val gaps = pSpans.map(s => s.wallS - unionS(clipped(listener, s)))
    val active = pSpans.map(s => unionS(clipped(listener, s))).sum
    val stageSum = pSpans.flatMap(s => clipped(listener, s)).map { case (a, b) => (b - a) / 1e3 }.sum
    val coldSpan = tracer.of("cold").head
    val untraced = median(tracer.of("untraced").map(_.wallS))
    val traced = median(tracer.of("traced").map(_.wallS))
    val timed = pSpans ++ uSpans
    val scale1 = tracer.of("scale1")
    val scaleN = tracer.of("traced").filter(_.name == "traced#2") ++ tracer.of("scaleN")
    def activeOf(spans: Seq[Span], m: Option[String]) =
      spans.map(s => unionS(clipped(listener, s, m))).sum
    def speedup(m: Option[String]) = activeOf(scale1, m) / activeOf(scaleN, m)
    val merged = mergeHook.calls.toSeq
    val pub = hook.pubs.toSeq

    val metrics: Seq[(String, Double, String)] = Seq(
      ("extract.docs_per_s", nPages / median(ext.map(_._2.wallS)), "docs/s"),
      ("extract.quads_per_doc", nQuads.toDouble / nPages, "quads/doc"),
      ("canon.busy_s", busy(tracer.of("merge"), "canon"), "s"),
      ("canon.fresh_ids", mean(merged.map(_.freshIds.toDouble)), "count"),
      ("canon.remap_pairs", mean(merged.map(_.remapPairs.toDouble)), "count"),
      ("canon.buckets_read_ratio", mean(merged.flatMap(_.canonRatio)), "ratio"),
      ("state.busy_s", busy(pSpans, "state"), "s"),
      ("state.bytes_written", stateOut.toDouble / math.max(pSpans.size, 1), "B"),
      ("state.bytes_on_disk", mean(hook.cycles.map(_.storeBytes.toDouble).toSeq), "B"),
      ("state.write_amp", stateOut.toDouble / math.max(patchBytes, 1L), "ratio"),
      ("state.remap_buckets_read_ratio",
        mean(merged.filter(_.remapPairs > 0).map(_.remapRatio.getOrElse(1.0))), "ratio"),
      ("state.shuffle_write_bytes", perCall(_.shuffleWriteBytes.toDouble, "state"), "B"),
      ("state.spill_bytes", perCall(_.spillBytes.toDouble, "state"), "B"),
      ("plans.busy_s", busy(pSpans, "plans"), "s"),
      ("plans.patch_files", mean(hook.calls.map(_.patchFiles.toDouble).toSeq), "count"),
      ("plans.patch_bytes", mean(hook.calls.map(_.patchBytes.toDouble).toSeq), "B"),
      ("plans.dump_quads_per_s", nDump / median(dumps.map(_.wallS)), "quads/s"),
      ("publish.busy_s", busy(uSpans, "publish"), "s"),
      ("publish.zips", mean(pub.map(_.zips.toDouble)), "count"),
      ("publish.bytes_written", mean(pub.map(_.bytes.toDouble)), "B"),
      ("publish.files_per_s",
        if (pub.isEmpty) 0.0 else pub.map(_.resources).sum / pub.map(_.span.wallS).sum, "files/s"),
      ("streaming.busy_s", busy(pSpans, "streaming"), "s"),
      ("streaming.jobs_per_batch", mean(pSpans.map(listener.jobsIn(_).toDouble)), "count"),
      ("streaming.driver_gap_s", mean(gaps), "s"),
      ("streaming.stage_concurrency", if (active > 0) stageSum / active else 0.0, "stages"),
      ("streaming.busy_share",
        stagesP.map(_.runS).sum / (args.cpus * pSpans.map(_.wallS).sum), "ratio"),
      ("streaming.lineage_over_patch_lines",
        hook.cycles.map(_.lineageLines).sum.toDouble / math.max(hook.cycles.map(_.patchLines).sum, 1L),
        "ratio"),
      ("jvm.gc_s.setup", setupJvm._2, "s"),
      ("jvm.gc_s.cold", coldSpan.gcS, "s"),
      ("jvm.gc_s.steady", mean(timed.map(_.gcS)), "s"),
      ("jvm.jit_s.setup", setupJvm._1, "s"),
      ("jvm.jit_s.cold", coldSpan.jitS, "s"),
      ("jvm.jit_s.steady", mean(timed.map(_.jitS)), "s"),
      ("spark.codegen_s.setup", setupJvm._3, "s"),
      ("spark.codegen_s.cold", coldSpan.codegenS, "s"),
      ("spark.codegen_s.steady", mean(timed.map(_.codegenS)), "s"),
      ("spark.task_retries",
        listener.allStages.map(r => r.failedTasks + (if (r.attempt > 0) 1 else 0)).sum.toDouble,
        "count"),
      ("cold.first_call_s", coldSpan.wallS, "s"),
      ("cold.excess_s", coldSpan.wallS - traced, "s"),
      ("scale.bootstrap.speedup", scale1.head.wallS / traced, "x"),
      ("scale.publish.speedup", scale1.last.wallS / tracer.of("scaleN").head.wallS, "x"),
      ("scale.canon.speedup", speedup(Some("canon")), "x"),
      ("scale.state.speedup", speedup(Some("state")), "x"),
      ("scale.plans.speedup", speedup(Some("plans")), "x"),
      ("scale.streaming.speedup", speedup(Some("streaming")), "x"),
      ("scale.publish_module.speedup", speedup(Some("publish")), "x"),
      ("trace.overhead", traced / untraced, "ratio"))

    args.spans.foreach(f => Files.write(f, spansJson(tracer, listener).getBytes("UTF-8")))
    resultJson(checks, metrics)
  }

  /** Every span with its stages' totals per module. */
  private def spansJson(tracer: Tracer, l: StageAttribution): String = {
    def q(s: String) = "\"" + s.replace("\"", "'") + "\""
    tracer.spans.map { s =>
      val st = l.stagesIn(s)
      val mods = st.groupBy(_.module).toSeq.sortBy(_._1).map { case (m, rs) =>
        s"${q(m)}: {" + Seq(
          "stages" -> rs.size.toDouble, "run_s" -> rs.map(_.runS).sum,
          "cpu_s" -> rs.map(_.cpuS).sum, "gc_s" -> rs.map(_.gcS).sum,
          "shuffle_write_bytes" -> rs.map(_.shuffleWriteBytes).sum.toDouble,
          "spill_bytes" -> rs.map(_.spillBytes).sum.toDouble,
          "output_bytes" -> rs.map(_.outputBytes).sum.toDouble,
          "failed_tasks" -> rs.map(_.failedTasks).sum.toDouble
        ).map { case (k, v) => s"${q(k)}: $v" }.mkString(", ") + "}"
      }
      s"""{"name": ${q(s.name)}, "kind": ${q(s.kind)}, "start_ms": ${s.startMs}, """ +
        s""""end_ms": ${s.endMs}, "wall_s": ${s.wallS}, "jit_s": ${s.jitS}, "gc_s": ${s.gcS}, """ +
        s""""codegen_s": ${s.codegenS}, "jobs": ${l.jobsIn(s)}, "modules": {${mods.mkString(", ")}}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

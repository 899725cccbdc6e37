package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import graft.streaming.QuadLogPipeline

/** The changelog benchmark's JVM entry point (see perfbench/README.md).
  *
  * {{{
  * PerfMain --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *          --work <dir> --result <file> [--cpus <n>]
  * }}}
  * Writes one JSON object to `--result`: the end-to-end metrics (trace 0)
  * or the per-layer metrics (trace 1), with the operation tallies. */
object PerfMain {

  /** Pages at snapshot 0, per workload. The scaled-down dump runs on an
    * eighth of them. */
  val sizes: Map[String, Long] = Map(
    "bootstrap_dump" -> 2000L,
    "incremental_churn" -> 2000L)

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: Path, result: Path, spans: Option[Path], cpus: Int)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    val w = need("workload")
    require(sizes.contains(w), s"unknown workload '$w' (known: ${sizes.keys.toSeq.sorted.mkString(", ")})")
    Args(w, need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      Paths.get(need("work")).toAbsolutePath, Paths.get(need("result")).toAbsolutePath,
      m.get("spans").map(Paths.get(_).toAbsolutePath),
      m.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()))
  }

  /** Local session with the engine's bench settings; Spark's local and
    * warehouse dirs stay in `work`. */
  def session(cpus: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      // one shuffle partition per core and no adaptive re-planning: at this
      // input size both are fixed per-job cost (a dump run took ~68 s with
      // AQE and 4 x cores partitions, ~47 s without, on 4 vCPUs)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.shuffle.file.buffer", "1m")
      .config("spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
      .config("spark.sql.parquet.compression.codec", "lz4")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.adaptive.enabled", "false")
      // Spark keeps 100 compiled codegen classes by default; a churn cycle
      // uses more, so every batch recompiled about a third of its wall
      // time (3 s of a 10 s batch) and the call times swung with it. Like a
      // long-running driver, the benchmark keeps all of them once warm.
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def workload(env: Env, name: String, c: Corpus): Workload = name match {
    case "bootstrap_dump" => new BootstrapDump(env, c)
    case "incremental_churn" => new IncrementalChurn(env, c)
  }

  def main(argv: Array[String]): Unit = {
    val code = try {
      val args = parse(argv)
      Files.createDirectories(args.work)
      val spark = session(args.cpus, args.work)
      Tracer.log("session ready")
      try {
        val env = new Env(spark, args.work, new Tracer, new Checks, numBuckets = 16)
        val w = workload(env, args.workload, Corpus.forSeed(sizes(args.workload), args.seed))
        val result =
          if (args.trace) Traced.run(env, w, args)
          else Untraced.run(env, w, args)
        Files.write(args.result, result.getBytes("UTF-8"))
        0
      } finally SparkSession.getActiveSession.foreach(_.stop())
    } catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }

  /** The scaled-down dump: bootstrap_dump on an eighth of the workload's
    * pages (at least 250), from pages of its own, with output checks off. */
  def smallDump(env: Env, w: Workload, seed: Long): BootstrapDump = {
    val c = new BootstrapDump(env, Corpus.forSeed(math.max(w.corpus.n / 8, 250L), seed + 7919L))
    c.checking = false
    c
  }

  /** One whole cycle: untimed start, then the timed steps. */
  def cycle(env: Env, w: Workload, calls: ArrayBuffer[Call], hook: CallHook,
            prefix: String = "root"): String = {
    val root = env.freshDir(prefix)
    w.steps(root, w.start(root), calls, hook)
    root
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The result object: tallies plus metrics as (name -> (value, unit)). */
  def resultJson(checks: Checks, metrics: Seq[(String, Double, String)]): String = {
    def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
    val ms = metrics.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
    s"""{"correct": ${checks.failed == 0}, "attempted": ${checks.attempted}, """ +
      s""""failed": ${checks.failed}, "metrics": {${ms.mkString(", ")}}}"""
  }
}

/** Setup and timed loop, shared by the untraced and the traced run. */
object Run {
  import PerfMain._

  /** Inputs of the workload and of the scaled-down dump, which is
    * bootstrap_dump's warm-up copy; the traced run's probes use its corpus. */
  final case class Prepared(small: BootstrapDump, smallInputs: String)

  def prepare(env: Env, w: Workload, args: Args): Prepared = {
    w.prepare(env.freshDir("inputs"))
    val small = smallDump(env, w, args.seed)
    val smallInputs = env.freshDir("small-inputs")
    small.prepare(smallInputs)
    Tracer.log("inputs ready")
    Prepared(small, smallInputs)
  }

  /** The first cycle's untimed start on a fresh root, after a warm-up: a
    * cycle of the scaled-down dump on its own root, unless the start itself
    * warms the workload up. Returns the root and its pipeline. */
  def startWarm(env: Env, w: Workload, p: Prepared): (String, QuadLogPipeline) = {
    if (!w.startWarmsUp) {
      Env.deleteRec(Paths.get(cycle(env, p.small, ArrayBuffer.empty, new CallHook, "warm")))
      Tracer.log("warm-up done")
    }
    val root = env.freshDir("root")
    (root, w.start(root))
  }

  /** Whole cycles until `seconds` have passed; the first cycle runs on the
    * `(root, pipe)` setup started, and the workload's last-cycle checks run
    * after the last. Returns the calls and the last root with its pipeline;
    * the last root is kept, earlier ones are deleted. */
  def loop(env: Env, w: Workload, seconds: Double, root0: String, pipe0: QuadLogPipeline,
           hook: CallHook): (ArrayBuffer[Call], String, QuadLogPipeline) = {
    val calls = ArrayBuffer.empty[Call]
    val t0 = System.nanoTime()
    var (root, pipe) = (root0, pipe0)
    var more = true
    while (more) {
      w.steps(root, pipe, calls, hook)
      hook.cycleEnd(pipe, root)
      more = (System.nanoTime() - t0) / 1e9 < seconds
      if (more) {
        Env.deleteRec(Paths.get(root))
        root = env.freshDir("root"); pipe = w.start(root)
      }
    }
    w.lastCycleChecks(root)
    (calls, root, pipe)
  }
}

/** The untraced run: setup, then whole cycles of the workload until the
  * measuring window has passed; reports the end-to-end metrics. */
object Untraced {
  import PerfMain._

  def run(env: Env, w: Workload, args: Args): String = {
    import env._
    val p = Run.prepare(env, w, args)
    val (root, pipe) = Run.startWarm(env, w, p)
    val setupS = (System.currentTimeMillis() - Tracer.jvmStartMs) / 1e3
    Tracer.log(f"setup done ($setupS%.2f s since JVM start)")
    val (calls, _, _) = Run.loop(env, w, args.seconds, root, pipe, new CallHook)
    val pipeCalls = calls.filter(_.kind == "pipeline").toSeq
    val pubCalls = calls.filter(_.kind == "publish").toSeq
    val wall = pipeCalls.map(_.span.wallS).sum
    resultJson(checks, Seq(
      ("setup_s", setupS, "s"),
      ("docs_per_s", pipeCalls.map(_.docs).sum / wall, "docs/s"),
      ("patch_lines_per_s", pipeCalls.map(_.lines).sum / wall, "lines/s"),
      ("batch_p50_s", median(pipeCalls.map(_.span.wallS)), "s"),
      ("publish_p50_s", median(pubCalls.map(_.span.wallS)), "s"),
      ("peak_rss_mb", Tracer.peakRssMb(), "MB"),
      ("ok_ratio", 1.0 - checks.failed.toDouble / math.max(checks.attempted, 1L), "ratio")))
  }
}

/** Training run for the build's class-data-sharing archive: one small dump
  * cycle (bootstrap, publish, checks) with stage attribution on, so most
  * classes a run needs are loaded once at build time.
  * Usage: `Train <work dir>`. */
object Train {
  def main(argv: Array[String]): Unit = {
    val work = Paths.get(argv(0)).toAbsolutePath
    Files.createDirectories(work)
    val spark = PerfMain.session(Runtime.getRuntime.availableProcessors(), work)
    val code = try {
      StageAttribution.install(spark.sparkContext)
      val env = new Env(spark, work, new Tracer, new Checks, numBuckets = 16)
      val w = PerfMain.workload(env, "bootstrap_dump", Corpus.forSeed(250L, 0L))
      w.prepare(env.freshDir("inputs"))
      PerfMain.cycle(env, w, ArrayBuffer.empty, new CallHook)
      if (env.checks.failed == 0) 0 else 1
    } catch { case e: Throwable => e.printStackTrace(); 1 }
    finally spark.stop()
    System.exit(code)
  }
}

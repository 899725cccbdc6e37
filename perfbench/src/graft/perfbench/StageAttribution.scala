package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.{Success, SparkContext}
import org.apache.spark.scheduler._

/** One completed stage attempt with its task metrics summed over tasks.
  * Times are epoch milliseconds; byte counts are bytes. */
final case class StageRec(stageId: Int, attempt: Int, module: String,
                          submitted: Long, completed: Long,
                          runS: Double, cpuS: Double, gcS: Double,
                          shuffleWriteBytes: Long, spillBytes: Long,
                          outputBytes: Long, failedTasks: Int, failed: Boolean)

/** A benchmark span: one timed call or setup phase, with the JVM's JIT, GC
  * and Spark codegen time spent while it was open. */
final case class Span(name: String, kind: String, startMs: Long, endMs: Long,
                      wallS: Double, jitS: Double, gcS: Double, codegenS: Double)

/** Assigns every stage to the `graft` module (package) of the first user
  * frame of its call site, and — by submission time — to the benchmark span
  * open when it was submitted. Spans are sequential (one client thread), so
  * stages submitted from the pipeline's sink threads still land in the span
  * of the call that submitted them. Records stay in memory until the run
  * ends. */
final class StageAttribution extends SparkListener {
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val jobStarts = new ConcurrentLinkedQueue[java.lang.Long]()
  private val failedTasks = new ConcurrentHashMap[(Int, Int), AtomicInteger]()
  private val modules = new ConcurrentHashMap[(Int, Int), String]()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobStarts.add(e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val i = e.stageInfo
    modules.put((i.stageId, i.attemptNumber()), StageAttribution.moduleOf(i.details))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.reason != Success)
      failedTasks.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new AtomicInteger())
        .incrementAndGet()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val key = (i.stageId, i.attemptNumber())
    val m = i.taskMetrics
    val done = i.completionTime.getOrElse(System.currentTimeMillis())
    stages.add(StageRec(i.stageId, i.attemptNumber(),
      Option(modules.get(key)).getOrElse(StageAttribution.moduleOf(i.details)),
      i.submissionTime.getOrElse(done), done,
      if (m == null) 0.0 else m.executorRunTime / 1e3,
      if (m == null) 0.0 else m.executorCpuTime / 1e9,
      if (m == null) 0.0 else m.jvmGCTime / 1e3,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled,
      if (m == null) 0L else m.outputMetrics.bytesWritten,
      Option(failedTasks.get(key)).map(_.get).getOrElse(0),
      i.failureReason.isDefined))
  }

  /** Completed stages submitted while `s` was open. */
  def stagesIn(s: Span): Seq[StageRec] =
    stages.asScala.toSeq.filter(r => r.submitted >= s.startMs && r.submitted <= s.endMs)

  def jobsIn(s: Span): Int =
    jobStarts.asScala.count(t => t >= s.startMs && t <= s.endMs)

  def allStages: Seq[StageRec] = stages.asScala.toSeq

  /** Listen to a new context once the old one has stopped. Stage ids start
    * again at 0 there, so the in-flight keys of the old one are dropped;
    * completed records stay. */
  def moveTo(sc: SparkContext): Unit = {
    failedTasks.clear()
    modules.clear()
    sc.addSparkListener(this)
  }
}

object StageAttribution {
  private val Frame = """^\s*(?:at\s+)?graft\.([a-z]+)\.[^(]*\(([^:)]+)""".r.unanchored

  /** Module of a stage's call site: the package under `graft` of the first
    * graft frame of `StageInfo.details` (`plans` for PatchWriter.scala and
    * QuadDiff.scala, `state` for SnapshotStore.scala, …). Stages the
    * benchmark itself submits are `perfbench`; anything else is `other`. */
  def moduleOf(details: String): String =
    Option(details).toSeq.flatMap(_.split('\n'))
      .collectFirst { case Frame(pkg, _) => pkg }
      .getOrElse("other")

  def install(sc: SparkContext): StageAttribution = {
    val l = new StageAttribution
    sc.addSparkListener(l)
    l
  }

  def remove(sc: SparkContext, l: StageAttribution): Unit = {
    org.apache.spark.PerfBus.drain(sc)
    sc.removeSparkListener(l)
  }
}

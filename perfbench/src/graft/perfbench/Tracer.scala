package graft.perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Sequential span clock for the benchmark's single client thread. Every
  * span records its wall time and the JIT, GC and Spark codegen time the
  * JVM spent while it was open. */
final class Tracer {
  val spans: ArrayBuffer[Span] = ArrayBuffer.empty

  def span[T](name: String, kind: String)(f: => T): (T, Span) = {
    val (j0, g0, c0) = (Tracer.jitS(), Tracer.gcS(), Tracer.codegenS())
    val s0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val r = f
    val wall = (System.nanoTime() - n0) / 1e9
    val sp = Span(name, kind, s0, System.currentTimeMillis(), wall,
      Tracer.jitS() - j0, Tracer.gcS() - g0, Tracer.codegenS() - c0)
    spans += sp
    Tracer.log(f"$kind%-9s $name%-22s ${wall}%8.3f s")
    (r, sp)
  }

  def of(kind: String): Seq[Span] = spans.toSeq.filter(_.kind == kind)
}

object Tracer {
  /** Progress line on stderr, stamped with seconds since process start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%7.2f] $msg")

  def jitS(): Double =
    Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime / 1e3).getOrElse(0.0)

  def gcS(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** Spark's whole-stage/expression codegen compile time so far. The
    * histogram keeps every sample until it holds 1028; past that the sum is
    * estimated as count x mean. */
  def codegenS(): Double = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = h.getSnapshot
    val ms = if (snap.size == h.getCount) snap.getValues.sum.toDouble else h.getCount * snap.getMean
    ms / 1e3
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.util.Using(scala.io.Source.fromFile("/proc/self/status")) { src =>
      src.getLines().collectFirst {
        case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
      }.getOrElse(0.0)
    }.getOrElse(0.0)

  /** Process start, epoch milliseconds. */
  def jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime
}

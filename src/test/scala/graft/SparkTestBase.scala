package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for all specs (one JVM; sbt forks tests). */
object SparkTestBase {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-tests")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.hadoop.fs.countfs.impl", classOf[CountingFileSystem].getName)
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")
}

abstract class GraftSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.spark
  override protected def afterAll(): Unit = { /* shared session: keep alive */ }
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Spark jobs started while `body` runs, on any thread. Two marker jobs,
    * tagged by a local property, bracket `body`; the scheduler numbers jobs
    * in submission order, and the suites of the forked test JVM run one at
    * a time, so the ids strictly between the markers' are `body`'s jobs —
    * including those it submits from its own thread pools, which a
    * thread-local tag would miss. */
  def jobsRunBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val key = "graft.test.jobMarker"
    val id = s"marker-${System.nanoTime()}"
    val seen = new java.util.concurrent.ConcurrentHashMap[String, Integer]
    val done = scala.concurrent.Promise[Unit]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key)))
          .filter(_.startsWith(id)).foreach { m =>
            seen.put(m, e.jobId)
            if (seen.size == 2) done.trySuccess(())
          }
    }
    def marker(tag: String): Unit = {
      sc.setLocalProperty(key, tag)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(key, null)
    }
    sc.addSparkListener(l)
    try {
      marker(s"$id-start")
      body
      marker(s"$id-end")
      scala.concurrent.Await.result(done.future, scala.concurrent.duration.Duration(60, "s"))
      seen.get(s"$id-end") - seen.get(s"$id-start") - 1
    } finally sc.removeSparkListener(l)
  }

  /** Run `body` with SQL confs temporarily set, restoring priors after. */
  def withSQLConf[T](pairs: (String, String)*)(body: => T): T = {
    val conf = spark.conf
    val priors = pairs.map { case (k, _) => k -> conf.getOption(k) }
    pairs.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally priors.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }
}

package graft

/** North-rule scaling evidence (BASELINE.json): the sandbox has no real
  * cluster, so per the driver's instruction we run the IDENTICAL job at two
  * parallelism levels — local[8] (N) and local[32] (4N) — on the same input
  * and report throughput at both plus efficiency = (T_8 / T_32) / 4.
  *
  * The job is the full KG pipeline (bootstrap + incremental), whose
  * parallel structure (hash-partitioned extraction, one-exchange diff,
  * bucketed merge-on-read commits) is what must scale.
  */
object ScalingBench {
  def main(args: Array[String]): Unit = {
    val nPages = sys.env.getOrElse("SPARK_GRAFT_BENCH_PAGES", "60000").toLong
    def runAt(cpus: Int): (Double, Double) = {
      val spark = Bench.mkSession(cpus.toString)
      spark.sparkContext.setLogLevel("WARN")
      // warm the JVM/JIT and the parquet reader once at the smaller size
      val warm = Bench.scratchRoot("graft_warm")
      Bench.pipelineRun(spark, math.min(nPages / 10, 5000L), warm)
      val root = Bench.scratchRoot("graft_scale")
      val (docs, secs, _) = Bench.pipelineRun(spark, nPages, root)
      spark.stop()
      // SparkSession.stop clears the active session but keeps the JVM; a new
      // builder with a different master creates a fresh context
      org.apache.spark.sql.SparkSession.clearActiveSession()
      org.apache.spark.sql.SparkSession.clearDefaultSession()
      (secs, docs / secs)
    }
    val (t8, thr8) = runAt(8)
    val (t32, thr32) = runAt(32)
    val eff = (t8 / t32) / 4.0
    println(f"""{"metric":"scaling","pages":$nPages,"t_local8_sec":$t8%.2f,"t_local32_sec":$t32%.2f,"docs_per_sec_8":$thr8%.1f,"docs_per_sec_32":$thr32%.1f,"speedup":${t8 / t32}%.2f,"efficiency":$eff%.3f}""")
  }
}

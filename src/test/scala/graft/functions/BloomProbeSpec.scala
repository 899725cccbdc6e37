package graft.functions

import graft.GraftSpec
import org.apache.spark.sql.functions._

/** The codegen'd bloom predicate that keeps the facts-prune a narrow,
  * never-shuffling pass (QuadLogPipeline's churn prune). Contract under
  * test: NO false negatives (every built key probes true through the real
  * filter plan), bounded false positives at the sized regime, graceful
  * saturation at the capped regime, null pass-through, and the predicate
  * staying INSIDE whole-stage codegen (the reason it exists — a UDF here
  * would split the fused scan+filter stage). */
class BloomProbeSpec extends GraftSpec {

  import spark.implicits._

  test("no false negatives; FPR bounded at the sized regime") {
    val keys = (0L until 5000L).map(i => i * 2654435761L + 17).toDS().toDF("k")
    val bloom = BloomProbe.build(keys, 5000L, maxBits = 1L << 27)
    val b = spark.sparkContext.broadcast(bloom)

    val members = keys.filter(BloomProbe(b, col("k"))).count()
    assert(members == 5000L, "a built key must always probe true")

    // disjoint probe set (odd offsets can't collide with the even-offset build set)
    val probes = (0L until 20000L).map(i => i * 7919L + 1000000007L).toDS().toDF("k")
    val fp = probes.filter(BloomProbe(b, col("k"))).count()
    assert(fp < 20000L * 0.05, s"FPR out of range: $fp/20000 at 10 bits/key")
    b.unpersist()
  }

  test("the driver-built filter over collected xxhash64 keys has the distributed build's bits") {
    // the canon prune collects (id, xxhash64(id)) and builds on the driver
    val ids = (0 until 3000).map(i => s"http://kg.example.org/e$i").toDS().toDF("id").repartition(5)
    val hashes = ids.select(xxhash64(col("id"))).as[Long].collect()
    for (maxBits <- Seq(1L << 27, 1L << 12)) {
      val dist = BloomProbe.build(ids.select(xxhash64(col("id"))), 3000L, maxBits)
      val local = BloomProbe.onDriver(hashes, 3000L, maxBits)
      assert(local.k == dist.k && local.bits.sameElements(dist.bits), s"maxBits=$maxBits")
    }
    assert(BloomProbe.onDriver(Nil, 0L, 1L << 20).bits
      .sameElements(BloomProbe.build(ids.limit(0).select(xxhash64(col("id"))), 0L, 1L << 20).bits))
  }

  test("saturation past maxBits degrades FPR but never membership") {
    // cap the filter far below 10 bits/key: ~1.6 bits/key here
    val n = 10000L
    val keys = (0L until n).map(i => i * 1099511628211L + 3).toDS().toDF("k")
    val bloom = BloomProbe.build(keys, n, maxBits = 1L << 14)
    val b = spark.sparkContext.broadcast(bloom)
    val members = keys.filter(BloomProbe(b, col("k"))).count()
    assert(members == n, "saturation must not produce false negatives")
    b.unpersist()
  }

  test("null hash rows are dropped by the filter (tri-state null semantics)") {
    val df = Seq(Some(42L), None, Some(43L)).toDF("k")
    val bloom = BloomProbe.build(df.na.drop(), 2L, maxBits = 1L << 20)
    val b = spark.sparkContext.broadcast(bloom)
    assert(df.filter(BloomProbe(b, col("k"))).count() == 2L)
    b.unpersist()
  }

  test("probe stays inside whole-stage codegen (no CodegenFallback split)") {
    // spark.range, not a local Seq: ConvertToLocalRelation folds filters
    // over LocalTableScan driver-side, leaving no codegen span to inspect
    val df = spark.range(100).toDF("k")
    val bloom = BloomProbe.build(df, 100L, maxBits = 1L << 20)
    val b = spark.sparkContext.broadcast(bloom)
    val plan = df.filter(BloomProbe(b, xxhash64(col("k"))))
      .queryExecution.executedPlan
    // `*(n)` is how executedPlan.toString marks operators fused into a
    // WholeStageCodegen stage; a CodegenFallback expression would force
    // its Filter to print bare, outside any starred stage
    val filterLine = plan.toString.linesIterator
      .find(_.contains("bloom_probe")).getOrElse("")
    assert(filterLine.contains("*(") && filterLine.contains("Filter"),
      s"bloom_probe filter not inside a codegen stage: $filterLine")
    b.unpersist()
  }
}

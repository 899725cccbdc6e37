package graft.state

import graft.GraftSpec
import org.apache.spark.sql.functions._

class CompactedAppendTableSpec extends GraftSpec {
  import spark.implicits._

  test("file count stays bounded across many appends; data never lost") {
    val root = tmpDir("cat1") + "/t"
    for (b <- 0 until 100)
      CompactedAppendTable.append(spark, root,
        Seq((b.toLong, s"batch$b")).toDF("batchId", "tag"), maxFiles = 8)
    val data = CompactedAppendTable.read(spark, root).get
    assert(data.count() == 100)
    assert(data.agg(sum("batchId")).head().getLong(0) == (0 until 100).sum.toLong)
    // bounded: current generation holds at most maxFiles+1 data files
    // (the append that trips the threshold compacts right after)
    val cur = new java.io.File(CompactedAppendTable.currentDir(spark, root))
    val files = cur.listFiles().count(_.getName.endsWith(".parquet"))
    assert(files <= 9, s"file count $files not bounded")
    // exactly one generation dir survives (stale ones swept)
    val gens = new java.io.File(root).listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("gen_"))
    assert(gens.length == 1, s"stale generations: ${gens.mkString(",")}")
  }

  test("orphan generation from a crashed compaction is overwritten and swept") {
    val root = tmpDir("cat2") + "/t"
    (0 until 3).foreach(b => CompactedAppendTable.append(spark, root,
      Seq((b.toLong, "x")).toDF("batchId", "tag"), maxFiles = 100))
    // simulate a crash MID-compaction-write: gen_1 data files present but
    // no _SUCCESS commit marker (the job never finished) — readers must
    // keep seeing gen_0, never resolve to the torn rewrite
    Seq((99L, "orphan")).toDF("batchId", "tag")
      .write.parquet(s"$root/gen_1")
    assert(new java.io.File(s"$root/gen_1/_SUCCESS").delete())
    assert(CompactedAppendTable.read(spark, root).get.count() == 3)
    // next compaction overwrites the orphan and flips cleanly
    (0 until 10).foreach(b => CompactedAppendTable.append(spark, root,
      Seq((100L + b, "y")).toDF("batchId", "tag"), maxFiles = 4))
    val data = CompactedAppendTable.read(spark, root).get
    assert(data.count() == 13)
    assert(data.filter(col("tag") === "orphan").count() == 0, "orphan row leaked")
  }

  test("empty table reads as None; exists is false") {
    val root = tmpDir("cat3") + "/t"
    assert(!CompactedAppendTable.exists(spark, root))
    assert(CompactedAppendTable.read(spark, root).isEmpty)
  }

  test("reads are planned from the schema the first append recorded") {
    val root = tmpDir("cat5") + "/t"
    CompactedAppendTable.append(spark, root, Seq((1L, "a")).toDF("batchId", "tag"))
    assert(jobsRunBy(CompactedAppendTable.read(spark, root).get) == 0,
      "the read planned a schema-inference job")
    val e = intercept[RuntimeException] {
      CompactedAppendTable.append(spark, root, Seq((2L, 3)).toDF("batchId", "n"))
    }
    assert(e.getMessage.contains("the table records"), e.getMessage)
    assert(CompactedAppendTable.read(spark, root).get.as[(Long, String)].collect().toSeq ==
      Seq((1L, "a")))
  }

  test("lost pointer resolves to the newest committed generation, not gen_0") {
    val root = tmpDir("cat4") + "/t"
    // enough appends to force at least one compaction (pointer written,
    // gen_0 swept)
    (0 until 12).foreach(b => CompactedAppendTable.append(spark, root,
      Seq((b.toLong, "x")).toDF("batchId", "tag"), maxFiles = 4))
    val ptr = new java.io.File(s"$root/_current")
    assert(ptr.exists(), "precondition: compaction flipped the pointer")
    assert(!new java.io.File(s"$root/gen_0").exists(),
      "precondition: gen_0 swept by compaction")
    // the delete-then-rename crash window: pointer file gone entirely
    assert(ptr.delete())
    // must NOT fall back to the long-deleted gen_0 (table would read empty:
    // published state vanishes -> full duplicate republish)
    val data = CompactedAppendTable.read(spark, root)
    assert(data.nonEmpty, "table read as empty after pointer loss")
    assert(data.get.count() == 12)
    // appends keep working and re-establish a pointer at next compaction
    (12 until 20).foreach(b => CompactedAppendTable.append(spark, root,
      Seq((b.toLong, "y")).toDF("batchId", "tag"), maxFiles = 4))
    assert(CompactedAppendTable.read(spark, root).get.count() == 20)
  }
}

package graft

import org.apache.spark.sql.functions._

/** Throwaway micro-benchmark for perf triage (not part of the contract). */
object Micro {
  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("N", "8000").toLong
    val spark = Bench.mkSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "16"))
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    def time[T](l: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[micro] $l%-28s ${(System.nanoTime() - t0) / 1e9}%7.2fs"); r
    }
    if (sys.env.contains("QUERY")) {
      // time arbitrary SparkEntry queries: QUERY=name1,name2 [REPS=2] [SF=dir]
      val dir = sys.env.getOrElse("SF", "/root/testdata/sf0.1")
      val reps = sys.env.getOrElse("REPS", "2").toInt
      for (q <- sys.env("QUERY").split(","); r <- 1 to reps)
        time(s"$q#$r")(SparkEntry.queries(q)(spark, dir).count())
      spark.stop(); return
    }
    if (sys.env.contains("EXPLAIN")) {
      val dir = "/root/testdata/sf0.01"
      for (q <- sys.env("EXPLAIN").split(",")) {
        println(s"===== $q =====")
        SparkEntry.queries(q)(spark, dir).explain("formatted")
      }
      spark.stop(); return
    }
    if (sys.env.contains("SKEW_STRESS")) {
      // adversarial-skew probe at scale (north rule: "skew handled
      // explicitly"): EdgeGen's zipf-like corpus — one hub owning 10% of
      // all edges — through adjacency materialization and distributed CC.
      // The assertions are the ones that die under a naive plan: page
      // degree bounded at pageSize (collect_list would buffer the hub's
      // whole edge set), and CC convergence with correct hub labeling
      // (unsalted min-joins route every hub edge through one task).
      val nEdges = sys.env("SKEW_STRESS").toLong
      val pageSize = 4096
      val edges = graft.sources.EdgeGen.zipfEdges(spark, nEdges).localCheckpoint()
      val adjEdges = edges.select(col("s"), col("d").as("e"))
      time(s"skew adjacencyPages warm ($nEdges edges)") {
        graft.plans.GraphMaterialize.adjacencyPages(adjEdges, numBuckets = 32,
          pageSize = pageSize).agg(count(lit(1))).head()
      }
      val (nPages, maxDeg, total) = {
        val t0 = System.nanoTime()
        val r = graft.plans.GraphMaterialize.adjacencyPages(adjEdges, numBuckets = 32,
          pageSize = pageSize)
          .agg(count(lit(1)), max("degree"), sum("degree")).head()
        println(f"[micro] skew adjacencyPages            ${(System.nanoTime() - t0) / 1e9}%8.2fs")
        (r.getLong(0), r.getInt(1), r.getLong(2))
      }
      assert(maxDeg <= pageSize, s"page degree $maxDeg exceeds bound $pageSize")
      assert(total == nEdges, s"edge count drifted: $total != $nEdges")
      println(s"[micro] skew pages=$nPages maxDegree=$maxDeg (bound $pageSize) " +
        s"hubEdges=${nEdges / 10}")
      val labels = time(s"skew distributed CC ($nEdges edges)") {
        val l = graft.canon.ConnectedComponents
          .run(spark, edges.toDF("src", "dst"), smallGraphCutoff = 0)
        l.count(); l
      }
      val hubComp = labels.filter(col("component") === "hub0").count()
      assert(hubComp == nEdges / 10 + 1, s"hub component $hubComp members")
      println(s"[micro] skew CC hubComponent=$hubComp OK")
      spark.stop(); return
    }
    if (sys.env.contains("PUBLISH_SCALE")) {
      // consumer-facing ResourceSync tail at many-zip scale (r6 verdict
      // stretch #8): G graphs x F patch files, filesPerZip=2 -> G*F/2 zips.
      // What must stay bounded on the driver: the zip-build collect (one
      // summary ROW per zip — the manifest bodies, O(members) each, are
      // staged executor-side by the zip build) and the per-graph metadata
      // maps (O(graphs)). A no-op re-publish then reads the whole publish
      // record, with the heap's peak reset before it. GRAFT_TIMING prints
      // the publish-internal phase split (readRecord, batchRecords,
      // zipBuild, recordAppend, graphMetadata).
      val graphs = sys.env("PUBLISH_SCALE").toInt
      val filesPerGraph = 10
      val root = Bench.scratchRoot("micro_pub")
      val patchDir = s"$root/patches"
      import org.apache.spark.sql.functions._
      // synth patch files through the writer (one quad per file, so the
      // batch carries its write record like a pipeline batch)
      time(s"synth $graphs graphs x $filesPerGraph files") {
        val g = concat(lit("https://g"), (col("id") / filesPerGraph).cast("long"), lit(".example.org/"))
        graft.plans.PatchWriter.write(spark, spark.range(0, graphs.toLong * filesPerGraph).select(
          lit("+").as("op"), concat(lit("http://kg.example.org/e"), col("id")).as("s"),
          lit("http://kg.example.org/p").as("p"),
          concat(lit("http://kg.example.org/o"), col("id") % filesPerGraph).as("oLex"),
          lit(graft.model.TermKind.Iri).as("oKind"), lit(null).cast("string").as("oDtype"),
          lit(null).cast("string").as("oLang"), g.as("g")),
          s"$patchDir/batch_0", "00000000000000", maxq = 1)
      }
      val infos = time(s"publish (expect ~${graphs * filesPerGraph / 2} zips)") {
        graft.publish.ZipPublisher.publish(spark, patchDir, s"$root/sink", filesPerZip = 2)
      }
      println(s"[micro] publish zips=${infos.size} " +
        s"(driver rows = 1/zip, manifests executor-side)")
      val heap = scala.jdk.CollectionConverters.ListHasAsScala(
        java.lang.management.ManagementFactory.getMemoryPoolMXBeans).asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
      System.gc(); heap.foreach(_.resetPeakUsage())
      time("no-op re-publish") {
        graft.publish.ZipPublisher.publish(spark, patchDir, s"$root/sink", filesPerZip = 2)
      }
      println(f"[micro] re-publish peak heap ${heap.map(_.getPeakUsage.getUsed).sum / 1e6}%.0f MB " +
        "(sum of the heap pools' peaks)")
      spark.stop(); return
    }
    if (sys.env.contains("CANON_SCALE")) {
      // before/after evidence for the bucket/bloom-pruned canon map
      // (OPTIMIZATION_r07): an accumulated canonical map at N ids in a real
      // canon store (term-bloom sidecars), a batch referencing ~2k of them.
      // OLD shape (pre-r7 pipeline): full-map localCheckpoint per batch, a
      // domain distinct + anti-join for the fresh check, and — the map
      // being over broadcastRowLimit — a store-sized SHUFFLE join for the
      // rewrite. NEW shape: extendedCanonMap's sidecar+bloom-pruned view
      // (batch-sized) and a BROADCAST rewrite. Same rewritten rows, asserted.
      val n = sys.env("CANON_SCALE").toLong
      val root = Bench.scratchRoot("micro_canon")
      val pipe = new graft.streaming.QuadLogPipeline(spark, root, numBuckets = 64)
      def iriOf(i: org.apache.spark.sql.Column) =
        concat(lit("http://kg.example.org/entity/"), md5(i.cast("string")))
      val mapDf = graft.canon.IriCanonicalizer.withSignatures(
          spark.range(0, n).select(
            iriOf(col("id")).as("id"),
            // every 100th id is an alias of its predecessor -> the map is
            // non-trivial and the invariant (canonical ∈ ids) holds
            when(pmod(col("id"), lit(100)) === 0 && col("id") > 0,
              iriOf(col("id") - 1)).otherwise(iriOf(col("id"))).as("canonical")))
        // sig is the write-side persisted signature (typed kernel) — the
        // one-time cost paid at first write so no batch ever recomputes it
        .withColumn("bucket", pipe.canon.bucketCol(col("id")))
      time(s"canon store commitFull ($n ids + sig + sidecars)") {
        pipe.canon.commitFull(mapDf, 0L)
      }
      // batch: ~2k known iris spread over the id space (s and oLex slots)
      val batch = spark.range(0, 1000).select(
          concat(lit("https://h"), pmod(col("id"), lit(7)), lit(".example.org/p/"), col("id")).as("url"),
          iriOf(pmod(col("id") * 4999, lit(n))).as("s"),
          lit("http://kg.example.org/rel/r").as("p"),
          iriOf(pmod(col("id") * 7919 + 3, lit(n))).as("oLex"),
          lit(0).as("oKind"), lit(null.asInstanceOf[String]).as("oDtype"),
          lit(null.asInstanceOf[String]).as("oLang"),
          concat(lit("https://h"), pmod(col("id"), lit(7)), lit(".example.org/")).as("g"))
        .localCheckpoint()
      def fp(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
        val r = df.agg(count(lit(1)),
          bit_xor(xxhash64(col("url"), col("s"), col("oLex")))).head()
        (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
      }
      // --- OLD shape ---
      val oldRewrite = {
        var res: (Long, Long) = null
        val o = time("OLD full-map checkpoint")(
          pipe.canon.read().get.select("id", "canonical").localCheckpoint())
        val rows = o.count()
        time("OLD fresh check (domain distinct + anti)") {
          val oldIds = o.select(col("id"))
            .union(o.select(col("canonical").as("id"))).distinct()
          val iris = batch.select(col("s").as("id"))
            .union(batch.select(col("oLex").as("id"))).distinct()
          iris.join(oldIds, Seq("id"), "left_anti").count()
        }
        res = time(s"OLD rewrite join (map=$rows > broadcastRowLimit -> shuffle)")(
          fp(graft.canon.IriCanonicalizer.canonicalizeAttributed(batch, o, rows)))
        res
      }
      // --- NEW shape ---
      val newRewrite = {
        val ext = time("NEW extendedCanonMap (pruned view + fresh check)")(
          pipe.extendedCanonMap(batch))
        val (view, viewRows) = (ext.view, ext.viewRows)
        println(s"[micro] canon view rows: $viewRows of $n (buckets: " +
          s"${pipe.lastCanonBuckets.map(_.size).getOrElse(-1)}/${pipe.canon.numBuckets})")
        time("NEW rewrite join (view -> broadcast)")(
          fp(graft.canon.IriCanonicalizer.canonicalizeAttributed(batch, view, viewRows)))
      }
      assert(oldRewrite == newRewrite,
        s"pruned rewrite diverged: $newRewrite != $oldRewrite")
      println(s"[micro] canon rewrite rows=${newRewrite._1} (old == new)")
      // --- map EXTENSION with fresh ids: the last O(map) compute term ---
      // A batch bringing fresh ids runs extendChangedGivenFresh. The
      // RECOMPUTE shape (labeled OLD below) re-signs the ENTIRE
      // accumulated domain (n ids) per batch — NOTE it now uses the typed
      // kernel, so this baseline is already ~4x faster than the original
      // HOF form it replaced (314.5 s at 10M ids on this box; see
      // OPTIMIZATION_r07.md) — while the persisted-sig shape
      // (verifiedPairsStored) signs O(fresh) ids and scans the store's
      // narrow (id, sig) columns pre-filtered by the fresh band keys.
      // Same changed rows, asserted.
      val o = pipe.canon.read().get.select("id", "canonical")
      val freshN = 2000L
      val fresh = spark.range(0, freshN).select(
          concat(lit("http://kg.example.org/entity/fresh-"),
            md5(col("id").cast("string"))).as("id"))
        .localCheckpoint()
      def cfp(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
        val r = df.agg(count(lit(1)),
          bit_xor(xxhash64(col("id"), col("canonical")))).head()
        (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
      }
      val oldExt = time(s"OLD extendChangedGivenFresh (signature pass over $n ids)")(
        cfp(graft.canon.IriCanonicalizer.extendChangedGivenFresh(spark, o, fresh)))
      val sigs = pipe.canon.read().get.select("id", "sig")
      val newExt = time("NEW extendChangedGivenFresh (persisted sigs)")(
        cfp(graft.canon.IriCanonicalizer.extendChangedGivenFresh(spark, o, fresh,
          storedSigs = Some(sigs))))
      assert(oldExt == newExt, s"stored-sig extension diverged: $newExt != $oldExt")
      println(s"[micro] canon extension changed rows=${newExt._1} (old == new)")
      spark.stop(); return
    }
    if (sys.env.contains("BLOOM_TREE")) {
      // treeReduce evidence for BloomProbe.build: build time vs partition
      // count at a fixed key volume (the flat reduce ingested one filter
      // per partition at the driver; tree depth 2 keeps it ~flat)
      val keys = sys.env("BLOOM_TREE").toLong
      for (parts <- Seq(16, 64, 256)) {
        val ds = spark.range(0, keys, 1, parts).select(xxhash64(col("id")))
        time(s"bloom build keys=$keys parts=$parts warm") {
          graft.functions.BloomProbe.build(ds, keys, 1L << 29)
        }
        time(s"bloom build keys=$keys parts=$parts") {
          graft.functions.BloomProbe.build(ds, keys, 1L << 29)
        }
      }
      spark.stop(); return
    }
    val pages = graft.sources.PageGen.snapshot(spark, n, 0)
    time("pages.count warm1")(pages.count())
    time("pages.count warm2")(pages.count())
    val df = pages.toDF().cache()
    time("pages cache fill")(df.count())
    val quads = graft.extract.TypedExtractor.pageQuads(df)
    time("quads.count (typed)")(quads.count())
    val qc = quads.cache()
    time("quads cache fill")(qc.count())
    val iris = qc.select(col("s").as("id"))
      .union(qc.filter(col("oKind") === 0).select(col("oLex").as("id")))
      .filter(col("id").startsWith("http://kg.example.org/")).distinct()
    time("iris localCheckpoint")(iris.localCheckpoint().count())
    val cmap = time("canonicalMap")(
      graft.canon.IriCanonicalizer.canonicalMap(spark, iris.localCheckpoint())
        .localCheckpoint())
    val cmapRows = cmap.count() // real size for the broadcast gate
    time("canonicalize+count")(
      graft.canon.IriCanonicalizer.canonicalizeAttributed(qc, cmap, cmapRows).count())
    val out = java.nio.file.Files.createTempDirectory("micro").toString
    time("write 32 buckets")(
      qc.withColumn("bucket", pmod(xxhash64(col("url")), lit(32)).cast("int"))
        .repartition(32, col("bucket"))
        .write.mode("overwrite").partitionBy("bucket").parquet(out + "/p"))
    spark.stop()
  }
}

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
    if (sys.env.contains("EXTRACT_SCALE")) {
      // pure-COMPUTE scaling probe: extraction + checksum, zero writes —
      // isolates how much of the e2e efficiency gap is the kernel write
      // wall vs the compute path itself. Input = stored page table (same
      // shape as the e2e bench); result forced via an order-insensitive
      // checksum aggregate.
      val pages = sys.env("EXTRACT_SCALE").toLong
      val root = Bench.scratchRoot("micro_extract")
      graft.sources.PageGen.snapshot(spark, pages, 0)
        .write.mode("overwrite").parquet(root + "/pages")
      val stored = spark.read.parquet(root + "/pages")
      // JIT warmup on a slice, then the timed passes
      def pass(df: org.apache.spark.sql.DataFrame): Long =
        graft.extract.TypedExtractor.pageQuads(df)
          .agg(bit_xor(xxhash64(col("s"), col("p"), col("oLex"), col("g"))))
          .head().getLong(0)
      pass(stored.limit(20000))
      for (r <- 1 to 2) time(s"extract+checksum#$r (no writes)")(pass(stored))
      // + ONE corpus shuffle (the support aggregation shape), still no sink
      def passAgg(df: org.apache.spark.sql.DataFrame): Long =
        graft.extract.TypedExtractor.pageQuads(df)
          .groupBy("s", "p", "oLex", "oKind", "oDtype", "oLang", "g")
          .agg(count(lit(1)).as("n"))
          .agg(bit_xor(xxhash64(col("s"), col("n")))).head().getLong(0)
      passAgg(stored.limit(20000))
      for (r <- 1 to 2) time(s"extract+agg+checksum#$r (1 shuffle)")(passAgg(stored))
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
    if (sys.env.contains("SHUFFLE_KERNEL")) {
      // isolates the shuffle + parquet-write path (the flat stages):
      // N synthetic ~200B rows -> hash repartition -> snappy parquet
      val rows = sys.env("SHUFFLE_KERNEL").toLong
      val out = Bench.scratchRoot("micro_shuffle")
      val df = spark.range(0, rows)
        .select(col("id"),
          pmod(xxhash64(col("id")), lit(32)).cast("int").as("bucket"),
          md5(col("id").cast("string")).as("p1"),
          concat(lit("http://kg.example.org/entity/"), md5(concat(col("id").cast("string"), lit("x")))).as("p2"),
          concat(lit("https://host"), pmod(col("id"), lit(97)), lit(".example.org/page/"), col("id")).as("p3"))
      time("gen compute only (no IO)")(df.select(xxhash64(col("p1"), col("p2"), col("p3")))
        .agg(bit_xor(col("xxhash64(p1, p2, p3)"))).head())
      time("gen only (no shuffle)")(df.write.mode("overwrite").parquet(out + "/raw"))
      time("gen->disk /tmp")(df.write.mode("overwrite")
        .parquet("/tmp/micro_disk_" + rows))
      time("shuffle+write warm")(df.repartition(32, col("bucket"))
        .write.mode("overwrite").partitionBy("bucket").parquet(out + "/w"))
      time("shuffle+write 1")(df.repartition(32, col("bucket"))
        .write.mode("overwrite").partitionBy("bucket").parquet(out + "/p1"))
      time("shuffle only (noop agg)")(df.repartition(32, col("bucket"))
        .agg(count(lit(1))).head())
      for (w <- Seq(4, 8, 16, 32, 64)) {
        time(s"write tasks=$w")(df.repartition(w, col("bucket"))
          .write.mode("overwrite").parquet(out + s"/w$w"))
      }
      time("read+shuffle+write")(spark.read.parquet(out + "/raw")
        .repartition(32, col("bucket"))
        .write.mode("overwrite").partitionBy("bucket").parquet(out + "/p2"))
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
    if (sys.env.contains("PARQUET_SCALE")) {
      // isolates the parquet SINK wall (the ~1.7x-of-4x phases in the e2e
      // decomposition): quad-shaped rows -> parquet on tmpfs, per codec,
      // write and read-back timed separately. Run pinned at 8 and 32 cores
      // and compare speedups.
      val rows = sys.env("PARQUET_SCALE").toLong
      val out = Bench.scratchRoot("micro_pq")
      val df = spark.range(0, rows)
        .select(col("id"),
          concat(lit("http://kg.example.org/entity/"), md5(concat(col("id").cast("string"), lit("s")))).as("s"),
          concat(lit("http://kg.example.org/rel/"), pmod(col("id"), lit(40))).as("p"),
          concat(lit("http://kg.example.org/entity/"), md5(concat(col("id").cast("string"), lit("o")))).as("oLex"),
          lit(0).as("oKind"), lit(null.asInstanceOf[String]).as("oDtype"),
          lit(null.asInstanceOf[String]).as("oLang"),
          concat(lit("https://host"), pmod(col("id"), lit(97)), lit(".example.org/")).as("g"),
          pmod(xxhash64(col("id")), lit(32)).cast("int").as("bucket"))
        .localCheckpoint()
      for (codec <- Seq("snappy", "none", "lz4", "zstd")) {
        spark.conf.set("spark.sql.parquet.compression.codec", codec)
        time(s"pq write codec=$codec warm")(df.write.mode("overwrite").parquet(s"$out/$codec"))
        time(s"pq write codec=$codec")(df.write.mode("overwrite").parquet(s"$out/$codec"))
        val sz = {
          def du(f: java.io.File): Long =
            if (f.isFile) f.length
            else Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L)
          du(new java.io.File(s"$out/$codec")) / (1 << 20)
        }
        println(s"  codec=$codec size=${sz}MB")
        time(s"pq read codec=$codec")(spark.read.parquet(s"$out/$codec")
          .agg(bit_xor(xxhash64(col("s")))).head())
      }
      spark.stop(); return
    }
    if (sys.env.contains("MINHASH_HOF")) {
      // pins the cost of the HOF aggregate()/transform() signature path
      // (CodegenFallback — interpreted) against a typed mapPartitions
      // kernel computing the same 16 minhashes, at the CANON shape: short
      // character-3-gram shingle arrays of IRI local names. The HOF form
      // is only acceptable because this input is churn-sized; this probe
      // is the measurement behind the Canon.scala comment saying so.
      val rows = sys.env("MINHASH_HOF").toLong
      val toks = spark.range(0, rows).select(
          col("id").cast("string").as("id"),
          split(md5(col("id").cast("string")), "").as("toks"))
        .filter(size(col("toks")) > 0)
        .localCheckpoint()
      def sigChecksum(df: org.apache.spark.sql.DataFrame): Long =
        df.select(xxhash64(col("id"), concat_ws(",", col("sig").cast("array<string>"))).as("h"))
          .agg(bit_xor(col("h"))).head().getLong(0)
      val nH = 16
      def hof() = sigChecksum(graft.canon.MinHashBlocking.signatures(toks, nH))
      def typed(): Long = {
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.types._
        val enc = org.apache.spark.sql.Encoders.row(StructType(Seq(
          StructField("id", StringType), StructField("sig", ArrayType(LongType)))))
        val out = toks.mapPartitions { it =>
          it.map { r =>
            val id = r.getString(0)
            val ts = r.getSeq[String](1)
            val sig = new Array[Long](nH)
            var i = 0
            while (i < nH) {
              var m = Long.MaxValue
              ts.foreach { t =>
                val h = graft.sources.XXH64.hashString(t, i.toLong)
                if (h < m) m = h
              }
              sig(i) = m; i += 1
            }
            Row(id, sig.toSeq)
          }
        }(enc)
        sigChecksum(out)
      }
      hof(); typed() // JIT warmup
      for (r <- 1 to 2) time(s"minhash HOF aggregate #$r")(hof())
      for (r <- 1 to 2) time(s"minhash typed kernel  #$r")(typed())
      spark.stop(); return
    }
    if (sys.env.contains("REMAP_SCALE")) {
      // before/after evidence for the bucket-pruned remap scan: a contrib-
      // shaped store (quads keyed by url, term blooms over s/oLex) at N
      // rows; the remap lookup = semi-join of the store against a tiny
      // superseded-representative set. FULL = read every bucket (the old
      // shape); PRUNED = candidateBuckets probe + readBuckets. Same result
      // set by construction — the probe prints both timings + the planned
      // bucket counts.
      val rows = sys.env("REMAP_SCALE").toLong
      val nb = 64
      val root = Bench.scratchRoot("micro_remap")
      val st = new graft.state.SnapshotStore(spark, root + "/contrib", nb,
        deleteKeys = Seq("url"),
        termExpr = Some(array(col("s"), when(col("oKind") === 0, col("oLex")))))
      val df = spark.range(0, rows).select(
          concat(lit("https://host"), pmod((col("id") / lit(30)).cast("long"), lit(9973)),
            lit(".example.org/page/"), (col("id") / lit(30)).cast("long")).as("url"),
          concat(lit("http://kg.example.org/entity/"),
            md5((col("id") / lit(20)).cast("long").cast("string"))).as("s"),
          concat(lit("http://kg.example.org/rel/"), pmod(col("id"), lit(40))).as("p"),
          concat(lit("http://kg.example.org/entity/"),
            md5(concat((col("id") / lit(35)).cast("long").cast("string"), lit("o")))).as("oLex"),
          lit(0).as("oKind"))
        .withColumn("bucket", st.bucketCol(col("url")))
      time(s"store commitFull ($rows rows, $nb buckets, +bloom sidecars)") {
        st.commitFull(df, 0L)
      }
      // the superseded reps: 8 real stored IRIs (hit path) — the realistic
      // cluster-merge shape (a handful of winners swallow a handful of reps)
      val reps = st.read().get.select(col("s").as("id")).limit(8)
        .as[String].collect().toSeq
      def semiCount(stored: org.apache.spark.sql.DataFrame): Long = {
        val ids = reps.toDF("id")
        val byS = stored.join(ids.withColumnRenamed("id", "s"), Seq("s"), "left_semi")
          .select("url")
        val byO = stored.filter(col("oKind") === 0)
          .join(ids.withColumnRenamed("id", "oLex"), Seq("oLex"), "left_semi")
          .select("url")
        byS.union(byO).distinct().count()
      }
      semiCount(st.read().get) // warmup
      var full = 0L; var pruned = 0L
      for (r <- 1 to 2) full = time(s"remap FULL store scan #$r")(semiCount(st.read().get))
      val cand = time("candidateBuckets probe")(st.candidateBuckets(reps).get)
      println(s"[micro] remap candidate buckets: ${cand.size} / $nb")
      for (r <- 1 to 2) pruned = time(s"remap PRUNED scan #$r") {
        st.readBuckets(cand).map(semiCount).getOrElse(0L)
      }
      assert(full == pruned, s"pruned remap scan lost rows: $pruned != $full")
      println(s"[micro] remap urls touched: $full (full == pruned)")
      spark.stop(); return
    }
    if (sys.env.contains("PUBLISH_SCALE")) {
      // consumer-facing ResourceSync tail at many-zip scale (r6 verdict
      // stretch #8): G graphs x F patch files, filesPerZip=2 -> G*F/2 zips.
      // What must stay bounded on the driver: the zip-build collect (one
      // summary ROW per zip — the manifest bodies, O(members) each, are
      // written executor-side by the distributed sidecar pass) and the
      // per-graph metadata maps (O(graphs)). GRAFT_TIMING prints the
      // publish-internal phase split (inventory/zipBuild/zipSidecars/
      // graphMetadata/sweep).
      val graphs = sys.env("PUBLISH_SCALE").toInt
      val filesPerGraph = 10
      val root = Bench.scratchRoot("micro_pub")
      val patchDir = s"$root/patches"
      import org.apache.spark.sql.functions.col
      // synth patch files, executor-side (distributed file creation)
      val hconf2 = new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration)
      time(s"synth $graphs graphs x $filesPerGraph files") {
        spark.range(0, graphs.toLong * filesPerGraph, 1, 64).foreachPartition {
          (it: Iterator[java.lang.Long]) =>
          val fs = new org.apache.hadoop.fs.Path(patchDir)
            .getFileSystem(hconf2.value)
          it.foreach { i =>
            val g = i / filesPerGraph; val k = i % filesPerGraph
            val gb64 = java.util.Base64.getEncoder.encodeToString(
              s"https://g$g.example.org/".getBytes("UTF-8"))
            val p = new org.apache.hadoop.fs.Path(
              s"$patchDir/g_b64=$gb64/rdf_out_00000000000000-$k%014d")
            val out = fs.create(p, true)
            try out.write(
              (s"+ <http://kg.example.org/e$i> <http://kg.example.org/p> " +
                s"<http://kg.example.org/o$k> <https://g$g.example.org/> .\n")
                .getBytes("UTF-8"))
            finally out.close()
          }
        }
      }
      val infos = time(s"publish (expect ~${graphs * filesPerGraph / 2} zips)") {
        graft.publish.ZipPublisher.publish(spark, patchDir, s"$root/sink", filesPerZip = 2)
      }
      println(s"[micro] publish zips=${infos.size} " +
        s"(driver rows = 1/zip, manifests executor-side)")
      spark.stop(); return
    }
    if (sys.env.contains("REMAP_SAT")) {
      // saturation probe (r6 verdict task #5): the remap scan's adversarial
      // edges must degrade WITHOUT a cliff. (a) a merge-storm id set that
      // hits every per-bucket bloom -> candidateBuckets ≈ all buckets, so
      // the "pruned" scan must cost ≈ the full scan (same plan family,
      // never worse); (b) an id set past remapIdProbeLimit skips the probe
      // and reads the full store outright. The happy path (8 ids) stays
      // bucket-pruned and fast. Same store shape as REMAP_SCALE.
      val rows = sys.env("REMAP_SAT").toLong
      val nb = 64
      val root = Bench.scratchRoot("micro_remapsat")
      val st = new graft.state.SnapshotStore(spark, root + "/contrib", nb,
        deleteKeys = Seq("url"),
        termExpr = Some(array(col("s"), when(col("oKind") === 0, col("oLex")))))
      val df = spark.range(0, rows).select(
          concat(lit("https://host"), pmod((col("id") / lit(30)).cast("long"), lit(9973)),
            lit(".example.org/page/"), (col("id") / lit(30)).cast("long")).as("url"),
          concat(lit("http://kg.example.org/entity/"),
            md5((col("id") / lit(20)).cast("long").cast("string"))).as("s"),
          concat(lit("http://kg.example.org/rel/"), pmod(col("id"), lit(40))).as("p"),
          concat(lit("http://kg.example.org/entity/"),
            md5(concat((col("id") / lit(35)).cast("long").cast("string"), lit("o")))).as("oLex"),
          lit(0).as("oKind"))
        .withColumn("bucket", st.bucketCol(col("url")))
      time(s"store commitFull ($rows rows, $nb buckets)")(st.commitFull(df, 0L))
      def semiCount(stored: org.apache.spark.sql.DataFrame, ids: Seq[String]): Long = {
        val idsDf = ids.toDF("id")
        val byS = stored.join(idsDf.withColumnRenamed("id", "s"), Seq("s"), "left_semi")
          .select("url")
        val byO = stored.filter(col("oKind") === 0)
          .join(idsDf.withColumnRenamed("id", "oLex"), Seq("oLex"), "left_semi")
          .select("url")
        byS.union(byO).distinct().count()
      }
      val small = st.read().get.select(col("s")).limit(8).as[String].collect().toSeq
      // a merge-storm id set: ~120k DISTINCT stored subjects (over the 100k
      // collect gate if used as remap ids; here used to saturate the probe)
      val storm = st.read().get.select(col("s")).distinct().limit(120000)
        .as[String].collect().toSeq
      semiCount(st.read().get, small) // warmup
      val full = time("full-scan fallback (the >gate path)")(
        semiCount(st.read().get, storm))
      val candS = time("candidateBuckets probe (8 ids)")(st.candidateBuckets(small).get)
      println(s"[micro] pruned buckets (8 ids): ${candS.size}/$nb")
      val prunedSmall = time("pruned scan (8 ids)")(
        st.readBuckets(candS).map(semiCount(_, small)).getOrElse(0L))
      val candB = time(s"candidateBuckets probe (${storm.size} ids)")(
        st.candidateBuckets(storm).get)
      println(s"[micro] saturated buckets (${storm.size} ids): ${candB.size}/$nb")
      val prunedStorm = time("saturated 'pruned' scan (== full, no cliff)")(
        st.readBuckets(candB).map(semiCount(_, storm)).getOrElse(0L))
      assert(prunedStorm == full, s"saturated scan lost rows: $prunedStorm != $full")
      println(s"[micro] storm urls=$full smallPruned=$prunedSmall (results exact)")
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
        val (view, viewRows, _, _) = time("NEW extendedCanonMap (pruned view + fresh check)")(
          pipe.extendedCanonMap(batch))
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
    if (sys.env.contains("CANON_PLAN")) {
      // .explain("formatted") evidence for plans/r07: the canon extension's
      // pair-generation DAG, recompute shape vs persisted-signature shape
      // (same verified output, spec-asserted; see CanonSpec)
      import graft.canon.IriCanonicalizer
      val n = sys.env("CANON_PLAN").toLong
      val root = Bench.scratchRoot("micro_plan")
      val pipe = new graft.streaming.QuadLogPipeline(spark, root, numBuckets = 64)
      def iriOf(i: org.apache.spark.sql.Column) =
        concat(lit("http://kg.example.org/entity/"), md5(i.cast("string")))
      val mapDf = IriCanonicalizer.withSignatures(
          spark.range(0, n).select(iriOf(col("id")).as("id"),
            iriOf(col("id")).as("canonical")))
        .withColumn("bucket", pipe.canon.bucketCol(col("id")))
      pipe.canon.commitFull(mapDf, 0L)
      val o = pipe.canon.read().get.select("id", "canonical")
      val sigs = pipe.canon.read().get.select("id", "sig")
      val fresh = spark.range(0, 50).select(
          concat(lit("http://kg.example.org/entity/fresh-"),
            md5(col("id").cast("string"))).as("id"))
        .localCheckpoint()
      println("=== RECOMPUTE PATH (storedSigs = None): domain-signature pair generation ===")
      IriCanonicalizer.verifiedPairs(
        o.select(col("id")).union(fresh.select(col("id"))), 0.6,
        leftIds = Some(fresh)).explain("formatted")
      println("=== PERSISTED-SIG PATH (verifiedPairsStored): narrow scan + broadcast semi ===")
      IriCanonicalizer.verifiedPairsStored(fresh, sigs, 0.6).explain("formatted")
      spark.stop(); return
    }
    if (sys.env.contains("CANON_VPS")) {
      // step decomposition of verifiedPairsStored at an N-id stored map —
      // where does the candidate-pair stage spend its time?
      import graft.canon.{IriCanonicalizer, MinHashBlocking}
      val n = sys.env("CANON_VPS").toLong
      val root = Bench.scratchRoot("micro_vps")
      val pipe = new graft.streaming.QuadLogPipeline(spark, root, numBuckets = 64)
      def iriOf(i: org.apache.spark.sql.Column) =
        concat(lit("http://kg.example.org/entity/"), md5(i.cast("string")))
      val mapDf = IriCanonicalizer.withSignatures(
          spark.range(0, n).select(iriOf(col("id")).as("id"),
            when(pmod(col("id"), lit(100)) === 0 && col("id") > 0,
              iriOf(col("id") - 1)).otherwise(iriOf(col("id"))).as("canonical")))
        .withColumn("bucket", pipe.canon.bucketCol(col("id")))
      time(s"store build ($n ids)")(pipe.canon.commitFull(mapDf, 0L))
      val storedSigs = pipe.canon.read().get.select("id", "sig")
      val fresh = spark.range(0, 2000).select(
          concat(lit("http://kg.example.org/entity/fresh-"),
            md5(col("id").cast("string"))).as("id"))
        .localCheckpoint()
      val freshSigs = IriCanonicalizer.withSignatures(fresh.select("id")).localCheckpoint()
      def banded(sigs: org.apache.spark.sql.DataFrame) = sigs.select(col("id"),
        posexplode(MinHashBlocking.bandCol(col("sig"), 8, 2)).as(Seq("band", "bucket")))
      val freshBanded = banded(freshSigs).localCheckpoint()
      println(s"[micro] freshBanded rows=${freshBanded.count()}")
      val freshKeys = freshBanded.select("band", "bucket").distinct()
      val storedPruned = time("storedPruned (banded scan + semi)")(
        banded(storedSigs)
          .join(broadcast(freshKeys), Seq("band", "bucket"), "left_semi")
          .localCheckpoint())
      println(s"[micro] storedPruned rows=${storedPruned.count()}")
      val l = freshBanded.select(col("band"), col("bucket"), col("id").as("a"))
      val r = storedPruned.unionByName(freshBanded)
        .select(col("band"), col("bucket"), col("id").as("b"))
      val rawPairs = l.join(r, Seq("band", "bucket"))
        .filter(col("a") =!= col("b"))
        .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
      println(s"[micro] rawPairs rows=${time("rawPairs count")(rawPairs.count())}")
      val dPairs = time("pairs distinct")(rawPairs.distinct().localCheckpoint())
      println(s"[micro] distinct pairs rows=${dPairs.count()}")
      val verified = time("jaccard verify")(
        dPairs
          .withColumn("ta", IriCanonicalizer.toksColumn(col("a")))
          .withColumn("tb", IriCanonicalizer.toksColumn(col("b")))
          .withColumn("inter", size(array_intersect(col("ta"), col("tb"))).cast("double"))
          .withColumn("uni", size(array_union(col("ta"), col("tb"))).cast("double"))
          .filter(col("uni") > 0 && col("inter") / col("uni") >= 0.6)
          .select(col("a").as("src"), col("b").as("dst"))
          .localCheckpoint())
      println(s"[micro] verified rows=${verified.count()}")
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
    if (sys.env.contains("CPU_BURN")) {
      time("cpu burn warm")(spark.range(0, 500000000L).selectExpr("bit_xor(xxhash64(id))").head())
      time("cpu burn 1")(spark.range(0, 40000000000L).selectExpr("bit_xor(xxhash64(id))").head())
      time("cpu burn 2")(spark.range(0, 4000000000L).selectExpr("bit_xor(xxhash64(id, id+1, id+2))").head())
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

package graft.state

import graft.{CountingFileSystem, GraftSpec}
import org.apache.spark.sql.functions._

class SnapshotStoreSpec extends GraftSpec {
  import spark.implicits._

  test("commit/read round trip with atomic latest pointer") {
    val root = tmpDir("store1")
    val st = new SnapshotStore(spark, root, numBuckets = 4, deleteKeys = Seq("k"))
    assert(st.latest.isEmpty)
    val df = (1 to 100).map(i => (s"k$i", i)).toDF("k", "v")
      .withColumn("bucket", st.bucketCol(col("k")))
    st.commitFull(df, 0L)
    assert(st.latest.contains(0L))
    val back = st.read().get
    assert(back.count() == 100)
    assert(back.select(sum("v")).head().getLong(0) == 5050)
    intercept[IllegalArgumentException] {
      new SnapshotStore(spark, root + "_nokeys", numBuckets = 4, deleteKeys = Seq.empty)
    }
  }

  test("a chain whose snapshots disagree on columns fails loudly, both directions") {
    // folding to the columns every snapshot has would silently drop a
    // column from the whole store because one snapshot lacks it: a base
    // without a column under a delta that carries it, or the reverse,
    // must fail the read and name the snapshot that disagrees
    def mk(root: String) = new SnapshotStore(spark, root, numBuckets = 2,
      deleteKeys = Seq("k"), maxDeltas = 10)
    // base (k, v), delta adds `extra`
    val st1 = mk(tmpDir("storeEvo1"))
    val base1 = (1 to 10).map(i => (s"k$i", i)).toDF("k", "v")
      .withColumn("bucket", st1.bucketCol(col("k")))
    st1.commitFull(base1, 0L)
    val add1 = Seq(("k1", 100, "x")).toDF("k", "v", "extra")
      .withColumn("bucket", st1.bucketCol(col("k")))
    st1.commitDelta(add1, add1.select("k", "bucket"), add1.count(), 1L)
    val e1 = intercept[RuntimeException](st1.read())
    assert(e1.getMessage.contains("snapshot 1 has columns [k, v, extra, bucket]") &&
      e1.getMessage.contains("[k, v, bucket]"), e1.getMessage)
    // base (k, v, extra), delta without `extra`
    val st2 = mk(tmpDir("storeEvo2"))
    val base2 = (1 to 10).map(i => (s"k$i", i, s"e$i")).toDF("k", "v", "extra")
      .withColumn("bucket", st2.bucketCol(col("k")))
    st2.commitFull(base2, 0L)
    val add2 = Seq(("k2", 200)).toDF("k", "v")
      .withColumn("bucket", st2.bucketCol(col("k")))
    st2.commitDelta(add2, add2.select("k", "bucket"), add2.count(), 1L)
    val e2 = intercept[RuntimeException](st2.readBuckets(Seq(0, 1)))
    assert(e2.getMessage.contains("snapshot 1 has columns [k, v, bucket]") &&
      e2.getMessage.contains("[k, v, extra, bucket]"), e2.getMessage)
  }

  test("epoch handshake") {
    val root = tmpDir("store4")
    val st = new SnapshotStore(spark, root, numBuckets = 2, deleteKeys = Seq("k"))
    assert(st.epoch.isEmpty)
    st.setEpoch("run-42")
    assert(st.epoch.contains("run-42"))
  }

  /** Reference model: apply delta batches to a plain Map and compare the
    * store's folded read against it after every commit. */
  test("merge-on-read deltas: fold equals the closed-form state; chain folds to base") {
    val root = tmpDir("store5")
    val maxD = 3
    // foldBucketBytes = 0: every data-bearing bucket is "hot", i.e. the
    // original full fold-to-base — this test pins THAT behavior (base
    // advances past the bootstrap snapshot); partial folds have their own
    // tests below
    val st = new SnapshotStore(spark, root, numBuckets = 4,
      deleteKeys = Seq("k"), maxDeltas = maxD, foldBucketBytes = 0L)
    def rows(kv: Seq[(String, Int)]) = kv.toDF("k", "v")
      .withColumn("bucket", st.bucketCol(col("k")))
    var model: Map[String, Int] = (1 to 50).map(i => s"k$i" -> i).toMap
    st.commitFull(rows(model.toSeq), 0L)
    // 10 delta batches (> 3x maxDeltas => several fold-to-base cycles):
    // each rewrites some keys, deletes some, inserts some
    for (b <- 1 to 10) {
      val rewrite = (1 to 5).map(i => s"k${(b * 7 + i) % 50 + 1}" -> (1000 * b + i))
      val dead = Seq(s"k${(b * 11) % 50 + 1}", s"k${(b * 13) % 50 + 1}")
      val insert = Seq(s"new_${b}" -> (9000 + b))
      val adds = (rewrite ++ insert).toMap // rewrite may collide with dead keys
      val tombKeys = (adds.keys ++ dead).toSeq.distinct
      model = (model -- tombKeys) ++ adds
      st.commitDelta(rows(adds.toSeq),
        tombKeys.toDF("k").withColumn("bucket", st.bucketCol(col("k"))), tombKeys.size,
        b.toLong)
      val back = st.read().get.select("k", "v").as[(String, Int)].collect().toMap
      assert(back == model, s"fold mismatch after batch $b")
    }
    // chain is bounded: at most maxDeltas delta lines in the live manifest
    val manifest = java.nio.file.Files.readString(java.nio.file.Paths.get(
      s"$root/manifest_${f"${10L}%014d"}.txt"))
    val chainLen = manifest.linesIterator.count(_.startsWith("D\t"))
    assert(chainLen <= maxD, s"chain grew to $chainLen (> $maxD): compaction never ran")
    // and at least one fold-to-base happened (manifest 10 cannot still
    // chain back to snapshot 0's base after 10 > maxDeltas batches)
    assert(!manifest.contains("snap_00000000000000"),
      "base never advanced past the bootstrap snapshot")
    // bucket-pruned folded read: only requested buckets come back
    val someBucket = st.read().get.select("bucket").as[Int].head()
    val pruned = st.readBuckets(Seq(someBucket)).get
    assert(pruned.select("bucket").distinct().as[Int].collect().toSeq == Seq(someBucket))
    val expectInBucket = st.read().get.filter(col("bucket") === someBucket).count()
    assert(pruned.count() == expectInBucket)
    // vacuum: disk stays O(live state) — only the referenced snap dirs and
    // the latest manifest survive, and the folded read still matches
    st.vacuum()
    val left = new java.io.File(root).listFiles().map(_.getName)
    val snapsLeft = left.count(_.startsWith("snap_"))
    assert(snapsLeft <= maxD + 1,
      s"$snapsLeft snapshot dirs survive vacuum (chain bound $maxD + base)")
    assert(left.count(_.startsWith("manifest_")) == 1, "stale manifests survive vacuum")
    assert(st.read().get.select("k", "v").as[(String, Int)].collect().toMap == model,
      "vacuum deleted referenced data")
  }

  test("a committed store reads back as ONE relation, not a per-bucket union") {
    // regression guard for the round-5 read fix: a union of 32 per-bucket
    // spark.read.parquet relations cost 32 driver-side file listings +
    // schema inferences on EVERY store read — seconds of non-scaling
    // latency per pipeline batch
    val root = tmpDir("store8")
    val st = new SnapshotStore(spark, root, numBuckets = 16, deleteKeys = Seq("k"))
    val df = (1 to 200).map(i => (s"k$i", i)).toDF("k", "v")
      .withColumn("bucket", st.bucketCol(col("k")))
    st.commitFull(df, 0L)
    def relationCount(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Int =
      p.collect {
        case _: org.apache.spark.sql.execution.datasources.LogicalRelation => 1
      }.sum
    assert(relationCount(st.read().get.queryExecution.optimizedPlan) == 1,
      "full read planned more than one parquet relation")
    assert(relationCount(st.readBuckets(Seq(0, 3, 7)).get.queryExecution.optimizedPlan) == 1,
      "bucket-pruned read planned more than one parquet relation")
    // and the pruned read only scans the requested buckets
    val pruned = st.readBuckets(Seq(0, 3, 7)).get
    assert(pruned.select("bucket").distinct().as[Int].collect().toSet.subsetOf(Set(0, 3, 7)))
  }

  test("lease claim is atomic: racing claimants get exactly one winner") {
    val root = tmpDir("store_lease")
    val stores = (0 until 8).map(_ =>
      new SnapshotStore(spark, root, numBuckets = 2, deleteKeys = Seq("k")))
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(stores.size)
    val results = stores.map { s =>
      pool.submit(new java.util.concurrent.Callable[Boolean] {
        def call(): Boolean = {
          start.await()
          try { s.claimLease(); true } catch { case _: RuntimeException => false }
        }
      })
    }
    start.countDown()
    pool.shutdown(); assert(pool.awaitTermination(60, TimeUnit.SECONDS))
    val winners = results.count(_.get())
    assert(winners == 1, s"$winners racing claims succeeded (want exactly 1)")
    // winner can re-claim (retry path) and release; a new writer then claims
    val w = stores(results.indexWhere(_.get()))
    w.claimLease(); w.releaseLease()
    val next = new SnapshotStore(spark, root, numBuckets = 2, deleteKeys = Seq("k"))
    next.claimLease(); next.releaseLease()
  }

  test("a failed stage releases the lease (try/finally), store intact") {
    val root = tmpDir("store_leaserel") + "/t"
    val st = new SnapshotStore(spark, root, numBuckets = 2,
      deleteKeys = Seq("k"))
    val base = Seq(("a", 1), ("b", 2)).toDF("k", "v")
      .withColumn("bucket", st.bucketCol(col("k")))
    st.commitFull(base, 0L)
    // additions whose evaluation THROWS mid-stage: previously the thrown
    // Spark job left `_lease` behind and a restarted writer (fresh
    // writerId) was locked out for the lease timeout
    val bad = Seq(("c", 3)).toDF("k", "v").as[(String, Int)]
      .map { _ => sys.error("injected stage failure"): (String, Int) }
      .toDF("k", "v")
      .withColumn("bucket", st.bucketCol(col("k")))
    intercept[Exception] {
      st.stageDelta(bad, bad.select("k", "bucket"), 1L, 1L) // one tombstone row: "c"
    }
    // a DIFFERENT writer instance must be able to mutate immediately
    val st2 = new SnapshotStore(spark, root, numBuckets = 2, deleteKeys = Seq("k"))
    val add = Seq(("c", 3)).toDF("k", "v").withColumn("bucket", st2.bucketCol(col("k")))
    st2.commitDelta(add, add.select("k", "bucket"), add.count(), 2L)
    assert(st2.read().get.count() == 3)
  }

  test("seeded fuzz: random delta sequences match the model across maxDeltas settings") {
    // deterministic pseudo-random batches exercising the edges the
    // structured test cannot: pure deletes, tombstones of nonexistent
    // keys, re-adding a key deleted earlier in the chain, rewriting the
    // same key in consecutive deltas, empty batches — across chain
    // bounds that fold never/sometimes/every-batch
    // foldBucketBytes axis: 0 = always full fold; 2 KB = MIXED (parquet
    // per-bucket delta files are ~1 KB, so some buckets trip and some
    // don't across fold events); 8 MB = consolidation-only (no bucket
    // ever folds to base at this data size)
    // tombBroadcastBytes axis: 0 forces the read fold's BLOOM-SPLIT path
    // (the over-gate fallback that replaces the store-sized shuffle) on
    // every tombstone-bearing read; default keeps the broadcast path
    val rnd = new scala.util.Random(42)
    for ((maxD, run, fbb, tbb) <- Seq(
           (1, "a", 0L, 64L << 20), (2, "b", 2048L, 0L), (4, "c", 8L << 20, 0L),
           (2, "d", 0L, 64L << 20), (1, "e", 8L << 20, 0L))) {
      val root = tmpDir(s"storefuzz_$run") + "/t"
      val st = new SnapshotStore(spark, root, numBuckets = 4,
        deleteKeys = Seq("k"), maxDeltas = maxD, foldBucketBytes = fbb,
        tombBroadcastBytes = tbb)
      def rows(kv: Seq[(String, Int)]) = kv.toDF("k", "v")
        .withColumn("bucket", st.bucketCol(col("k")))
      var model: Map[String, Int] = (1 to 30).map(i => s"k$i" -> i).toMap
      st.commitFull(rows(model.toSeq), 0L)
      for (b <- 1 to 6) {
        val universe = (1 to 40).map(i => s"k$i")
        val adds = universe.filter(_ => rnd.nextInt(100) < 25)
          .map(k => k -> rnd.nextInt(10000)).toMap
        val pureDeletes = universe.filter(_ => rnd.nextInt(100) < 15)
        val ghosts = Seq(s"ghost_${b}_${rnd.nextInt(5)}") // never existed
        val tombKeys = (adds.keys ++ pureDeletes ++ ghosts).toSeq.distinct
        model = (model -- tombKeys) ++ adds
        st.commitDelta(rows(adds.toSeq),
          tombKeys.toDF("k").withColumn("bucket", st.bucketCol(col("k"))), tombKeys.size,
          b.toLong)
        val back = st.read().get.select("k", "v").as[(String, Int)].collect().toMap
        assert(back == model,
          s"maxDeltas=$maxD batch=$b: extra=${(back.toSet -- model.toSet).take(3)} " +
            s"missing=${(model.toSet -- back.toSet).take(3)}")
      }
      st.vacuum()
      assert(st.read().get.select("k", "v").as[(String, Int)].collect().toMap == model)
    }
  }

  test("bucket-local fold: hot bucket folds to a new base, quiet chain consolidates") {
    val root = tmpDir("store9")
    val maxD = 2
    val st = new SnapshotStore(spark, root, numBuckets = 4,
      deleteKeys = Seq("k"), maxDeltas = maxD, foldBucketBytes = 50000L)
    def rows(kv: Seq[(String, String)]) = kv.toDF("k", "v")
      .withColumn("bucket", st.bucketCol(col("k")))
    // discover key->bucket routing driver-side so the test can target one
    // bucket with fat payloads and keep the others quiet
    val keys = (1 to 200).map(i => s"k$i")
    val kb = rows(keys.map(_ -> "x")).select("k", "bucket")
      .as[(String, Int)].collect().toMap
    val hotBucket = kb("k1")
    val hotKeys = keys.filter(k => kb(k) == hotBucket)
    val quietKeys = keys.filterNot(k => kb(k) == hotBucket)
    assert(hotKeys.size >= 10 && quietKeys.size >= 10, "bucketing degenerated")
    // payloads must be INCOMPRESSIBLE (random), or parquet's codec erases
    // the byte-size signal the hot/quiet split keys on
    val prnd = new scala.util.Random(7)
    def fat(): String = Array.fill(10000)((' ' + prnd.nextInt(94)).toChar).mkString
    var model: Map[String, String] = keys.map(_ -> "base").toMap
    st.commitFull(rows(model.toSeq), 0L)
    // 3 deltas (chain trips at the 3rd): each writes ~10 fat rows into the
    // hot bucket (~100 KB per delta) and 2 small rows elsewhere
    for (b <- 1 to 3) {
      val adds = (hotKeys.take(10).map(k => k -> s"${fat()}$b") ++
        quietKeys.slice(2 * b, 2 * b + 2).map(k => k -> s"small$b")).toMap
      model = model ++ adds
      st.commitDelta(rows(adds.toSeq),
        adds.keys.toSeq.toDF("k").withColumn("bucket", st.bucketCol(col("k"))), adds.size,
        b.toLong)
      assert(st.read().get.select("k", "v").as[(String, String)].collect().toMap == model,
        s"fold mismatch after batch $b")
    }
    // manifest shape after the fold at batch 3: the hot bucket's base moved
    // to the fold dir (snap_...3B), quiet buckets still point at snap_0's
    // base, and the chain is ONE delta scoped to a set excluding hotBucket
    val manifest = java.nio.file.Files.readString(java.nio.file.Paths.get(
      s"$root/manifest_${f"${3L}%014d"}.txt"))
    val baseLines = manifest.linesIterator.filterNot(_.startsWith("D\t")).toSeq
    val hotLine = baseLines.find(_.startsWith(s"$hotBucket\t")).get
    assert(hotLine.contains("B/bucket="), s"hot bucket base did not fold: $hotLine")
    assert(baseLines.filterNot(_.startsWith(s"$hotBucket\t"))
      .forall(l => l.endsWith("\t") || l.contains("snap_00000000000000/")),
      s"quiet bucket base was rewritten: $baseLines")
    val dLines = manifest.linesIterator.filter(_.startsWith("D\t")).toSeq
    assert(dLines.size == 1, s"chain not consolidated: $dLines")
    val scope = dLines.head.split("\t").last
    assert(scope != "*" && !scope.split(",").contains(hotBucket.toString),
      s"consolidated delta not scoped away from the hot bucket: $scope")
    // continue committing past the fold; semantics hold, then vacuum
    for (b <- 4 to 6) {
      val adds = Map(quietKeys(b) -> s"later$b", hotKeys(b) -> s"later$b")
      model = model ++ adds
      st.commitDelta(rows(adds.toSeq),
        adds.keys.toSeq.toDF("k").withColumn("bucket", st.bucketCol(col("k"))), adds.size,
        b.toLong)
    }
    st.vacuum()
    assert(st.read().get.select("k", "v").as[(String, String)].collect().toMap == model)
    // bucket-pruned read of the hot bucket agrees with the full fold
    val hotRows = st.readBuckets(Seq(hotBucket)).get
      .select("k", "v").as[(String, String)].collect().toMap
    assert(hotRows == model.filter { case (k, _) => kb(k) == hotBucket })
  }

  test("empty delta is metadata-only: no chain growth, no fold, no data dirs") {
    val root = tmpDir("store10")
    val st = new SnapshotStore(spark, root, numBuckets = 2,
      deleteKeys = Seq("k"), maxDeltas = 2)
    val base = Seq(("a", 1), ("b", 2)).toDF("k", "v")
      .withColumn("bucket", st.bucketCol(col("k")))
    st.commitFull(base, 0L)
    val empty = base.limit(0)
    // maxDeltas(=2)+3 empty batches: were these appended, the chain bound
    // would have tripped a pointless fold-to-base
    for (b <- 1 to 5)
      st.commitDelta(empty, empty.select("k", "bucket"), 0L, b.toLong)
    assert(st.latest.contains(5L))
    val manifest = java.nio.file.Files.readString(java.nio.file.Paths.get(
      s"$root/manifest_${f"${5L}%014d"}.txt"))
    assert(!manifest.contains("D\t"), s"empty deltas grew the chain: $manifest")
    val snapDirs = new java.io.File(root).listFiles().map(_.getName)
      .filter(_.startsWith("snap_")).toSeq
    assert(snapDirs == Seq("snap_00000000000000"), s"empty deltas wrote data: $snapDirs")
    assert(st.read().get.select("k", "v").as[(String, Int)].collect().toMap ==
      Map("a" -> 1, "b" -> 2))
    // contract check still bites: additions without covering tombstones
    intercept[IllegalArgumentException] {
      st.commitDelta(Seq(("c", 3)).toDF("k", "v")
        .withColumn("bucket", st.bucketCol(col("k"))), empty.select("k", "bucket"), 0L, 6L)
    }
  }

  test("term sidecars: candidateBuckets prunes point lookups, never loses a row") {
    val root = tmpDir("store11")
    val nb = 8
    val st = new SnapshotStore(spark, root, numBuckets = nb,
      deleteKeys = Seq("k"), maxDeltas = 8,
      termExpr = Some(array(col("t1"), col("t2"))))
    def rows(kvt: Seq[(String, String, String)]) = kvt.toDF("k", "t1", "t2")
      .withColumn("bucket", st.bucketCol(col("k")))
    val base = (1 to 64).map(i => (s"k$i", s"term_$i", if (i % 2 == 0) s"shared_even" else null))
    st.commitFull(rows(base), 0L)
    val kb = rows(base).select("k", "bucket").as[(String, Int)].collect().toMap

    // no false negative: a stored term's bucket is always a candidate
    for (i <- Seq(1, 17, 33, 64)) {
      val cand = st.candidateBuckets(Seq(s"term_$i")).get
      assert(cand.contains(kb(s"k$i")), s"term_$i's bucket pruned away")
    }
    // shared term: every bucket holding an even key is a candidate
    val evenBuckets = base.filter(_._1.stripPrefix("k").toInt % 2 == 0)
      .map(t => kb(t._1)).toSet
    assert(evenBuckets.subsetOf(st.candidateBuckets(Seq("shared_even")).get.toSet))
    // absent term: pruned well below the full bucket set (bloom FPR ~1%;
    // deterministic data + hash make this stable)
    val absent = st.candidateBuckets(Seq("no_such_term_xyz")).get
    assert(absent.size < nb, s"absent term candidates not pruned: $absent")
    // plan shape: the pruned read's input files stay inside candidate buckets
    val cand1 = st.candidateBuckets(Seq("term_1")).get
    st.readBuckets(cand1).foreach { df =>
      val ok = cand1.map(b => s"bucket=$b/").toSet
      assert(df.inputFiles.forall(f => ok.exists(f.contains)),
        s"pruned read scanned outside candidate buckets: ${df.inputFiles.toSeq}")
    }

    // delta adds extend the index: a brand-new term in a delta is findable
    val adds = Seq(("k100", "delta_term", null: String))
    st.commitDelta(rows(adds),
      Seq("k100").toDF("k").withColumn("bucket", st.bucketCol(col("k"))), 1L, 1L)
    val cand2 = st.candidateBuckets(Seq("delta_term")).get
    val b100 = rows(adds).select("bucket").as[Int].head()
    assert(cand2.contains(b100), "delta-added term's bucket pruned away")

    // delete-only delta writes an EMPTY authoritative sidecar: the delta
    // contributes no candidates (instead of conservatively its full scope)
    st.commitDelta(rows(Seq.empty),
      Seq("k5").toDF("k").withColumn("bucket", st.bucketCol(col("k"))), 1L, 2L)
    assert(new java.io.File(s"$root/snap_${f"${2L}%014d"}/_terms.bloom").exists(),
      "delete-only delta must land an empty sidecar")
    assert(st.candidateBuckets(Seq("still_absent_term")).get.size < nb)

    // conservative fallback: a dir with its sidecar gone contributes all
    // its buckets — pruning degrades, rows are never lost
    assert(new java.io.File(s"$root/snap_${f"${0L}%014d"}/_terms.bloom").delete())
    val candAll = st.candidateBuckets(Seq("no_such_term_xyz")).get.toSet
    assert(base.map(t => kb(t._1)).toSet.subsetOf(candAll),
      "missing sidecar must include all of that dir's buckets")

    // a store without termExpr has no index
    val plain = new SnapshotStore(spark, root + "_plain", numBuckets = 2, deleteKeys = Seq("k"))
    assert(plain.candidateBuckets(Seq("x")).isEmpty)

    // through folds: a bucket-local fold writes the hot bucket's base to
    // snap_<id>B and consolidates the quiet chain into snap_<id>C, a full
    // fold rewrites every base; each writes its own sidecar, and every
    // stored term's bucket stays a candidate at every step. Each data dir's
    // record holds every part file's on-disk length.
    val froot = root + "_fold"
    val fst = new SnapshotStore(spark, froot, numBuckets = 4, deleteKeys = Seq("k"),
      maxDeltas = 2, foldBucketBytes = 50000L, termExpr = Some(array(col("t1"), col("t2"))))
    def frows(r: Seq[(String, (String, String, String))]) =
      r.map { case (k, (t1, t2, pad)) => (k, t1, t2, pad) }.toDF("k", "t1", "t2", "pad")
        .withColumn("bucket", fst.bucketCol(col("k")))
    def keysOf(ks: Iterable[String]) = ks.toSeq.toDF("k").withColumn("bucket", fst.bucketCol(col("k")))
    val fkeys = (1 to 64).map(i => s"k$i")
    val fkb = frows(fkeys.map(_ -> (("", "", "")))).select("k", "bucket").as[(String, Int)]
      .collect().toMap
    val hot = fkeys.filter(fkb(_) == fkb("k1"))
    val quiet = fkeys.filterNot(fkb(_) == fkb("k1"))
    val prnd = new scala.util.Random(11)
    def fat(): String = Array.fill(10000)((' ' + prnd.nextInt(94)).toChar).mkString
    var fmodel: Map[String, (String, String, String)] =
      fkeys.map(k => k -> ((s"base_$k", if (k.length % 2 == 0) "shared" else null, ""))).toMap
    def checkFold(when: String): Unit = {
      fmodel.foreach { case (k, (t1, t2, _)) =>
        Seq(t1, t2).filter(_ != null).foreach { t =>
          assert(fst.candidateBuckets(Seq(t)).get.contains(fkb(k)), s"$when: $t's bucket pruned away")
        }
      }
      assert(fst.read().get.select("k", "t1").as[(String, String)].collect().toMap ==
        fmodel.map { case (k, v) => k -> v._1 }, when)
      recordsMatchDisk(froot, when)
    }
    def fcommit(id: Long, adds: Map[String, (String, String, String)]): Unit = {
      fst.commitDelta(frows(adds.toSeq), keysOf(adds.keys), adds.size, id)
      fmodel = fmodel ++ adds
    }
    fst.commitFull(frows(fmodel.toSeq), 0L)
    checkFold("after the full commit")
    for (b <- 1 to 3) {
      fcommit(b, (hot.take(6).map(k => k -> ((s"hot${b}_$k", null, fat()))) ++
        quiet.slice(2 * b, 2 * b + 2).map(k => k -> ((s"quiet${b}_$k", s"q$b", "")))).toMap)
      checkFold(s"after delta $b")
    }
    val m3 = java.nio.file.Files.readString(java.nio.file.Paths.get(
      s"$froot/manifest_${f"${3L}%014d"}.txt"))
    assert(m3.contains(f"snap_${3L}%014dB/bucket=") && m3.contains(f"snap_${3L}%014dC\t"),
      s"no bucket-local fold at 3: $m3")
    // fat rows in every bucket: the next fold finds no quiet bucket
    for (b <- 4 to 5)
      fcommit(b, fkeys.groupBy(fkb).values.flatMap(_.take(6))
        .map(k => k -> ((s"all${b}_$k", null, fat()))).toMap)
    val m5 = java.nio.file.Files.readString(java.nio.file.Paths.get(
      s"$froot/manifest_${f"${5L}%014d"}.txt"))
    assert(!m5.contains("D\t") && m5.contains(f"snap_${5L}%014dB/bucket="), s"no full fold at 5: $m5")
    checkFold("after the full fold")
  }

  /** Every data dir's `_record.txt` under `root` names part files whose
    * on-disk lengths equal the recorded ones. */
  private def recordsMatchDisk(root: String, when: String): Unit = {
    val records = java.nio.file.Files.walk(java.nio.file.Paths.get(root)).toArray
      .map(_.asInstanceOf[java.nio.file.Path]).filter(_.getFileName.toString == "_record.txt")
    assert(records.nonEmpty, s"$when: no record under $root")
    records.foreach { r =>
      java.nio.file.Files.readAllLines(r).toArray.map(_.toString).drop(1).foreach { l =>
        val Array(_, n, f) = l.split("\t", 3)
        val onDisk = r.getParent.resolve(f).toFile
        assert(onDisk.length == n.toLong, s"$when: $onDisk is ${onDisk.length} B, recorded $n")
      }
    }
  }

  test("multi-writer guard: a live foreign lease fails a stage loudly, store intact") {
    val root = tmpDir("store12")
    val st = new SnapshotStore(spark, root, numBuckets = 2,
      deleteKeys = Seq("k"), maxDeltas = 8)
    val base = Seq(("a", 1), ("b", 2)).toDF("k", "v")
      .withColumn("bucket", st.bucketCol(col("k")))
    st.commitFull(base, 0L)
    // simulate another writer mid-stage: a fresh lease under a foreign id
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$root/_lease"),
      "other-writer-uuid")
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(s"$root/._lease.crc"))
    val adds = Seq(("c", 3)).toDF("k", "v").withColumn("bucket", st.bucketCol(col("k")))
    val tombs = Seq("c").toDF("k").withColumn("bucket", st.bucketCol(col("k")))
    val e = intercept[RuntimeException] { st.stageDelta(adds, tombs, tombs.count(), 1L) }
    assert(e.getMessage.contains("concurrent writer"), e.getMessage)
    intercept[RuntimeException] { st.commitFull(base, 1L) }
    intercept[RuntimeException] { st.vacuum() }
    // store unharmed: pointer and content unchanged
    assert(st.latest.contains(0L))
    assert(st.read().get.select("k", "v").as[(String, Int)].collect().toMap ==
      Map("a" -> 1, "b" -> 2))
    // operator break -> the stage proceeds; a completed stage releases the
    // lease so the next writer is never blocked
    st.breakLease()
    st.commitDelta(adds, tombs, tombs.count(), 1L)
    assert(!new java.io.File(s"$root/_lease").exists(), "lease not released")
    assert(st.read().get.select("k", "v").as[(String, Int)].collect().toMap ==
      Map("a" -> 1, "b" -> 2, "c" -> 3))
    // a writer always re-claims its OWN lease (retry after failed stage)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$root/_lease"), st.writerId)
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(s"$root/._lease.crc"))
    st.commitDelta(Seq(("d", 4)).toDF("k", "v").withColumn("bucket", st.bucketCol(col("k"))),
      Seq("d").toDF("k").withColumn("bucket", st.bucketCol(col("k"))), 1L, 2L)
    assert(st.read().get.count() == 4)
  }

  test("delta re-stage after a crash is idempotent; finalize replays cleanly") {
    val root = tmpDir("store7")
    val st = new SnapshotStore(spark, root, numBuckets = 2,
      deleteKeys = Seq("k"), maxDeltas = 8)
    val base = Seq(("a", 1), ("b", 2)).toDF("k", "v")
      .withColumn("bucket", st.bucketCol(col("k")))
    st.commitFull(base, 0L)
    val adds = Seq(("a", 10)).toDF("k", "v").withColumn("bucket", st.bucketCol(col("k")))
    val tombs = Seq("a").toDF("k").withColumn("bucket", st.bucketCol(col("k")))
    // crash window: staged but never finalized -> readers still see snap 0
    st.stageDelta(adds, tombs, tombs.count(), 1L)
    assert(st.latest.contains(0L))
    assert(st.read().get.select("k", "v").as[(String, Int)].collect().toMap ==
      Map("a" -> 1, "b" -> 2))
    assert(st.isStagedNotFinal(1L))
    // re-run re-stages the same id (overwrite), then finalizes
    st.stageDelta(adds, tombs, tombs.count(), 1L)
    st.finalizeCommit(1L)
    assert(st.read().get.select("k", "v").as[(String, Int)].collect().toMap ==
      Map("a" -> 10, "b" -> 2))
  }

  test("planning read() and readBuckets() over a delta chain starts no Spark job") {
    // every data dir records its schema and part files, and a read is a
    // file index built from those records, so planning a read runs no
    // footer-inference or listing job (Spark lists in a job past 32 paths:
    // 3 jobs at 64 buckets before) and asks the filesystem nothing about a
    // data dir: counted on the counting file system, no dir listing, no
    // status probe and no content summary at 16, 64 or 256 buckets; and a
    // data dir that lost its record fails loudly
    for (nb <- Seq(16, 64, 256)) {
      val local = tmpDir(s"store13_$nb")
      val st = new SnapshotStore(spark, s"countfs://$local", numBuckets = nb,
        deleteKeys = Seq("k"), maxDeltas = 8)
      def rows(kv: Seq[(String, Int)]) = kv.toDF("k", "v")
        .withColumn("bucket", st.bucketCol(col("k")))
      st.commitFull(rows((1 to 2 * nb).map(i => s"k$i" -> i)), 0L)
      for (b <- 1 to 2) {
        val adds = rows((1 to nb / 2).map(i => s"k${i * b}" -> (1000 * b + i)))
        st.commitDelta(adds, adds.select("k", "bucket"), adds.count(), b.toLong)
      }
      var jobs = -1
      val calls = CountingFileSystem.during {
        jobs = jobsRunBy {
          st.read().get
          st.readBuckets(Seq(0, 5, 9)).get
          assert(st.approxDataBytes > 0)
        }
      }
      assert(jobs == 0, s"read planning at $nb buckets ran $jobs Spark jobs")
      assert(Seq(CountingFileSystem.DirListing, CountingFileSystem.StatusProbes,
        CountingFileSystem.ContentSummaries).forall(calls(_) == 0),
        s"read planning at $nb buckets called $calls")
      assert(st.read().get.count() == 2 * nb)
      if (nb == 16) {
        assert(new java.io.File(s"$local/snap_${f"${0L}%014d"}/_record.txt").delete())
        val e = intercept[RuntimeException](st.read())
        assert(e.getMessage.contains("no data record"), e.getMessage)
      }
    }
  }

  test("a bucket read through the record index equals the explicit-path fold, row for row") {
    // Oracle: the read this store made before its file index — one
    // explicit-path spark.read.parquet per data dir of the bucket, each
    // tagged with its snapshot, unioned, then the same temporal anti-join —
    // over a chain with a bucket-local fold (a scoped delta) and deletes.
    // A filter on `bucket` over the whole read must prune through the
    // index too: Spark never re-checks a partition column after the scan.
    val root = tmpDir("storeidx")
    val nb = 4
    val st = new SnapshotStore(spark, root, numBuckets = nb,
      deleteKeys = Seq("k"), maxDeltas = 2, foldBucketBytes = 50000L)
    def rows(kv: Seq[(String, String)]) = kv.toDF("k", "v")
      .withColumn("bucket", st.bucketCol(col("k")))
    val keys = (1 to 120).map(i => s"k$i")
    val kb = rows(keys.map(_ -> "x")).select("k", "bucket").as[(String, Int)].collect().toMap
    val hot = keys.filter(kb(_) == kb("k1"))
    val quiet = keys.filterNot(kb(_) == kb("k1"))
    val prnd = new scala.util.Random(11)
    def fat(): String = Array.fill(10000)((' ' + prnd.nextInt(94)).toChar).mkString
    def explicitPathFold(b: Int): Seq[(String, String, Int)] = {
      def text(p: String) = java.nio.file.Files.readString(java.nio.file.Paths.get(p))
      val id = text(s"$root/_latest").trim.toLong
      val lines = text(s"$root/manifest_${f"$id%014d"}.txt").split("\n").toSeq
      val baseDir = lines.filterNot(_.startsWith("D\t")).map(_.split("\t", -1))
        .collectFirst { case Array(bb, p) if bb.toInt == b && p.nonEmpty => p.stripSuffix(s"/bucket=$b") }
      val deltas = lines.filter(_.startsWith("D\t")).map(_.split("\t", -1)).collect {
        case Array(_, tag, dir, scope) if scope == "*" || scope.split(",").contains(b.toString) =>
          tag.toLong -> dir
      }
      def read(dir: String): Option[org.apache.spark.sql.DataFrame] = {
        val rec = text(s"$dir/_record.txt").split("\n").toSeq
        val files = rec.tail.map(_.split("\t", 3)).collect { case Array(bb, _, f) if bb.toInt == b => s"$dir/$f" }
        if (files.isEmpty) None
        else Some(spark.read.schema(org.apache.spark.sql.types.DataType.fromJson(rec.head)
          .asInstanceOf[org.apache.spark.sql.types.StructType]).option("basePath", dir).parquet(files: _*))
      }
      val tagged = (baseDir.flatMap(read).map(_.withColumn("_wtag", lit(-1L))) ++
        deltas.flatMap { case (t, d) => read(s"$d/add").map(_.withColumn("_wtag", lit(t))) })
        .reduceOption(_ unionByName _)
      val tombs = deltas.flatMap { case (t, d) =>
        read(s"$d/tomb").map(_.select(col("k").as("_t_k"), lit(t).as("_ttag")))
      }.reduceOption(_ unionByName _)
      tagged.fold(Seq.empty[(String, String, Int)]) { r =>
        tombs.fold(r)(t => r.join(broadcast(t), col("k") <=> col("_t_k") && col("_ttag") > col("_wtag"),
          "left_anti")).select("k", "v", "bucket").as[(String, String, Int)].collect().toSeq.sorted
      }
    }
    def check(when: String): Unit = (0 until nb).foreach { b =>
      val want = explicitPathFold(b)
      assert(want.nonEmpty, s"bucket $b empty $when")
      def got(df: org.apache.spark.sql.DataFrame) =
        df.select("k", "v", "bucket").as[(String, String, Int)].collect().toSeq.sorted
      assert(got(st.readBuckets(Seq(b)).get) == want, s"readBuckets($b) $when")
      assert(got(st.read().get.filter(col("bucket") === b)) == want, s"read() filtered to $b $when")
    }
    st.commitFull(rows(keys.map(_ -> "base")), 0L)
    check("after the full commit")
    var scoped = false
    for (t <- 1 to 5) {
      val adds = hot.take(6).map(k => k -> s"${fat()}$t") ++ quiet.slice(3 * t, 3 * t + 3).map(_ -> s"q$t")
      val deletes = quiet.slice(40 + 2 * t, 42 + 2 * t)
      st.commitDelta(rows(adds), (adds.map(_._1) ++ deletes).toDF("k")
        .withColumn("bucket", st.bucketCol(col("k"))), adds.size + deletes.size, t.toLong)
      scoped ||= java.nio.file.Files.readString(java.nio.file.Paths.get(
        s"$root/manifest_${f"${t.toLong}%014d"}.txt")).linesIterator.exists(l => l.startsWith("D\t") && !l.endsWith("\t*"))
      check(s"after delta $t")
    }
    assert(scoped, "no bucket-local fold left a scoped delta")
  }

  test("a part file the commit did not record is never read: reads and the fold") {
    // a stray copy of a part file in a base bucket dir and in a delta's
    // add/ bucket dir (a crashed writer's leftover, a manual copy) must
    // not surface: reads, bucket-pruned reads and the fold that rewrites
    // the base read exactly the files each commit recorded
    val root = tmpDir("store15")
    val st = new SnapshotStore(spark, root, numBuckets = 4,
      deleteKeys = Seq("k"), maxDeltas = 2, foldBucketBytes = 0L)
    def rows(kv: Seq[(String, Int)]) = kv.toDF("k", "v")
      .withColumn("bucket", st.bucketCol(col("k")))
    var model: Map[String, Int] = (1 to 40).map(i => s"k$i" -> i).toMap
    def commit(id: Long, adds: Seq[(String, Int)]): Unit = {
      st.commitDelta(rows(adds), rows(adds).select("k", "bucket"), adds.size, id)
      model = model ++ adds
    }
    def stray(dir: String): Int = {
      val d = new java.io.File(dir).listFiles()
        .filter(_.getName.startsWith("bucket=")).minBy(_.getName)
      val part = d.listFiles().find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath, new java.io.File(d, "part-99999-stray.parquet").toPath)
      d.getName.stripPrefix("bucket=").toInt
    }
    def back(df: org.apache.spark.sql.DataFrame): Seq[(String, Int)] =
      df.select("k", "v").as[(String, Int)].collect().toSeq.sorted
    st.commitFull(rows(model.toSeq), 0L)
    commit(1L, (1 to 10).map(i => s"n$i" -> i))
    val strays = Seq(stray(s"$root/snap_${f"${0L}%014d"}"),
      stray(s"$root/snap_${f"${1L}%014d"}/add")).distinct
    val bucketOf = rows(model.toSeq).select("k", "bucket").as[(String, Int)].collect().toMap
    def check(when: String): Unit = {
      assert(back(st.read().get) == model.toSeq.sorted, s"read $when")
      strays.foreach { b =>
        assert(back(st.readBuckets(Seq(b)).get) == model.toSeq.filter(kv => bucketOf(kv._1) == b).sorted,
          s"readBuckets($b) $when")
      }
    }
    check("before the fold")
    commit(2L, Seq("k1" -> 100))
    commit(3L, Seq("k2" -> 200)) // chain 1..3 > maxDeltas: the full fold runs
    val manifest = java.nio.file.Files.readString(java.nio.file.Paths.get(
      s"$root/manifest_${f"${3L}%014d"}.txt"))
    assert(!manifest.contains("D\t") && manifest.contains("snap_00000000000003B"),
      s"the fold did not rewrite the base: $manifest")
    check("after the fold")
  }

  test("anti-join fold == aggregate-then-join fold, null key components included") {
    // Oracle: the fold's earlier formulation — aggregate every tombstone to
    // (key -> latest tag), left-join the tagged rows, keep a row iff no tag
    // or its own tag is at least that one — with the join made null-safe.
    // Seeded chains cover tombstones repeated across deltas, keys re-added
    // after their tombstone, pure deletes and null key components, on the
    // broadcast path and on the bloom-split path (tombBroadcastBytes = 0).
    val keyCols = Seq("k1", "k2")
    val universe = for (a <- Seq("a", "b", "c", "d", "e", "f"); b <- Seq(null, "x", "y"))
      yield (a, b)
    for ((tbb, seed) <- Seq((64L << 20, 1), (0L, 2), (64L << 20, 3), (0L, 4))) {
      val rnd = new scala.util.Random(seed)
      val st = new SnapshotStore(spark, tmpDir(s"storeanti$seed") + "/t", numBuckets = 4,
        deleteKeys = keyCols, maxDeltas = 10, tombBroadcastBytes = tbb)
      def rows(kv: Seq[((String, String), Int)]) =
        kv.map { case ((a, b), v) => (a, b, v) }.toDF("k1", "k2", "v")
          .withColumn("bucket", st.bucketCol(col("k1"), col("k2")))
      def keys(ks: Seq[(String, String)]) = ks.toDF("k1", "k2")
        .withColumn("bucket", st.bucketCol(col("k1"), col("k2")))
      val base = universe.filter(_ => rnd.nextInt(100) < 70).map(_ -> rnd.nextInt(1000))
      st.commitFull(rows(base), 0L)
      var model = base.toMap
      var tagged = rows(base).withColumn("_wtag", lit(-1L))
      var tombs = keys(Seq.empty).withColumn("_ttag", lit(0L))
      var prevTombs = Seq.empty[(String, String)]
      for (tag <- 1L to 5L) {
        val adds = universe.filter(_ => rnd.nextInt(100) < 25).map(_ -> rnd.nextInt(1000))
        val deletes = universe.filter(_ => rnd.nextInt(100) < 15)
        val repeated = prevTombs.filter(_ => rnd.nextBoolean())
        val tombKeys = (adds.map(_._1) ++ deletes ++ repeated).distinct
        st.commitDelta(rows(adds), keys(tombKeys), tombKeys.size, tag)
        model = (model -- tombKeys) ++ adds
        tagged = tagged.unionByName(rows(adds).withColumn("_wtag", lit(tag)))
        tombs = tombs.unionByName(keys(tombKeys).withColumn("_ttag", lit(tag)))
        prevTombs = tombKeys
        val tombMax = tombs.groupBy(keyCols.map(col): _*).agg(max("_ttag").as("_ttag"))
          .select(col("k1").as("t1"), col("k2").as("t2"), col("_ttag"))
        val oracle = tagged
          .join(tombMax, col("k1") <=> col("t1") && col("k2") <=> col("t2"), "left")
          .filter(col("_ttag").isNull || col("_wtag") >= col("_ttag"))
          .select("k1", "k2", "v").as[(String, String, Int)].collect().toSet
        val got = st.read().get.select("k1", "k2", "v").as[(String, String, Int)].collect().toSet
        assert(got == oracle, s"seed=$seed tag=$tag: extra=${(got -- oracle).take(3)} " +
          s"missing=${(oracle -- got).take(3)}")
        assert(got == model.map { case ((a, b), v) => (a, b, v) }.toSet,
          s"seed=$seed tag=$tag: the oracle itself disagrees with the plain model")
      }
      assert(model.keys.exists(_._2 == null) && tombs.filter(col("k2").isNull).count() > 0,
        "chain must exercise null key components")
    }
  }

  test("a 16-bucket delta write on local[4] leaves one parquet file per bucket dir") {
    val root = tmpDir("store14")
    val st = new SnapshotStore(spark, root, numBuckets = 16,
      deleteKeys = Seq("k"), maxDeltas = 8)
    def rows(kv: Seq[(String, Int)]) = kv.toDF("k", "v")
      .withColumn("bucket", st.bucketCol(col("k")))
    st.commitFull(rows((1 to 100).map(i => s"k$i" -> i)), 0L)
    val adds = rows((1 to 400).map(i => s"n$i" -> i)).repartition(8)
    st.commitDelta(adds, adds.select("k", "bucket"), adds.count(), 1L)
    assert(spark.sparkContext.defaultParallelism == 4)
    for (side <- Seq("add", "tomb")) {
      val dirs = new java.io.File(s"$root/snap_${f"${1L}%014d"}/$side").listFiles()
        .filter(_.getName.startsWith("bucket="))
      assert(dirs.length == 16, s"$side: ${dirs.length} bucket dirs")
      dirs.foreach { d =>
        val files = d.listFiles().map(_.getName).filter(_.endsWith(".parquet"))
        assert(files.length == 1, s"$side/${d.getName}: ${files.mkString(",")}")
      }
    }
    assert(st.read().get.count() == 500)
  }

  test("store writes use no output committer: no listing, no _temporary, no _SUCCESS") {
    // each write task writes its buckets' parquet under their final names
    // and returns them; the record is built from those results. The only
    // renames left are the temp files of the record, manifest, sidecar and
    // pointer (Spark's committer listed, made `_temporary` trees, renamed
    // every part file and wrote `_SUCCESS`)
    val local = tmpDir("store_nocommit")
    val st = new SnapshotStore(spark, s"countfs://$local", numBuckets = 8,
      deleteKeys = Seq("k"), termExpr = Some(array(col("t"))))
    def rows(kt: Seq[(String, String)]) = kt.toDF("k", "t")
      .withColumn("bucket", st.bucketCol(col("k")))
    val base = rows((1 to 100).map(i => s"k$i" -> s"t$i"))
    val adds = rows((1 to 30).map(i => s"n$i" -> s"u$i"))
    def buckets(df: org.apache.spark.sql.DataFrame) = df.select("bucket").distinct().count()
    val parts = buckets(base) + 2 * buckets(adds) // one per bucket: base, adds, tombstones
    val paths = CountingFileSystem.pathsDuring {
      st.commitFull(base, 0L)
      st.stageDelta(adds, adds.select("k", "bucket"), 30L, 1L)
    }
    def of(kind: String) = paths.getOrElse(kind, Seq.empty)
    assert(of(CountingFileSystem.DirListing).isEmpty, s"listed ${of(CountingFileSystem.DirListing)}")
    val made = of(CountingFileSystem.Creates) ++ of(CountingFileSystem.Mkdirs)
    assert(!made.exists(p => p.contains("_temporary") || p.endsWith("_SUCCESS")), s"made $made")
    assert(of(CountingFileSystem.Creates).count(_.endsWith(".parquet")) == parts,
      s"part files: ${of(CountingFileSystem.Creates).filter(_.endsWith(".parquet"))}")
    val renamed = of(CountingFileSystem.Renames).map(p => new org.apache.hadoop.fs.Path(p).getName)
    assert(renamed.nonEmpty && renamed.forall(
      _.matches("(_record\\.txt|manifest_[0-9]+\\.txt|_terms\\.bloom|_latest)\\.tmp[0-9]+")),
      s"renamed $renamed")
    st.finalizeCommit(1L)
    assert(st.read().get.count() == 130)
  }

  test("a write task failing midway fails the stage; a re-stage reads each row once") {
    // the term expression throws in the write task once, after the task has
    // written its earlier buckets; the stage fails, nothing the attempt
    // wrote is named by a record, and a re-stage of the same id replaces
    // the dir and reads every row exactly once
    val root = tmpDir("store_taskfail")
    StoreSpecFailOnce.armed.set(true)
    val failOnce = udf { (t: String) =>
      if (t == "boom" && StoreSpecFailOnce.armed.getAndSet(false)) sys.error("injected task failure")
      t
    }
    val st = new SnapshotStore(spark, root, numBuckets = 16, deleteKeys = Seq("k"),
      termExpr = Some(array(failOnce(col("t")))))
    def rows(kt: Seq[(String, String)]) = kt.toDF("k", "t")
      .withColumn("bucket", st.bucketCol(col("k")))
    val base = (1 to 100).map(i => s"k$i" -> s"t$i")
    st.commitFull(rows(base), 0L)
    // "boom" rides on the add whose bucket sorts last: its task writes the
    // rest of its buckets first
    val fresh = (1 to 60).map(i => s"n$i" -> s"u$i")
    val last = rows(fresh).select("k", "bucket").as[(String, Int)].collect().maxBy(_._2)._1
    val adds = fresh.map { case (k, t) => k -> (if (k == last) "boom" else t) } :+ ("k1" -> "t1b")
    val e = intercept[Exception](st.stageDelta(rows(adds), rows(adds).select("k", "bucket"),
      adds.size, 1L))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("injected task failure")), e.toString)
    val snap1 = new java.io.File(s"$root/snap_${f"${1L}%014d"}")
    def parquetUnder(d: java.io.File): Seq[String] =
      if (!d.exists) Seq.empty
      else java.nio.file.Files.walk(d.toPath).toArray.map(_.toString).filter(_.endsWith(".parquet"))
        .map(p => d.toPath.relativize(java.nio.file.Paths.get(p)).toString).toSeq
    def recorded(d: java.io.File): Set[String] = Seq("add", "tomb").flatMap { side =>
      val r = new java.io.File(d, s"$side/_record.txt")
      if (!r.exists) Seq.empty
      else java.nio.file.Files.readAllLines(r.toPath).toArray.map(_.toString).drop(1)
        .map(l => s"$side/" + l.split("\t", 3)(2)).toSeq
    }.toSet
    assert(parquetUnder(snap1).forall(f => !recorded(snap1).contains(f)),
      s"a failed attempt's file is named by a record: ${parquetUnder(snap1)}")
    assert(st.latest.contains(0L) && !st.isStagedNotFinal(1L))
    st.stageDelta(rows(adds), rows(adds).select("k", "bucket"), adds.size, 1L)
    st.finalizeCommit(1L)
    val back = st.read().get.select("k", "t").as[(String, String)].collect().toSeq
    assert(back.size == 160 && back.toMap == (base.toMap ++ adds), s"${back.size} rows")
    assert(parquetUnder(snap1).toSet == recorded(snap1), "a file on disk is named by no record")
  }

  test("a write that splits a bucket across tasks fails loudly") {
    val st = new SnapshotStore(spark, tmpDir("store_split"), numBuckets = 2, deleteKeys = Seq("k"))
    val df = (1 to 200).map(i => s"k$i" -> i).toDF("k", "v")
      .withColumn("bucket", st.bucketCol(col("k"))).repartition(4)
    val e = intercept[RuntimeException](st.commitFull(df, 0L, assumePartitioned = true))
    assert(e.getMessage.contains("written by"), e.getMessage)
    assert(st.latest.isEmpty)
  }
}

/** Arms the one failure of the failing-write-task spec (a JVM-wide flag:
  * local-mode tasks run in the test JVM). */
object StoreSpecFailOnce {
  val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
}

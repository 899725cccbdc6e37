package graft.canon

import graft.GraftSpec
import org.apache.spark.sql.functions._

class ConnectedComponentsSpec extends GraftSpec {
  import spark.implicits._

  test("chain + separate component + singleton-free vertices") {
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")).toDF("src", "dst")
    val comps = ConnectedComponents.run(spark, edges)
      .as[(String, String)].collect().toMap
    assert(Seq("a", "b", "c", "d").forall(comps(_) == "a"))
    assert(comps("x") == "x" && comps("y") == "x")
  }

  test("hub-star graph (skew shape) converges") {
    val hub = (1 to 500).map(i => ("hub", s"n$i"))
    val comps = ConnectedComponents.run(spark, hub.toDF("src", "dst"))
    assert(comps.select("component").distinct().count() == 1)
    assert(comps.count() == 501)
  }

  test("two merged rings") {
    val ring1 = (0 until 6).map(i => (s"r${i}", s"r${(i + 1) % 6}"))
    val ring2 = (0 until 6).map(i => (s"q${i}", s"q${(i + 1) % 6}"))
    val bridge = Seq(("r0", "q0"))
    val comps = ConnectedComponents.run(spark, (ring1 ++ ring2 ++ bridge).toDF("src", "dst"))
    assert(comps.select("component").distinct().count() == 1)
  }

  test("distributed path: long chain converges in O(log n) rounds") {
    // diameter 200 >> maxIter 12: min-label propagation would silently
    // return wrong labels here; star contraction converges logarithmically
    val chain = (0 until 200).map(i => (f"v$i%03d", f"v${i + 1}%03d")).toDF("src", "dst")
    val comps = ConnectedComponents.run(spark, chain, maxIter = 12, smallGraphCutoff = 0)
    assert(comps.select("component").distinct().collect().map(_.getString(0)).toSeq == Seq("v000"))
    assert(comps.count() == 201)
  }

  test("non-convergence raises instead of returning wrong labels") {
    val chain = (0 until 300).map(i => (f"w$i%03d", f"w${i + 1}%03d")).toDF("src", "dst")
    val ex = intercept[RuntimeException] {
      ConnectedComponents.run(spark, chain, maxIter = 1, smallGraphCutoff = 0).collect()
    }
    assert(ex.getMessage.contains("no fixpoint"))
  }

  test("distributed iterative-join path == driver union-find fast path") {
    val edges = ((0 until 40).map(i => (s"c$i", s"c${i + 1}")) ++ // long chain
      (1 to 60).map(i => ("hub", s"h$i")) ++                      // star (skew)
      Seq(("x1", "x2"), ("x2", "x3"))).toDF("src", "dst")
    val fast = ConnectedComponents.run(spark, edges)
      .as[(String, String)].collect().toMap
    val dist = ConnectedComponents.run(spark, edges, maxIter = 50, smallGraphCutoff = 0)
      .as[(String, String)].collect().toMap
    assert(fast == dist)
  }
}

class CanonicalizerSpec extends GraftSpec {
  import spark.implicits._

  test("alias IRIs (entity vs alt namespace) merge into one canonical id") {
    val iris = graft.sources.PageGen.dictionary.take(4).flatMap(e =>
      Seq(e.iri, graft.sources.PageGen.aliasIri(e.iri))).toDF("id")
    val cmap = IriCanonicalizer.canonicalMap(spark, iris)
    val pairs = cmap.as[(String, String)].collect().toMap
    graft.sources.PageGen.dictionary.take(4).foreach { e =>
      assert(pairs(e.iri) == pairs(graft.sources.PageGen.aliasIri(e.iri)),
        s"alias of ${e.iri} not merged")
    }
    // distinct entities must NOT merge
    val canonOf = graft.sources.PageGen.dictionary.take(4).map(e => pairs(e.iri))
    assert(canonOf.distinct.size == 4, "distinct entities wrongly merged")
  }

  test("rewrite-join fallback (no broadcast) produces identical output") {
    // canonRows above broadcastRowLimit forces the shuffle-join path — the
    // 100 TB shape where the accumulated map can never broadcast
    val cmap = Seq(("http://kg.example.org/alt/X", "http://kg.example.org/entity/X"))
      .toDF("id", "canonical")
    val quads = Seq(
      ("u1", "http://kg.example.org/alt/X", "http://p", "http://kg.example.org/alt/X", 0, "", "", "http://g"),
      ("u1", "http://s", "http://p", "lit", 2, "", "", "http://g"))
      .toDF("url", "s", "p", "oLex", "oKind", "oDtype", "oLang", "g")
    val viaBroadcast = IriCanonicalizer
      .canonicalizeAttributed(quads, cmap, canonRows = 1L).collect().toSet
    val viaShuffle = IriCanonicalizer
      .canonicalizeAttributed(quads, cmap,
        canonRows = IriCanonicalizer.broadcastRowLimit + 1).collect().toSet
    assert(viaBroadcast == viaShuffle && viaBroadcast.nonEmpty)
  }

  test("default canonRows (unknown size) NEVER plans a broadcast join") {
    // the map's true size is unknown at the default call sites — guessing a
    // broadcast is the canonical 100 TB driver-OOM; the rewrite must fall
    // back to shuffle joins by default
    val cmap = Seq(("http://kg.example.org/alt/X", "http://kg.example.org/entity/X"))
      .toDF("id", "canonical")
    val quads = Seq(
      ("u1", "http://kg.example.org/alt/X", "http://p", "lit", 2, "", "", "http://g"))
      .toDF("url", "s", "p", "oLex", "oKind", "oDtype", "oLang", "g")
    // defeat Spark's own size-estimation auto-broadcast so the plan reflects
    // only OUR hint (tiny literal frames would otherwise auto-broadcast)
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val attributed = IriCanonicalizer.canonicalizeAttributed(quads, cmap)
        .queryExecution.executedPlan.toString
      assert(!attributed.contains("BroadcastHashJoin"), attributed)
      // and a real count DOES broadcast (the fast path still exists)
      val sized = IriCanonicalizer.canonicalizeAttributed(quads, cmap, canonRows = 1L)
        .queryExecution.executedPlan.toString
      assert(sized.contains("BroadcastHashJoin"), sized)
    }
  }

  test("extendMap: new-id-restricted verification still merges old-new and bridges") {
    // old map: {e1,a1} cluster (rep a1); new batch brings alias of e2 AND a
    // bridge candidate for an old singleton
    val d = graft.sources.PageGen.dictionary
    val (e1, e2) = (d(0).iri, d(1).iri)
    val (a1, a2) = (graft.sources.PageGen.aliasIri(e1), graft.sources.PageGen.aliasIri(e2))
    val oldMap = IriCanonicalizer.canonicalMap(spark, Seq(e1, a1, e2).toDF("id"))
    val extended = IriCanonicalizer.extendMap(spark, oldMap, Seq(a2, e1).toDF("id"))
      .as[(String, String)].collect().toMap
    assert(extended(e1) == extended(a1), "old cluster preserved")
    assert(extended(e2) == extended(a2), "NEW alias merged with OLD singleton")
    assert(extended(e1) != extended(e2), "distinct entities stay apart")
    // domain unchanged -> map returned as-is (cheap no-op path)
    val same = IriCanonicalizer.extendMap(spark, oldMap, Seq(e1).toDF("id"))
      .as[(String, String)].collect().toMap
    assert(same == oldMap.as[(String, String)].collect().toMap)
  }

  test("driver-tier canonical map == distributed LSH+CC path (bit-exact)") {
    val d = graft.sources.PageGen.dictionary
    val iris = (d.map(_.iri) ++ d.take(3).map(e => graft.sources.PageGen.aliasIri(e.iri)) ++ Seq(
      "http://kg.example.org/entity/X",            // 1-char local
      "http://kg.example.org/entity/",             // EMPTY local name
      "http://kg.example.org/entity/ab",           // 2-char local
      "http://kg.example.org/entity/A#Frag",       // fragment split
      "http://kg.example.org/class/Person",
      "http://kg.example.org/entity/Um-l_aut9.x",  // specials stripped
      "http://kg.example.org/alt/Um-l_aut9.x"      // its alias
    )).distinct
    val df = iris.toDF("id")
    val driver = IriCanonicalizer.canonicalMap(spark, df)
      .as[(String, String)].collect().toMap
    val dist = IriCanonicalizer.canonicalMapDistributed(spark, df, 0.6)
      .as[(String, String)].collect().toMap
    assert(driver == dist, s"driver mirror diverged: " +
      s"only-driver=${driver.toSet -- dist.toSet} only-dist=${dist.toSet -- driver.toSet}")
    assert(driver.exists { case (id, c) => id != c }, "corpus must exercise merges")
  }

  test("store-map invariant: every canonical value is also an id row") {
    // extendChangedGivenFresh (the pipeline's pruned path) checks fresh ids
    // against the map's id column ALONE — valid iff representatives always
    // appear as id rows. Assert the invariant on maps this object produces,
    // both fresh and extended across a bridging batch.
    val d = graft.sources.PageGen.dictionary
    val iris = d.take(4).map(_.iri) ++ d.take(2).map(e => graft.sources.PageGen.aliasIri(e.iri))
    val m0 = IriCanonicalizer.canonicalMap(spark, iris.toDF("id"))
    def assertInvariant(m: org.apache.spark.sql.DataFrame): Unit =
      assert(m.select(col("canonical").as("id"))
        .join(m.select("id"), Seq("id"), "left_anti").count() == 0,
        "canonical value missing from id column")
    assertInvariant(m0)
    val m1 = IriCanonicalizer.extendMap(spark, m0,
      Seq(graft.sources.PageGen.aliasIri(d(2).iri), d(4).iri).toDF("id"))
    assertInvariant(m1)
    // and extendMapParts' changed rows routed through extendChangedGivenFresh
    // reproduce the same extended map as untouched ∪ changed
    val (u, c) = IriCanonicalizer.extendMapParts(spark, m0,
      Seq(graft.sources.PageGen.aliasIri(d(2).iri), d(4).iri).toDF("id"))
    val viaParts = u.unionByName(c).as[(String, String)].collect().toMap
    assert(viaParts == m1.as[(String, String)].collect().toMap)
  }

  test("typed signature kernel == HOF Column signature (bit-exact)") {
    // the canon store persists `sig` via the typed kernel (sigScala); the
    // HOF Column tree is the independent reference implementation — assert
    // bit-equality over dictionary iris, aliases, and adversarial locals
    val d = graft.sources.PageGen.dictionary
    val ids = (d.map(_.iri) ++ d.take(4).map(e => graft.sources.PageGen.aliasIri(e.iri)) ++ Seq(
      "http://kg.example.org/entity/",            // EMPTY local
      "http://kg.example.org/entity/X",           // 1-char
      "http://kg.example.org/entity/ab",          // 2-char
      "http://kg.example.org/entity/A#Frag",      // fragment
      "http://kg.example.org/entity/Um-l_aut9.x", // specials
      "http://kg.example.org/e/123456789012345678901234567890123456789012345678"
    )).distinct
    val viaKernel = IriCanonicalizer.withSignatures(ids.toDF("id"))
      .select("id", "sig").as[(String, Seq[Long])].collect().toMap
    val viaColumn = ids.toDF("id")
      .select(col("id"), IriCanonicalizer.signatureColumn(col("id")).as("sig"))
      .as[(String, Seq[Long])].collect().toMap
    assert(viaKernel == viaColumn,
      ids.filter(i => viaKernel(i) != viaColumn(i)).mkString(", "))
  }

  test("extendChangedGivenFresh: stored-signature path == recompute path") {
    // the pipeline persists `sig` in the canon store and routes pair
    // generation through verifiedPairsStored — assert it yields the SAME
    // changed rows as the domain-recompute formulation, on a corpus with
    // old-new merges, an old-old bridge via a new alias, and adversarial
    // locals (empty local name, 1-char, specials, fragment)
    val d = graft.sources.PageGen.dictionary
    val oldIris = (d.take(6).map(_.iri) ++
      d.take(2).map(e => graft.sources.PageGen.aliasIri(e.iri)) ++ Seq(
        "http://kg.example.org/entity/",            // EMPTY local
        "http://kg.example.org/entity/X",           // 1-char local
        "http://kg.example.org/entity/A#Frag",      // fragment split
        "http://kg.example.org/entity/Um-l_aut9.x"  // specials stripped
      )).distinct
    val oldMap = IriCanonicalizer.canonicalMap(spark, oldIris.toDF("id"))
      .localCheckpoint()
    // the write-side expression — what every canon store commit persists
    val storedSigs = oldMap
      .select(col("id"), IriCanonicalizer.signatureColumn(col("id")).as("sig"))
      .localCheckpoint()
    val freshIds = Seq(
      graft.sources.PageGen.aliasIri(d(3).iri),     // merges with an old id
      d(7).iri,                                     // genuinely new singleton
      "http://kg.example.org/alt/Um-l_aut9.x",      // merges with adversarial old
      "http://kg.example.org/alt/")                 // fresh EMPTY local (pairs with old empty)
    val fresh = freshIds.toDF("id")
      .join(oldMap.select("id"), Seq("id"), "left_anti").localCheckpoint()
    val viaRecompute = IriCanonicalizer
      .extendChangedGivenFresh(spark, oldMap, fresh)
      .as[(String, String)].collect().toMap
    val viaStored = IriCanonicalizer
      .extendChangedGivenFresh(spark, oldMap, fresh, storedSigs = Some(storedSigs))
      .as[(String, String)].collect().toMap
    assert(viaStored == viaRecompute,
      s"only-stored=${viaStored.toSet -- viaRecompute.toSet} " +
        s"only-recompute=${viaRecompute.toSet -- viaStored.toSet}")
    // the corpus must actually exercise old-new merges, not just identities
    assert(viaStored.exists { case (id, c) => id != c }, "no merges exercised")
    assert(viaStored.contains(graft.sources.PageGen.aliasIri(d(3).iri)))
    // over-gate shape: a fresh set past freshKeyBroadcastLimit joins the
    // stored bands UNFILTERED (no broadcast hint) — same verified pairs
    val overGate = IriCanonicalizer
      .verifiedPairsStored(fresh, storedSigs, 0.6, freshBroadcastLimit = 0)
      .as[(String, String)].collect().toSet
    val underGate = IriCanonicalizer
      .verifiedPairsStored(fresh, storedSigs, 0.6)
      .as[(String, String)].collect().toSet
    assert(overGate == underGate && overGate.nonEmpty)
  }

  test("verifiedPairsStored fails loudly on a short stored signature") {
    // a 15-element stored sig would band into plausible but wrong keys
    // (concat_ws skips the missing element); the read must fail naming the id
    val d = graft.sources.PageGen.dictionary
    val ids = d.take(4).map(_.iri)
    val short = ids(2)
    val storedSigs = ids.toDF("id")
      .select(col("id"), IriCanonicalizer.signatureColumn(col("id")).as("sig"))
      .withColumn("sig",
        when(col("id") === short, slice(col("sig"), 1, 15)).otherwise(col("sig")))
    val fresh = Seq(graft.sources.PageGen.aliasIri(d(0).iri)).toDF("id")
    val e = intercept[Exception] {
      IriCanonicalizer.verifiedPairsStored(fresh, storedSigs, 0.6).collect()
    }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString("\n")
    assert(msgs.contains(s"stored canon sig of id $short has 15 hashes, expected 16"), msgs)
  }

  test("canonicalize rewrites subject and IRI-object but not literals") {
    val cmap = Seq(("http://kg.example.org/alt/X", "http://kg.example.org/entity/X"))
      .toDF("id", "canonical")
    val quads = Seq(
      ("u1", "http://kg.example.org/alt/X", "http://p", "http://kg.example.org/alt/X", 0, "", "", "http://g"),
      ("u1", "http://s", "http://p", "http://kg.example.org/alt/X", 2, "", "", "http://g")) // literal!
      .toDF("url", "s", "p", "oLex", "oKind", "oDtype", "oLang", "g")
    val out = IriCanonicalizer.canonicalizeAttributed(quads, cmap)
      .select("s", "oLex", "oKind").as[(String, String, Int)].collect().toSet
    assert(out == Set(
      ("http://kg.example.org/entity/X", "http://kg.example.org/entity/X", 0),
      ("http://s", "http://kg.example.org/alt/X", 2)))
  }
}

class MinHashBlockingSpec extends GraftSpec {
  import spark.implicits._

  test("identical token sets collide in every band; disjoint sets in none") {
    val docs = Seq(
      ("a", Seq("x", "y", "z", "w")),
      ("b", Seq("x", "y", "z", "w")),
      ("c", Seq("p", "q", "r", "s"))).toDF("id", "toks")
    val sigs = MinHashBlocking.signatures(docs, 16)
    val pairs = MinHashBlocking.candidatePairs(sigs, 8, 2)
      .as[(String, String)].collect().toSet
    assert(pairs.contains(("a", "b")))
    assert(!pairs.exists(p => p._1 == "c" || p._2 == "c"))
  }
}

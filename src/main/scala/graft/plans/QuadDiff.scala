package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** J1 — the core operator: add/delete changelog between two quad states
  * (the Spark re-expression of the reference's RDF-patch semantics,
  * parse_trx_logs.sql:6-23 + MOTIVATION.md:44-46: updates surface as
  * delete+insert pairs; each emitted line is self-contained).
  *
  * Implementation note (scale): the naive formulation is two `except`s —
  * TWO full shuffles plus two distincts. This version tags both sides and
  * computes a signed multiset delta with ONE hash aggregation:
  *
  *   union(prev×(-1), next×(+1)).groupBy(quad).sum(w) != 0
  *
  * Partial aggregation (map-side combine) collapses duplicates before the
  * exchange, and AQE coalesces the post-shuffle partitions. The same shape
  * also yields the support-count transition diff used for shared facts.
  */
object QuadDiff {

  val quadCols: Seq[String] = Seq("s", "p", "oLex", "oKind", "oDtype", "oLang", "g")

  /** Set-semantics diff: rows in `next` not in `prev` -> op '+', rows in
    * `prev` not in `next` -> op '-'. Inputs may carry duplicates. */
  def diff(prev: DataFrame, next: DataFrame): DataFrame =
    diffOn(prev, next, quadCols)

  /** Generic TRUE-SET diff on arbitrary key columns, duplicate-tolerant in
    * ONE aggregation: tag prev rows w=1 and next rows w=2; sum(DISTINCT w)
    * per key is 1 (prev-only -> '-'), 2 (next-only -> '+') or 3 (both ->
    * no change). Duplicates within a side collapse under DISTINCT, so
    * prev=[q,q] vs next=[q] correctly emits nothing — no spurious '-' (the
    * signed-multiset formulation got this wrong). Still a single hash agg
    * with map-side partial combine. */
  def diffOn(prev: DataFrame, next: DataFrame, cols: Seq[String]): DataFrame = {
    val p = prev.select(cols.map(col): _*).withColumn("w", lit(1L))
    val n = next.select(cols.map(col): _*).withColumn("w", lit(2L))
    p.unionByName(n)
      .groupBy(cols.map(col): _*)
      .agg(sum_distinct(col("w")).as("pres"))
      .filter(col("pres") =!= 3L)
      .withColumn("op", when(col("pres") === 2L, lit("+")).otherwise(lit("-")))
      .drop("pres")
  }

  /** Null-safe equality of two column lists: `<=>` per pair. Every join
    * on quad identity uses it — `oLex`/`oLang` are null on some quads (a
    * page without a language), and under plain `=` such a quad never meets
    * itself, so its transition or deletion was silently lost. */
  private def nullSafeEq(left: Seq[String], right: Seq[String]): Column =
    left.zip(right).map { case (l, r) => col(l) <=> col(r) }.reduce(_ && _)

  /** state ⟗ delta on the quad key (null-safe), with the old and new
    * support of every quad either side holds, and the patch rows: '+' on
    * a 0 -> >0 transition, '-' on >0 -> 0. */
  private def transition(state: DataFrame, delta: DataFrame): (DataFrame, DataFrame) = {
    val stateKey = quadCols.map("_s_" + _)
    val joined = state.select((quadCols.zip(stateKey).map { case (c, k) => col(c).as(k) }
        :+ col("support")): _*)
      .join(delta.select((quadCols.map(col) :+ col("d")): _*),
        nullSafeEq(stateKey, quadCols), "full_outer")
      // matched sides are equal (both null included), so coalescing picks
      // whichever side is present
      .select((quadCols.zip(stateKey).map { case (c, k) => coalesce(col(c), col(k)).as(c) }
        ++ Seq(col("support"), col("d"))): _*)
      .withColumn("oldSup", coalesce(col("support"), lit(0L)))
      .withColumn("newSup", greatest(col("oldSup") + coalesce(col("d"), lit(0L)), lit(0L)))
    val patches = joined
      .withColumn("op",
        when(col("oldSup") === 0L && col("newSup") > 0L, lit("+"))
          .when(col("oldSup") > 0L && col("newSup") === 0L, lit("-")))
      .filter(col("op").isNotNull)
      .select((col("op") +: quadCols.map(col)): _*)
    (joined, patches)
  }

  /** Support-count transition diff, for facts contributed by many pages
    * (e.g. `entity rdf:type T` holds while ANY page supports it).
    *
    * `state`: (quad, support: long) — current global support per quad.
    * `delta`: (quad, d: long)       — net contribution change this batch.
    *
    * Emits '+' when support transitions 0 -> >0 and '-' on >0 -> 0, plus the
    * updated state. One outer join on the quad key; both sides arrive
    * pre-bucketed by quad hash from the store layout, so the exchange is
    * pruned to affected buckets only.
    */
  def supportTransition(state: DataFrame, delta: DataFrame): (DataFrame, DataFrame) = {
    val (joined, patches) = transition(state, delta)
    val newState = joined.filter(col("newSup") > 0L)
      .select((quadCols.map(col) :+ col("newSup").as("support")): _*)
    (patches, newState)
  }

  /** [[supportTransition]] for MERGE-ON-READ commits: the state rows that
    * actually CHANGED (quad ∈ delta, new support > 0) — exactly the delta
    * additions whose keys the tombstones (= the delta's quads) cover.
    * Rows of `state` outside `delta` pass through untouched and unemitted,
    * so callers may prune `state` loosely (e.g. a hash-key semi join with
    * false positives): a d-null row produces no patch and no addition. */
  def supportTransitionDelta(state: DataFrame, delta: DataFrame): (DataFrame, DataFrame) = {
    val (joined, patches) = transition(state, delta)
    val changedState = joined
      .filter(col("d").isNotNull && col("newSup") > 0L)
      .select((quadCols.map(col) :+ col("newSup").as("support")): _*)
    (patches, changedState)
  }

  /** Patch application (property-test algebra: apply(diff(a,b), a) == b). */
  def apply(base: DataFrame, patch: DataFrame): DataFrame = {
    val delKey = quadCols.map("_d_" + _)
    val adds = patch.filter(col("op") === "+").select(quadCols.map(col): _*)
    val dels = patch.filter(col("op") === "-")
      .select(quadCols.zip(delKey).map { case (c, k) => col(c).as(k) }: _*)
    base.select(quadCols.map(col): _*)
      .join(dels, nullSafeEq(quadCols, delKey), "left_anti")
      .unionByName(adds)
      .distinct()
  }
}

package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, Dataset, Encoders}
import org.apache.spark.sql.catalyst.expressions.{Expression, Predicate, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.ExprColumn

import graft.state.TermBloom

/** `bloom_probe(hash)` — true iff a broadcast [[TermBloom]] might contain
  * the 64-bit key. A native Catalyst predicate WITH codegen: the probe
  * stays inside the whole-stage-codegen span of the scan it filters (a
  * Scala UDF here would split the fused parquet-scan + filter stage this
  * predicate exists to keep narrow, and fall back to interpreted rows).
  *
  * Built for membership PRUNING joins: broadcast O(bits) instead of a
  * hashed relation of O(keys × 32 B). A false positive only lets an extra
  * row through the prune — callers must (and do) tolerate supersets, the
  * same contract as hash-collision pruning. Never a false negative.
  */
case class BloomProbeExpr(child: Expression, bloom: Broadcast[TermBloom])
    extends UnaryExpression with Predicate {

  override def prettyName: String = "bloom_probe"

  override protected def nullSafeEval(h: Any): Any =
    bloom.value.mightContain(h.asInstanceOf[Long])

  /** Called from generated code (and tests). */
  def probe(h: Long): Boolean = bloom.value.mightContain(h)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomProbe", this, classOf[BloomProbeExpr].getName)
    defineCodeGen(ctx, ev, c => s"$ref.probe($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): BloomProbeExpr =
    copy(child = newChild)
}

object BloomProbe {

  /** Predicate Column: `hash` must be a LONG column (e.g. `xxhash64(...)`). */
  def apply(bloom: Broadcast[TermBloom], hash: Column): Column =
    ExprColumn(BloomProbeExpr(ExprColumn.expr(hash), bloom))

  /** Distributed bloom build over a column of 64-bit keys. Every partial
    * filter must have the FULL target shape for OR-union, so build cost is
    * partials x bits no matter how they are reduced — a flat `reduce`
    * over one partial per input partition shipped partitions x 64 MB to
    * the driver sequentially at the cap (measured: 4 s at 16 partitions,
    * 33 s at 256 for the same 50M keys). Two fixes compose: a BYTE BUDGET
    * caps how many partials exist at all (`coalesce` — narrow, no
    * shuffle; inserts are cheap relative to scanning, so the lost insert
    * parallelism is immaterial), and `treeReduce(depth=2)` OR-combines on
    * executors so the driver receives O(sqrt(partials)) filters. Micro
    * BLOOM_TREE pins the result ~flat in input partition count. `maxBits`
    * caps driver/broadcast memory; past it the filter saturates and the
    * FPR degrades smoothly (still never a false negative). */
  def build(keys: Dataset[_], n: Long, maxBits: Long): TermBloom = {
    val longs = keys.toDF().as[Long](Encoders.scalaLong)
    val rdd = longs.rdd
    if (rdd.getNumPartitions == 0) return TermBloom.sized(1L, maxBits)
    // total partial-filter bytes across the cluster bounded at ~2 GB
    val partialBytes = TermBloom.sizedBits(math.max(n, 1L), maxBits) / 8
    val maxPartials = math.max(2L, (2L << 30) / math.max(partialBytes, 1L))
    val src = if (rdd.getNumPartitions > maxPartials)
      rdd.coalesce(maxPartials.toInt) else rdd
    src
      .mapPartitions { it =>
        val bl = TermBloom.sized(math.max(n, 1L), maxBits)
        it.foreach(bl.put)
        Iterator.single(bl)
      }
      .treeReduce(_ orWith _, depth = 2)
  }

  /** The filter [[build]] makes for `n` keys, from hashes the driver already
    * holds: the same bits, with no Spark job. */
  def onDriver(hashes: Iterable[Long], n: Long, maxBits: Long): TermBloom = {
    val bl = TermBloom.sized(math.max(n, 1L), maxBits)
    hashes.foreach(bl.put)
    bl
  }
}

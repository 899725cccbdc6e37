package graft.state

import org.apache.hadoop.fs.{FileSystem, Path}

/** Fixed-size Bloom filter over 64-bit term hashes — the per-bucket
  * membership summary [[SnapshotStore]] records beside each data write so
  * point lookups (which buckets can contain rows mentioning term X?) plan
  * bucket-pruned scans instead of store-sized ones.
  *
  * Standard double hashing: probe i uses `h1 + i*h2` over the bit array
  * (h1/h2 = the halves of one xxhash64 of the term, h2 forced odd), k=7
  * probes — ~1% false-positive rate at 10 bits/element. False positives
  * only widen the candidate bucket set (extra IO, never wrong results);
  * a term's true bucket always probes true.
  *
  * Purely additive: tombstones cannot remove bits, so a summary
  * over-approximates live content until the bucket's next fold rewrites
  * it — the usual zone-map/bloom staleness trade, safe by construction.
  */
final class TermBloom(val bits: Array[Long], val k: Int) extends Serializable {

  private def nbits: Int = bits.length * 64

  def put(h: Long): Unit = {
    val h1 = h
    val h2 = (h >>> 32) | 1L
    var i = 0
    while (i < k) {
      val idx = java.lang.Long.remainderUnsigned(h1 + i * h2, nbits.toLong).toInt
      bits(idx >> 6) |= 1L << (idx & 63)
      i += 1
    }
  }

  def mightContain(h: Long): Boolean = {
    val h1 = h
    val h2 = (h >>> 32) | 1L
    var i = 0
    while (i < k) {
      val idx = java.lang.Long.remainderUnsigned(h1 + i * h2, nbits.toLong).toInt
      if ((bits(idx >> 6) & (1L << (idx & 63))) == 0L) return false
      i += 1
    }
    true
  }

  /** In-place union (associative, commutative — safe as a partial-combine
    * zero in a distributed build). Sizes must match. */
  def orWith(other: TermBloom): TermBloom = {
    require(other.bits.length == bits.length && other.k == k,
      s"bloom shape mismatch: ${other.bits.length}/${other.k} vs ${bits.length}/$k")
    var i = 0
    while (i < bits.length) { bits(i) |= other.bits(i); i += 1 }
    this
  }
}

object TermBloom {

  /** Term hash — plain-Scala xxhash64 (the build tasks and the driver-side
    * probe share this one function, so no cross-implementation hash
    * equivalence is ever load-bearing). */
  def hash(term: String): Long = graft.sources.XXH64.hashString(term, 42L)

  private val MaxBits = 1L << 27

  /** Size a bloom for ~n elements at ~10 bits/element (k=7 -> ~1% FPR),
    * clamped to [2^10, maxBits] and rounded up to a whole word count. At
    * extreme per-bucket cardinalities the cap saturates the filter and
    * pruning degrades toward "all buckets" — graceful, never wrong. */
  def sized(n: Long, maxBits: Long = MaxBits): TermBloom = {
    new TermBloom(new Array[Long](((sizedBits(n, maxBits) + 63) / 64).toInt), 7)
  }

  /** Bit count [[sized]] would allocate — lets callers budget partial
    * filters (bytes = bits/8) without allocating one. */
  def sizedBits(n: Long, maxBits: Long = MaxBits): Long =
    math.max(1L << 10, math.min(maxBits, n * 10))

  /** One bucket's filter, built while its rows stream past: [[sized]] for
    * `termsPerRow` × rows, a row count known only at the bucket's end. The
    * hashes wait in a buffer until then, or until the rows or the buffered
    * hashes reach the element count at which [[sized]] hits its cap; from
    * there the cap-sized filter takes them directly, so the buffer never
    * holds more than that count. [[result]] is None when no term was put. */
  final class Builder(termsPerRow: Int) {
    private val capElements = (MaxBits + 9) / 10 // the least n sized caps
    private var rows = 0L
    private var buf = new Array[Long](64)
    private var n = 0
    private var any = false
    private var capped: TermBloom = null

    def row(): Unit = {
      rows += 1
      if (capped == null && rows * termsPerRow >= capElements) cap()
    }

    def put(h: Long): Unit = {
      any = true
      if (capped != null) capped.put(h)
      else {
        if (n == buf.length) buf = java.util.Arrays.copyOf(buf, n * 2)
        buf(n) = h
        n += 1
        if (n >= capElements) cap()
      }
    }

    private def cap(): Unit = { capped = sized(capElements); drain(capped) }

    private def drain(bl: TermBloom): Unit = {
      var i = 0
      while (i < n) { bl.put(buf(i)); i += 1 }
      buf = null
    }

    def result: Option[TermBloom] =
      if (!any) None
      else if (capped != null) Some(capped)
      else { val bl = sized(math.max(rows, 1L) * termsPerRow); drain(bl); Some(bl) }
  }

  private val Magic = 0x47424C31 // "GBL1"

  /** Write a bucket->bloom map as one sidecar file (name must start with
    * `_` so Spark's parquet listings ignore it). Temp-file + rename, like
    * every other metadata write in the store: a crash mid-write must leave
    * either the previous sidecar or none — a truncated file would decode
    * as garbage (see the bounds checks in [[read]], the second line of
    * defense). */
  def write(fs: FileSystem, path: Path, blooms: Map[Int, TermBloom]): Unit =
    graft.FsWrite.atomic(fs, path) { os =>
      val out = new java.io.DataOutputStream(os)
      out.writeInt(Magic)
      out.writeInt(blooms.size)
      blooms.toSeq.sortBy(_._1).foreach { case (b, bl) =>
        out.writeInt(b)
        out.writeInt(bl.k)
        out.writeInt(bl.bits.length)
        bl.bits.foreach(out.writeLong)
      }
    }

  /** Widest sidecar entry the reader will allocate for: 2^27 bits / 64 =
    * 2M words per bucket (the [[sized]] default cap), with headroom for a
    * raised cap. A corrupt length field past this decodes as None instead
    * of a multi-GB allocation. */
  private val MaxWords = (1L << 29).toInt / 64
  private val MaxEntries = 1 << 20

  /** Read a sidecar; None when absent or unreadable/corrupt (callers must
    * treat None as "no summary" and fall back to conservative inclusion).
    * Every length field is bounds-checked BEFORE allocation and non-IO
    * decode failures (a truncated or bit-flipped file can produce negative
    * or absurd counts) also degrade to None — the documented fallback,
    * never a crash in candidateBuckets. */
  def read(fs: FileSystem, path: Path): Option[Map[Int, TermBloom]] = {
    if (!fs.exists(path)) return None
    val in = new java.io.DataInputStream(fs.open(path))
    try {
      if (in.readInt() != Magic) return None
      val n = in.readInt()
      if (n < 0 || n > MaxEntries) return None
      Some((0 until n).map { _ =>
        val b = in.readInt()
        val k = in.readInt()
        val words = in.readInt()
        if (k <= 0 || k > 64 || words <= 0 || words > MaxWords)
          sys.error(s"sidecar entry out of bounds: k=$k words=$words")
        val bits = Array.fill(words)(in.readLong())
        b -> new TermBloom(bits, k)
      }.toMap)
    } catch { case scala.util.control.NonFatal(_) => None }
    finally in.close()
  }
}

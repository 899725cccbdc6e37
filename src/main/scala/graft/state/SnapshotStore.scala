package graft.state

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StructField, StructType}
import java.nio.charset.StandardCharsets
import graft.FsWrite
import graft.Timing.timed

/** Iceberg-lite bucketed table with atomic snapshot commits: full
  * (bootstrap) writes and merge-on-read delta commits.
  *
  * No Iceberg jar ships in /opt/spark/jars, so we emulate the behaviors the
  * pipeline needs (SURVEY.md §7.3) behind this interface:
  *
  *  1. snapshot isolation / atomic visibility — data lands under
  *     `snap_<id>/bucket=<b>/`, then a manifest file and finally the
  *     `_latest` pointer are atomically renamed into place. Readers resolve
  *     `_latest` -> manifest -> per-bucket paths; a crashed writer leaves
  *     only unreferenced files. This replaces the reference's sham-file /
  *     skip-last visibility protocol (generate-rdfpatch.sh:54, 259-261).
  *  2. MERGE INTO — merge-on-read ([[stageDelta]]: append O(batch)
  *     addition + tombstone files; readers fold the chain), so an
  *     incremental batch writes O(batch) bytes. Delta chains are bounded
  *     by `maxDeltas`: the commit that would exceed it folds the chain.
  *  3. incremental reads — `readBuckets` loads (and folds) only named
  *     buckets; per-bucket parquet keeps min/max stats so pushed filters
  *     prune files.
  *
  * Delta-commit contract: a batch's tombstones must cover its own
  * additions' `deleteKeys` (the natural MERGE shape — you delete the old
  * versions of exactly the keys you rewrite). Under that contract the fold
  * is associative and is ONE temporal anti-join: a row, tagged with the
  * snapshot that wrote it, survives unless some tombstone has the same key
  * (null-safe `<=>`, so a key with a null component still matches itself)
  * and a strictly later tag.
  *
  * Every data dir carries a record (`_record.txt` beside the parquet),
  * written once, right after its parquet: the schema it was written with
  * and, per bucket, its part files and their byte lengths. The record is
  * built from what the write's tasks return ([[BucketWrite]]: each writes
  * its buckets' parquet under final names, with no output committer, and
  * returns each file's bucket, name and length, plus its term bloom for a
  * [[termExpr]] store), so a write neither walks the dir nor reads its
  * parquet back. Reads, folds and size gates are planned from the records
  * alone. A read is at most two parquet relations, each over a
  * [[RecordIndex]] (Spark's `FileIndex`) built from the recorded
  * (file, length) pairs: the rows — the base's and every delta's add files
  * — with the partition columns `(bucket, _wtag)`, and the tombstones with
  * `(bucket, _ttag)`, where a tag is the snapshot that wrote the file (-1
  * for the base). The fold joins the two on those tags. A read of some
  * buckets ([[readBuckets]]) builds its indexes over those buckets' files
  * only, and a filter on a partition column prunes through the index. A
  * read lists no dir, probes no path, reads no footer, starts no job and
  * never reads a file the commit did not record — a failed or retried
  * task's file included. A data dir without a record is an error.
  *
  * Rename is atomic on HDFS-like filesystems (and the local FS used here);
  * an object-store deployment would swap this class for a real catalog —
  * the pipeline only sees the trait-like API.
  *
  * The table is hash-bucketed by a caller-chosen key column:
  * `bucket = pmod(xxhash64(key), numBuckets)` — uniform by construction, so
  * no bucket-level skew regardless of key skew.
  *
  * Chain folds are BUCKET-LOCAL (Iceberg-style partial compaction): when
  * the chain bound trips, only buckets whose accumulated delta bytes
  * crossed `foldBucketBytes` are folded into a fresh base; the quiet
  * buckets' chain data — small by definition — is consolidated into ONE
  * bucket-scoped delta, so the chain bound holds without rewriting store
  * bytes that barely changed. The old behavior (full fold-to-base every
  * `maxDeltas` batches) paid an O(store) rewrite regardless of churn —
  * amortized O(store/maxDeltas) per batch, the exact write-amplification
  * shape MOR was introduced to kill.
  *
  * @param deleteKeys columns identifying rows for MOR tombstones (required,
  *                   non-empty)
  * @param maxDeltas  delta-chain length that triggers a (partial) fold
  * @param foldBucketBytes per-bucket accumulated-delta-byte threshold above
  *                   which a fold event rewrites that bucket's base (0 =
  *                   always fold every data-bearing bucket, the old full
  *                   fold). Deployment guidance: set proportional to the
  *                   acceptable write amplification — a base bucket of B
  *                   bytes is rewritten only after >= foldBucketBytes of
  *                   delta volume accumulates in it.
  * @param termExpr   optional ARRAY column (over the store schema) whose
  *                   non-null elements are the "terms" of a row. When set,
  *                   every data write records a per-bucket [[TermBloom]]
  *                   sidecar, and [[candidateBuckets]] answers "which
  *                   buckets can contain rows mentioning term X?" without
  *                   touching data — the index behind bucket-pruned point
  *                   lookups (the pipeline's remap scan).
  * @param tombBroadcastBytes on-disk tombstone size up to which the read
  *                   fold broadcasts the tombstone side outright (one
  *                   narrow pass); past it the fold bloom-splits the row
  *                   stream instead of shuffling it (see [[assemble]]).
  *                   Exposed mainly so specs can force the bloom path.
  */
final class SnapshotStore(spark: SparkSession, root: String, val numBuckets: Int,
                          val deleteKeys: Seq[String],
                          val maxDeltas: Int = 4,
                          val foldBucketBytes: Long = 8L << 20,
                          val termExpr: Option[org.apache.spark.sql.Column] = None,
                          val tombBroadcastBytes: Long = 64L << 20) {
  require(deleteKeys.nonEmpty, s"SnapshotStore without deleteKeys: $root")

  private val hconf = spark.sparkContext.hadoopConfiguration
  private def fs: FileSystem = new Path(root).getFileSystem(hconf)

  private val timingName = s"store[${new Path(root).getName}]"

  // --- single-writer lease (guard rail, not a distributed lock) ------------

  /** This instance's writer identity for the `_lease` guard. */
  val writerId: String = java.util.UUID.randomUUID().toString

  /** Foreign leases older than this are presumed crashed and taken over. */
  val leaseTimeoutMs: Long = 30L * 60 * 1000

  private def leasePath = new Path(root, "_lease")

  private def readLease: Option[String] =
    if (!fs.exists(leasePath)) None
    else try Some(readText(leasePath).trim) catch { case _: java.io.IOException => None }

  /** Atomic create-exclusive of the lease file ([[graft.FsWrite.create]]
    * without overwrite: O_CREAT|O_EXCL locally — Hadoop's own local
    * `create(path, overwrite=false)` is check-then-act, and racing creators
    * can all pass its exists probe, which the StoreSpec race test catches —
    * and the namenode's arbitration on HDFS-like schemes). The writerId body
    * lands right after the claim — a reader in that window sees an empty
    * holder, which is treated as a foreign in-progress claim (safe). */
  private def atomicCreateLease(): Boolean =
    try {
      val out = FsWrite.create(fs, leasePath, overwrite = false)
      try out.write(writerId.getBytes(StandardCharsets.UTF_8)) finally out.close()
      true
    } catch { case _: java.io.IOException => false } // incl. an existing lease

  /** Claim the writer lease for a mutating data operation. The store
    * assumes a SINGLE writer (vacuum, fold and manifest writes are not
    * concurrency-safe); this makes a second concurrent writer FAIL LOUDLY
    * instead of silently corrupting manifests. The claim itself is ATOMIC:
    * a create-exclusive lets the filesystem arbitrate racing claimants
    * (exactly one create succeeds on HDFS-like and local filesystems).
    * A lease left by a crashed writer expires after [[leaseTimeoutMs]]
    * (or [[breakLease]] forces it). Re-claiming one's own lease always
    * succeeds, so a retry after a failed stage is never blocked. */
  private[state] def claimLease(): Unit = {
    var attempts = 0
    while (true) {
      attempts += 1
      if (atomicCreateLease()) return
      // lease file exists (or a transient FS failure): inspect the holder
      readLease match {
        case Some(holder) if holder == writerId => return // ours (retry path)
        case Some(holder) =>
          val age = try {
            System.currentTimeMillis() - fs.getFileStatus(leasePath).getModificationTime
          } catch { case _: java.io.IOException => Long.MaxValue } // vanished: retry
          if (age < leaseTimeoutMs)
            sys.error(s"concurrent writer on $root: lease held by $holder " +
              s"(age ${age / 1000}s < ${leaseTimeoutMs / 1000}s). A second " +
              "writer would corrupt manifests; if the holder crashed, wait out " +
              "the lease or call breakLease() after verifying it is dead.")
          // stale: presumed crashed — remove and retry the ATOMIC claim (a
          // racing taker also deleting is fine; create arbitrates the winner)
          fs.delete(leasePath, false)
        case None => // disappeared between create and read — retry the claim
      }
      if (attempts > 5) sys.error(s"lease-claim livelock on $root (attempts=$attempts)")
    }
  }

  /** Release the lease if this writer holds it (stage completion). */
  private[state] def releaseLease(): Unit =
    if (readLease.contains(writerId)) fs.delete(leasePath, false)

  /** Run `body` under the writer lease, releasing it even when a Spark job
    * inside fails — a thrown stage previously left `_lease` behind, and a
    * RESTARTED driver (fresh writerId) was locked out for up to
    * [[leaseTimeoutMs]] by its own predecessor's abandoned lease. */
  private def withLease[T](body: => T): T = {
    claimLease()
    try body finally releaseLease()
  }

  /** Operator override: force-remove the lease of a verified-dead writer. */
  def breakLease(): Unit = if (fs.exists(leasePath)) fs.delete(leasePath, false)

  /** Bucket id from one or more key columns. xxhash64 is variadic — hashing
    * the columns directly avoids materializing a concatenated key string per
    * row (the row/string allocation the 8->32 scaling profile blamed). */
  def bucketCol(keys: org.apache.spark.sql.Column*): org.apache.spark.sql.Column =
    pmod(xxhash64(keys: _*), lit(numBuckets)).cast("int")

  // --- pointer / manifest ------------------------------------------------

  /** The latest snapshot id: one open of `_latest`, no existence probe. */
  def latest: Option[Long] =
    try Some(readText(new Path(root, "_latest")).trim.toLong)
    catch { case _: java.io.FileNotFoundException => None }

  private def readText(path: Path): String = {
    val in = fs.open(path)
    try new String(org.apache.commons.io.IOUtils.toByteArray(in), StandardCharsets.UTF_8)
    finally in.close()
  }

  private def manifestPath(id: Long) = new Path(root, f"manifest_$id%014d.txt")

  import SnapshotStore.DeltaRef

  /** Manifest: one `bucket<TAB>path` line per base bucket, plus zero or
    * more ordered delta lines — `D<TAB>tag<TAB>dir<TAB>scope` (scope `*`
    * = all buckets, else comma-separated bucket ids). */
  private def readManifest(id: Long): (Map[Int, String], Seq[DeltaRef]) = {
    val lines = readText(manifestPath(id)).split("\n").filter(_.nonEmpty)
    val base = lines.filterNot(_.startsWith("D\t")).map { l =>
      val Array(b, p) = l.split("\t", 2); b.toInt -> p
    }.toMap
    val deltas = lines.filter(_.startsWith("D\t")).map { l =>
      // split with -1: String.split's default drops TRAILING empty fields,
      // so a 4-field delta line with an empty scope would silently parse
      // as a shorter shape (see the write-side require in manifestText)
      l.split("\t", -1) match {
        case Array(_, t, dir, scope) =>
          if (scope.trim.isEmpty)
            sys.error(s"bad manifest delta line (empty scope): $l")
          DeltaRef(t.trim.toLong, dir,
            if (scope.trim == "*") None
            else Some(scope.split(",").iterator.map(_.trim).filter(_.nonEmpty)
              .map(_.toInt).toSet))
        case other => sys.error(s"bad manifest delta line: ${other.mkString("\t")}")
      }
    }.toSeq
    (base, deltas)
  }

  private def manifestText(base: Map[Int, String], deltas: Seq[DeltaRef]): String =
    ((0 until numBuckets).map(b => s"$b\t${base.getOrElse(b, "")}") ++
      deltas.map { d =>
        // a Some(empty) scope would serialize as a trailing empty field —
        // unparseable (and semantically a no-op delta no caller produces)
        require(d.scope.forall(_.nonEmpty),
          s"delta ref with empty scope set: tag=${d.tag} dir=${d.dir}")
        s"D\t${d.tag}\t${d.dir}\t" + d.scope.fold("*")(_.toSeq.sorted.mkString(","))
      }).mkString("\n")

  // --- data dirs and their records ------------------------------------------

  private def recordName = "_record.txt"

  /** What [[writeData]] recorded for the data dir `dir`: the schema its
    * files read back with, and per bucket the part files (paths relative to
    * `dir`) with their byte lengths. Every question about a data dir — what
    * a read scans, how many bytes a bucket holds, which buckets a write
    * produced — is answered from it, never from the filesystem. */
  private final class DataRecord(val dir: String, val schema: StructType,
                                 val files: Map[Int, Seq[(String, Long)]]) {
    def bytes(keep: Int => Boolean): Long =
      files.collect { case (b, parts) if keep(b) => parts.map(_._2).sum }.sum
  }

  /** One side of a fold: a data dir's record, the tag of the snapshot that
    * wrote it (-1 for the base) and the buckets of it the fold reads. */
  private final class Side(val tag: Long, val rec: DataRecord, val scope: Int => Boolean) {
    def bytes: Long = rec.bytes(scope)
  }

  /** The sides of `sides` holding a file of a bucket `keep` passes, scoped
    * to those buckets. */
  private def live(sides: Seq[Side], keep: Int => Boolean): Seq[Side] =
    sides.map(s => new Side(s.tag, s.rec, b => keep(b) && s.scope(b)))
      .filter(s => s.rec.files.keys.exists(s.scope))

  /** The recorded files of `sides` as one parquet relation: the columns of
    * the first side's schema but `bucket`, then the partition columns
    * `bucket` and `tagCol`, one partition per (bucket, side) in the side's
    * scope. Built from the records alone ([[RecordIndex]]); the index holds
    * only the scoped buckets' files, so the relation's input files and size
    * (Spark's broadcast estimate) are those of the buckets read. */
  private def relation(sides: Seq[Side], tagCol: String): DataFrame = {
    val parts = for {
      s <- sides
      (b, files) <- s.rec.files.toSeq.sortBy(_._1) if s.scope(b)
    } yield InternalRow(b, s.tag) -> files.map { case (f, n) =>
      new FileStatus(n, false, 1, 0L, 0L, fs.makeQualified(new Path(s.rec.dir, f)))
    }
    val index = new RecordIndex(sides.map(s => new Path(s.rec.dir)),
      StructType(Seq(StructField("bucket", IntegerType), StructField(tagCol, LongType))), parts)
    spark.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema,
      StructType(sides.head.rec.schema.filterNot(_.name == "bucket")), None, new ParquetFileFormat,
      Map.empty)(spark))
  }

  /** `<dir>/_record.txt` (the `_` prefix keeps parquet listings blind to
    * it): the schema's JSON, then one `bucket<TAB>bytes<TAB>file` line per
    * part file. */
  private def writeRecord(rec: DataRecord): Unit =
    FsWrite.atomic(fs, new Path(rec.dir, recordName),
      (rec.schema.json +: rec.files.toSeq.sortBy(_._1).flatMap { case (b, parts) =>
        parts.map { case (f, n) => s"$b\t$n\t$f" }
      }).mkString("\n"))

  /** The record of `dir`. A data dir without one fails loudly: every
    * writer records one, and there is no listing fallback to drift into. */
  private def record(dir: String): DataRecord = {
    val lines = try readText(new Path(dir, recordName)).split("\n") catch {
      case _: java.io.FileNotFoundException => sys.error(s"no data record for store data dir $dir")
    }
    new DataRecord(dir, DataType.fromJson(lines.head).asInstanceOf[StructType],
      lines.tail.toSeq.map { l =>
        val Array(b, n, f) = l.split("\t", 3); b.toInt -> (f -> n.toLong)
      }.groupMap(_._1)(_._2))
  }

  /** Write `df` as bucket-partitioned parquet under `dir`, replacing
    * whatever a previous stage of the same id left there, and record the
    * files the write tasks returned ([[BucketWrite]]: one job, no committer,
    * no walk). The recorded schema is the one a reader of `dir` gets back:
    * the data columns, then the `bucket` partition column, all nullable as
    * file sources read them. With `sidecarAt` and a [[termExpr]], the
    * tasks' term blooms land as the sidecar there. Each bucket must lie in
    * one task: two parts of one bucket fail the write. */
  private def writeData(df: DataFrame, dir: String, sidecarAt: Option[String] = None): DataRecord = {
    fs.delete(new Path(dir), true)
    val parts = BucketWrite(df, dir, sidecarAt.flatMap(_ => termExpr), termsPerRowHint)
    parts.groupBy(_.bucket).collectFirst { case (b, ps) if ps.size > 1 =>
      sys.error(s"bucket $b written by ${ps.size} tasks under $dir: ${ps.map(_.file).mkString(", ")}")
    }
    val (part, data) = df.schema.fields.partition(_.name == "bucket")
    val rec = new DataRecord(dir, StructType((data ++ part).map(_.copy(nullable = true))),
      parts.map(p => p.bucket -> Seq(p.file -> p.bytes)).toMap)
    writeRecord(rec)
    sidecarAt.foreach(writeTermSidecar(_, parts.flatMap(p => p.bloom.map(p.bucket -> _)).toMap))
    rec
  }

  /** The `sub` side (`add` or `tomb`) of each delta of `deltas`. */
  private def deltaSides(deltas: Seq[DeltaRef], sub: String): Seq[Side] =
    deltas.map(d => new Side(d.tag, record(s"${d.dir}/$sub"), b => d.scope.forall(_(b))))

  /** The manifest's base buckets that `keep` passes, grouped by the data
    * dir holding them, in dir order. */
  private def baseByDir(base: Map[Int, String], keep: Int => Boolean): Seq[(String, Set[Int])] =
    base.toSeq.collect { case (b, p) if p.nonEmpty && keep(b) => new Path(p).getParent.toString -> b }
      .groupMap(_._1)(_._2).toSeq.sortBy(_._1).map { case (d, bs) => d -> bs.toSet }

  // --- commits -------------------------------------------------------------

  /** Full (bootstrap) commit: writes every bucket, then flips `_latest`.
    * `df` must already carry an int `bucket` column.
    *
    * `assumePartitioned = true` skips the bucket exchange: the caller
    * asserts `df` is ALREADY partitioned such that each physical partition
    * holds complete bucket values (e.g. it was repartitioned by an
    * expression the bucket is a function of — the pipeline's support
    * aggregation). The `partitionBy` writer splits dirs correctly either
    * way; skipping the exchange just avoids re-shuffling a store-sized
    * stream that is already where it needs to be (guide §2.4: two
    * operations keyed the same way share one exchange). */
  def commitFull(df: DataFrame, id: Long, assumePartitioned: Boolean = false): Unit = {
    withLease {
      val dataDir = new Path(root, f"snap_$id%014d").toString
      val placed = if (assumePartitioned) df else df.repartition(numBuckets, col("bucket"))
      timed(s"$timingName.full.write")(writeData(placed, dataDir, Some(dataDir)))
      val base = (0 until numBuckets).map(b => b -> s"$dataDir/bucket=$b").toMap
      FsWrite.atomic(fs, manifestPath(id), manifestText(base, Seq.empty))
    }
    finalizeCommit(id)
  }

  /** Stage a MERGE-ON-READ delta commit: O(batch) writes regardless of
    * store size. `additions` must carry the store schema incl. `bucket`;
    * `tombstones` must carry `deleteKeys` + `bucket` and COVER the
    * additions' keys (see class doc). When the chain would exceed
    * `maxDeltas` the fold runs — bucket-local, see [[foldChain]].
    *
    * `tombstones` must be distinct per (deleteKeys, bucket): every caller
    * passes an aggregation output or an explicit distinct, so no dedup
    * exchange runs here. A duplicate would only be written twice — the
    * fold's anti-join drops a row once however many tombstones match it.
    *
    * `tombstoneRows` is the row count of `tombstones`, which every caller
    * already holds, so the empty-delta test below runs no Spark job. */
  def stageDelta(additions: DataFrame, tombstones: DataFrame, tombstoneRows: Long,
                 id: Long): Unit = withLease {
    val prevId = latest.getOrElse(sys.error("stageDelta on empty store"))
    val (base, deltas) = readManifest(prevId)
    // A no-op batch must not grow the chain: maxDeltas empty deltas would
    // trip a fold — the store-sized work MOR exists to avoid — for doing
    // nothing. Carry the previous base + chain forward under the new id
    // (metadata-only), keeping the stage/finalize protocol uniform. Under
    // the coverage contract empty tombstones imply empty additions; the
    // require turns a violation (additions that would otherwise be
    // silently dropped here) into a loud error.
    if (tombstoneRows == 0) {
      require(additions.isEmpty,
        s"stageDelta contract violated: additions without covering tombstones: $root")
      FsWrite.atomic(fs, manifestPath(id), manifestText(base, deltas))
      return // withLease's finally releases
    }
    val snapDir = new Path(root, f"snap_$id%014d").toString
    // Each side is hash-partitioned by `bucket` into as many tasks as the
    // cores run at once, not one task per bucket: every bucket still lands
    // whole in one task, so each bucket= dir gets exactly one file per
    // side, while an O(batch) delta no longer pays numBuckets tasks of
    // scheduling and deserialization to write a few hundred KB. The
    // exchange also keeps a 10^9-key tombstone set from funnelling
    // through one task.
    val parts = math.min(numBuckets, spark.sparkContext.defaultParallelism)
    timed(s"$timingName.delta.add")(
      writeData(additions.repartition(parts, col("bucket")), s"$snapDir/add", Some(snapDir)))
    timed(s"$timingName.delta.tomb")(writeData(
      tombstones.select((deleteKeys :+ "bucket").map(col): _*)
        .repartition(parts, col("bucket")), s"$snapDir/tomb"))
    val chain = deltas :+ DeltaRef(id, snapDir, None)
    if (chain.size <= maxDeltas)
      FsWrite.atomic(fs, manifestPath(id), manifestText(base, chain))
    else
      timed(s"$timingName.delta.fold")(foldChain(base, chain, id))
  }

  /** Cap on distinct snap dirs the base may fragment across: each distinct
    * dir is one more record every read opens on the driver, so partial
    * folds escalate to a full fold past this bound. */
  val maxBaseDirs: Int = 4

  /** Bound-tripped chain compaction, BUCKET-LOCAL (Iceberg-style partial
    * compaction). `chain` already includes the incoming delta (last, tag
    * `id`). Buckets whose accumulated delta bytes crossed
    * [[foldBucketBytes]] ("hot") fold — base + applicable chain data —
    * into a fresh base dir `snap_<id>B`; the quiet buckets' chain data is
    * consolidated into ONE scoped delta at `snap_<id>C` (surviving adds =
    * the chain folded with no base; tombs = the union of applicable
    * tombstone keys, still needed to mask base rows). Consolidation is
    * small by the definition of quiet (< foldBucketBytes per bucket), so
    * the chain bound holds without any store-sized write. Escalates to a
    * FULL fold when every data-bearing bucket is hot or when the base
    * would fragment past [[maxBaseDirs]] dirs.
    *
    * Single-tag consolidation is correct under the stageDelta contract:
    * every surviving add's key is covered by some chain tombstone, all of
    * which collapse to the consolidated tag, and `wtag >= ttag` (equal)
    * keeps exactly the adds that survived the original chain; base rows
    * (tag -1) stay masked by the union of tombstone keys. */
  private def foldChain(base: Map[Int, String], chain: Seq[DeltaRef], id: Long): Unit = {
    val bytesPerBucket: Map[Int, Long] =
      chain.flatMap { d =>
        Seq("add", "tomb").flatMap(sub => record(s"${d.dir}/$sub").files.toSeq)
          .collect { case (b, files) if d.scope.forall(_(b)) => b -> files.map(_._2).sum }
      }.groupMapReduce(_._1)(_._2)(_ + _)
    val withData = bytesPerBucket.keySet
    val hot = withData.filter(b => bytesPerBucket(b) >= foldBucketBytes)
    val quiet = withData -- hot
    val carriedDirs = base.collect {
      case (b, p) if p.nonEmpty && !hot.contains(b) => new Path(p).getParent.toString
    }.toSet
    val baseDir = new Path(root, f"snap_$id%014d" + "B").toString
    if (quiet.isEmpty || carriedDirs.size + 1 > maxBaseDirs) {
      // full fold: every bucket's base advances to one fresh dir
      val folded = assemble(base, chain, None)
        .getOrElse(sys.error(s"empty store under non-empty manifest: $root"))
      val written = writeBase(folded, baseDir, numBuckets)
      val newBase = (0 until numBuckets)
        .map(b => b -> (if (written(b)) s"$baseDir/bucket=$b" else "")).toMap
      FsWrite.atomic(fs, manifestPath(id), manifestText(newBase, Seq.empty))
    } else {
      val hotSorted = hot.toSeq.sorted
      val written: Set[Int] =
        if (hotSorted.isEmpty) Set.empty
        else assemble(base, chain, Some(hotSorted)) match {
          case None => Set.empty
          case Some(df) => writeBase(df, baseDir, hotSorted.size)
        }
      val quietSorted = quiet.toSeq.sorted
      val consDir = new Path(root, f"snap_$id%014d" + "C").toString
      // a side with no quiet rows still gets a record, with no files (and
      // the add side an empty sidecar): every delta side a manifest names
      // has one
      def consolidate(side: String, rows: Option[DataFrame], sidecarAt: Option[String]): Unit =
        rows match {
          case Some(df) =>
            writeData(df.repartition(math.max(quietSorted.size, 1), col("bucket")),
              s"$consDir/$side", sidecarAt)
          case None =>
            writeRecord(new DataRecord(s"$consDir/$side", record(s"${chain.last.dir}/$side").schema,
              Map.empty))
            sidecarAt.foreach(writeTermSidecar(_, Map.empty))
        }
      consolidate("add", assemble(Map.empty, chain, Some(quietSorted)), Some(consDir))
      val tombs = live(deltaSides(chain, "tomb"), quiet)
      consolidate("tomb", Option.when(tombs.nonEmpty)(
        relation(tombs, "_ttag").select((deleteKeys :+ "bucket").map(col): _*).distinct()), None)
      val newBase = (0 until numBuckets).map { b =>
        b -> (if (written(b)) s"$baseDir/bucket=$b"
              else if (hot.contains(b)) "" // hot bucket emptied by its tombstones
              else base.getOrElse(b, ""))
      }.toMap
      FsWrite.atomic(fs, manifestPath(id),
        manifestText(newBase, Seq(DeltaRef(id, consDir, Some(quiet)))))
    }
  }

  /** Write base rows partitioned by bucket; returns the bucket ids that
    * actually materialized (a bucket emptied by tombstones writes none). */
  private def writeBase(df: DataFrame, dataDir: String, parts: Int): Set[Int] = {
    writeData(df.repartition(math.max(parts, 1), col("bucket")), dataDir, Some(dataDir)).files.keySet
  }

  // --- term-membership summaries (bucket-pruned point lookups) -------------

  private def sidecarName = "_terms.bloom"

  /** Upper bound on terms a single row's [[termExpr]] array yields — sizes
    * the per-bucket blooms from the bucket's row count. Oversizing is cheap
    * (bits), undersizing raises FPR; 2 fits the IRI-slot arrays the
    * pipeline indexes. */
  private val termsPerRowHint = 2

  /** Land the per-bucket [[TermBloom]]s a write's tasks built at
    * `<sidecarAt>/_terms.bloom` (the `_` prefix keeps parquet listings
    * blind to it). A write with NO term (a delete-only delta) still lands
    * an EMPTY sidecar: the sidecar's presence means "authoritative for this
    * dir" — a tombstone-only delta can never introduce a term, so an empty
    * summary (no candidate buckets) is exact, while an absent one would
    * force [[candidateBuckets]] to conservatively include the delta's whole
    * scope. No-op when [[termExpr]] is unset. */
  private def writeTermSidecar(sidecarAt: String, blooms: Map[Int, TermBloom]): Unit =
    if (termExpr.isDefined) TermBloom.write(fs, new Path(sidecarAt, sidecarName), blooms)

  /** Buckets that CAN contain rows mentioning any of `terms` — the union,
    * over the base dirs and the delta chain's ADD sides, of buckets whose
    * membership summary probes true. Tombstone files never contribute: a
    * tombstone only suppresses rows, so it cannot make a term appear in a
    * bucket the adds/base did not put it in. A dir with no/unreadable
    * sidecar contributes all its buckets (conservative: pruning must never
    * lose a row); within an existing sidecar a bucket with no summary row
    * had no terms at write time and is excluded. None when the store has
    * no snapshot or summaries are not enabled. */
  def candidateBuckets(terms: Iterable[String]): Option[Seq[Int]] = {
    if (termExpr.isEmpty) return None
    latest.map { id =>
      val (base, deltas) = readManifest(id)
      val hs = terms.map(TermBloom.hash).toArray
      def probe(blooms: Map[Int, TermBloom], b: Int): Boolean =
        blooms.get(b).exists(bl => hs.exists(bl.mightContain))
      val cand = scala.collection.mutable.SortedSet.empty[Int]
      baseByDir(base, _ => true).foreach { case (dir, bs) =>
        TermBloom.read(fs, new Path(dir, sidecarName)) match {
          case None         => cand ++= bs
          case Some(blooms) => cand ++= bs.filter(probe(blooms, _))
        }
      }
      deltas.foreach { d =>
        val scope = d.scope.getOrElse((0 until numBuckets).toSet)
        TermBloom.read(fs, new Path(d.dir, sidecarName)) match {
          case None         => cand ++= scope
          case Some(blooms) => cand ++= scope.filter(probe(blooms, _))
        }
      }
      cand.toSeq
    }
  }

  /** Approximate data bytes of the latest snapshot (the part files of its
    * base buckets + its deltas' add files), summed from the data-dir
    * records: never a Spark job, never a listing. 0 for an empty store.
    * Callers use it as a byte-derived gate for "is this store small enough
    * to materialize per batch". */
  def approxDataBytes: Long = latest.map { id =>
    val (base, deltas) = readManifest(id)
    baseByDir(base, _ => true).map { case (dir, bs) => record(dir).bytes(bs) }.sum +
      deltas.map(d => record(s"${d.dir}/add").bytes(b => d.scope.forall(_(b)))).sum
  }.getOrElse(0L)

  /** [[stageDelta]] + pointer flip. */
  def commitDelta(additions: DataFrame, tombstones: DataFrame, tombstoneRows: Long,
                  id: Long): Unit = {
    stageDelta(additions, tombstones, tombstoneRows, id)
    finalizeCommit(id)
  }

  /** Flip `_latest` to a previously staged snapshot (idempotent). */
  def finalizeCommit(id: Long): Unit = {
    require(fs.exists(manifestPath(id)), s"finalize of unstaged snapshot $id")
    FsWrite.atomic(fs, new Path(root, "_latest"), id.toString)
  }

  /** True iff snapshot `id` is staged (manifest exists) but not yet latest. */
  def isStagedNotFinal(id: Long): Boolean =
    fs.exists(manifestPath(id)) && !latest.exists(_ >= id)

  // --- reads ---------------------------------------------------------------

  /** Fold base + delta chain into the current logical content: ONE
    * temporal anti-join. Every row is tagged with the snapshot that wrote
    * it (base = -1), every tombstone with its delta's tag, and a row is
    * dropped iff some tombstone has the same key (null-safe `<=>`) and a
    * strictly later tag — correct under the stageDelta contract (a delta's
    * tombstones cover its own additions). A key tombstoned in several
    * deltas needs no max-tag aggregation first: an anti-join keeps or
    * drops a row once, however many tombstones match it. The tombstone
    * side is churn-sized, so under [[tombBroadcastBytes]] it is broadcast
    * and the fold is one narrow pass over the store; past it the bloom
    * split below sends only the rows whose key may be tombstoned through
    * the same anti-join. */
  private def assemble(base: Map[Int, String], deltas: Seq[DeltaRef],
                       buckets: Option[Seq[Int]]): Option[DataFrame] = {
    val wanted: Int => Boolean = buckets.fold((_: Int) => true)(_.toSet)
    // scoped to the wanted buckets: that is the bucket pruning, before any
    // scan
    val adds = live(baseByDir(base, wanted).map { case (dir, bs) => new Side(-1L, record(dir), bs) } ++
      deltaSides(deltas, "add"), wanted)
    if (adds.isEmpty) return None
    // Every snapshot in the fold carries the head's column set, or the read
    // fails naming the snapshot: folding to the common columns would drop
    // a column from the whole store because one snapshot lacks it. The
    // schemas are the recorded ones, so the check starts no job.
    val headCols = adds.head.rec.schema.fieldNames.toSeq
    adds.tail.foreach { s =>
      val cols = s.rec.schema.fieldNames
      if (cols.toSet != headCols.toSet)
        sys.error(s"$root: snapshot ${if (s.tag < 0) "base" else s.tag.toString} has columns " +
          s"[${cols.mkString(", ")}], the fold's head has [${headCols.mkString(", ")}]")
    }
    val rows = relation(adds, "_wtag")
    val tombs = live(deltaSides(deltas, "tomb"), wanted)
    if (tombs.isEmpty) return Some(rows.drop("_wtag"))
    // tombstone keys renamed `_t_<key>`, so the condition names each side
    val tombKeys = deleteKeys.map("_t_" + _)
    val tombAll = relation(tombs, "_ttag")
      .select(deleteKeys.zip(tombKeys).map { case (k, t) => col(k).as(t) } :+ col("_ttag"): _*)
    val laterTomb = deleteKeys.zip(tombKeys)
      .map { case (k, t) => col(k) <=> col(t) }.reduce(_ && _) &&
      col("_ttag") > col("_wtag")
    // broadcast gate: the recorded bytes of the tombstone files this fold
    // reads (no extra job)
    val tombBytes = tombs.map(_.bytes).sum
    if (tombBytes <= tombBroadcastBytes)
      Some(rows.join(broadcast(tombAll), laterTomb, "left_anti").drop("_wtag"))
    else {
      // Past the gate, do NOT shuffle the store-sized row stream. Bloom-
      // split it instead: rows whose key fails a bloom over the tombstone
      // keys provably have no tombstone — they bypass the anti-join on a
      // second narrow scan; only the bloom-hit subset (~tombstones + FPR)
      // takes it, so whatever strategy Spark picks moves ~tombstone-sized
      // data. xxhash64 skips null inputs, so a key with a null component
      // hashes the same on both sides. The bloom is sized from the on-disk
      // byte count (parquet key rows compress to well over 16 B each, so
      // bytes/16 over-counts keys — an oversized filter, capped at 64 MB
      // of bits where it saturates gracefully).
      val bloomB = spark.sparkContext.broadcast(
        graft.functions.BloomProbe.build(
          tombAll.select(xxhash64(tombKeys.map(col): _*)),
          math.max(tombBytes / 16, 1L), maxBits = 1L << 29))
      val pred = graft.functions.BloomProbe(bloomB, xxhash64(deleteKeys.map(col): _*))
      val cold = rows.filter(!pred).drop("_wtag")
      val hot = rows.filter(pred).join(tombAll, laterTomb, "left_anti").drop("_wtag")
      Some(cold.unionByName(hot))
    }
  }

  /** Read the full latest snapshot (None if store empty or all buckets
    * emptied). Folds any merge-on-read delta chain. */
  def read(): Option[DataFrame] = latest.flatMap { id =>
    val (base, deltas) = readManifest(id)
    assemble(base, deltas, None)
  }

  /** Read only the given buckets of the latest snapshot — the incremental-
    * read path: IO ∝ touched buckets (base AND deltas are bucket-pruned),
    * not table size. */
  def readBuckets(buckets: Seq[Int]): Option[DataFrame] = latest.flatMap { id =>
    val (base, deltas) = readManifest(id)
    assemble(base, deltas, Some(buckets))
  }

  /** Expire unreferenced snapshots (Iceberg's expire_snapshots analogue):
    * delete every `snap_<k>` dir with k <= latest that the LATEST manifest
    * references neither as a base bucket path nor as a chained delta, and
    * every older manifest file. Without this, each fold-to-base strands a
    * full dead base + chain on disk. Call only from the single writer,
    * after all staged snapshots are finalized (dirs of snapshots NEWER
    * than latest are never touched, so a staged-not-yet-final commit is
    * safe). Crash mid-vacuum leaves garbage, never damage — only
    * unreferenced dirs are deleted. */
  def vacuum(): Unit = latest.foreach { id => withLease {
    val (base, deltas) = readManifest(id)
    val live: Set[String] =
      base.values.filter(_.nonEmpty).map(p => new Path(p).getParent.getName).toSet ++
        deltas.map(d => new Path(d.dir).getName).toSet
    // fold-output dirs carry a letter suffix (snap_<id>B / snap_<id>C) —
    // parse the digit prefix; a name with none is never deleted
    def numOf(name: String, prefix: String, suffix: String): Long = {
      val digits = name.stripPrefix(prefix).stripSuffix(suffix).takeWhile(_.isDigit)
      if (digits.isEmpty) Long.MaxValue else digits.toLong
    }
    val entries = fs.listStatus(new Path(root))
    entries.filter(_.isDirectory).map(_.getPath)
      .filter { p =>
        p.getName.startsWith("snap_") &&
          numOf(p.getName, "snap_", "") <= id && !live.contains(p.getName)
      }
      .foreach(p => fs.delete(p, true))
    entries.filter(_.isFile).map(_.getPath)
      .filter(p => p.getName.startsWith("manifest_") &&
        numOf(p.getName, "manifest_", ".txt") < id)
      .foreach(p => fs.delete(p, false))
  } }

  /** Epoch handshake (reference vql_started_at.txt, T6 cascading reset):
    * one open of `_epoch`, no existence probe. */
  def epoch: Option[String] =
    try Some(readText(new Path(root, "_epoch")).trim)
    catch { case _: java.io.FileNotFoundException => None }
  def setEpoch(e: String): Unit = FsWrite.atomic(fs, new Path(root, "_epoch"), e)

  /** Wipe the store (epoch-mismatch reset — split-graphs.sh:171's `rm -Rf`,
    * but only ever invoked on explicit epoch change). */
  def reset(): Unit = { if (fs.exists(new Path(root))) fs.delete(new Path(root), true) }
}

object SnapshotStore {
  /** One merge-on-read delta in the chain: `tag` orders the fold join
    * (rows written by later snapshots beat earlier tombstones), `dir`
    * holds the delta's `add/` and `tomb/` parquet, and `scope` is the
    * bucket set it applies to (None = every bucket). Scoped refs come
    * from partial folds: hot buckets leave the chain into a new base,
    * quiet buckets' consolidated data stays behind, scoped to them. */
  private[state] final case class DeltaRef(tag: Long, dir: String, scope: Option[Set[Int]])
}

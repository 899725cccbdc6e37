package graft.state

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Append-mostly parquet table with bounded file count — the backing layout
  * for the pipeline's per-batch bookkeeping tables (lineage, published-zip
  * membership). A naive `mode("append")` dir grows one small file per batch
  * forever (reference counts files are O(1)); thousands of batches would
  * make every watermark/prune read list and open thousands of tiny files.
  *
  * Layout: `root/gen_<k>/` generation dirs + a `root/_current` pointer file
  * (tmp + atomic rename). Appends land in the CURRENT generation; when its
  * file count exceeds `maxFiles`, the whole table is rewritten coalesced
  * into `gen_<k+1>` and the pointer flips. Readers follow the pointer, so
  * they see either the old generation or the compacted one — never a
  * partial mix.
  *
  * Crash windows, all safe:
  *  - during the compaction write: orphan `gen_<k+1>` data, pointer still
  *    `gen_<k>` — the next compaction overwrites it;
  *  - after the flip, before the old-generation delete: stale `gen_<j>`
  *    dirs — swept on every subsequent compaction (delete all != current);
  *  - pointer lost (the delete-then-rename window of a non-`file:`
  *    replace, see [[graft.FsWrite.replace]], or manual damage): readers resolve to the NEWEST generation dir carrying
  *    Spark's `_SUCCESS` commit marker — never a swept gen_0 — so the
  *    table stays visible. A fully-written-but-unflipped `gen_<k+1>`
  *    resolving this way is equivalent content (the compaction is a
  *    full rewrite of the same rows).
  *
  * The table's first append records its schema at `root/_schema.json`,
  * before any data lands; every read, the compaction's included, is
  * planned from it, so none runs a footer-inference job, and an append
  * whose columns differ fails loudly.
  */
object CompactedAppendTable {

  /** Compact when the current generation exceeds this many data files. */
  val DefaultMaxFiles: Int = 64

  private def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def pointer(root: String) = new Path(root, "_current")

  private def readPointer(f: FileSystem, root: String): Option[String] = {
    val p = pointer(root)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try Some(new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim)
      finally in.close()
    }
  }

  /** Generation indices whose dirs carry a `_SUCCESS` commit marker (Spark
    * writes one per successful parquet job; a compaction that crashed
    * mid-write has none and must not be resolved to). */
  private def committedGens(f: FileSystem, root: String): Seq[Int] = {
    val rp = new Path(root)
    if (!f.exists(rp)) Seq.empty
    else f.listStatus(rp).filter(_.isDirectory).map(_.getPath)
      .filter(p => p.getName.startsWith("gen_") &&
        p.getName.stripPrefix("gen_").forall(_.isDigit) &&
        f.exists(new Path(p, "_SUCCESS")))
      .map(p => genIndex(p.getName)).toSeq
  }

  /** Current generation data dir. Resolution order: pointer file; else the
    * newest committed generation; else "gen_0" (empty table). */
  def currentDir(spark: SparkSession, root: String): String = {
    val f = fs(spark, root)
    val gen = readPointer(f, root).getOrElse {
      committedGens(f, root).sorted.lastOption
        .map(k => s"gen_$k").getOrElse("gen_0")
    }
    s"$root/$gen"
  }

  /** True once any append has landed. */
  def exists(spark: SparkSession, root: String): Boolean =
    fs(spark, root).exists(new Path(currentDir(spark, root)))

  def read(spark: SparkSession, root: String): Option[DataFrame] =
    if (!exists(spark, root)) None
    else Some(spark.read.schema(tableSchema(spark, root)).parquet(currentDir(spark, root)))

  private def schemaPath(root: String) = new Path(root, "_schema.json")

  /** The schema a reader of `df`'s rows gets back: nullable, as file
    * sources read every column. */
  private def readSchema(df: DataFrame): StructType =
    StructType(df.schema.fields.map(_.copy(nullable = true)))

  /** The schema the table's first append recorded. Data without one fails
    * loudly: the record lands before any data. */
  private def tableSchema(spark: SparkSession, root: String): StructType = {
    val f = fs(spark, root)
    val in = try f.open(schemaPath(root)) catch {
      case _: java.io.FileNotFoundException => sys.error(s"no recorded schema for table $root")
    }
    try DataType.fromJson(new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8"))
      .asInstanceOf[StructType]
    finally in.close()
  }

  /** Append `df` to the current generation, then compact if the generation
    * has outgrown `maxFiles`. `targetFiles` sizes the compacted rewrite
    * (1 for small tables; callers with multi-GB tables pass a row-derived
    * count so one file never exceeds executor-friendly sizes). The first
    * append records the table's schema; a later one must match it. */
  def append(spark: SparkSession, root: String, df: DataFrame,
             maxFiles: Int = DefaultMaxFiles,
             targetFiles: Long => Int = _ => 1): Unit = {
    val f = fs(spark, root)
    val schema = readSchema(df)
    if (!f.exists(schemaPath(root))) graft.FsWrite.atomic(f, schemaPath(root), schema.json)
    else {
      val recorded = tableSchema(spark, root)
      if (recorded != schema)
        sys.error(s"append to $root with columns ${schema.simpleString}, " +
          s"the table records ${recorded.simpleString}")
    }
    df.write.mode("append").parquet(currentDir(spark, root))
    compactIfNeeded(spark, root, schema, maxFiles, targetFiles)
  }

  private def genIndex(name: String): Int =
    name.stripPrefix("gen_").toInt

  private def compactIfNeeded(spark: SparkSession, root: String, schema: StructType,
                              maxFiles: Int, targetFiles: Long => Int): Unit = {
    val f = fs(spark, root)
    val cur = currentDir(spark, root)
    val curPath = new Path(cur)
    if (!f.exists(curPath)) return
    val nFiles = f.listStatus(curPath)
      .count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    if (nFiles <= maxFiles) return
    val curGen = genIndex(curPath.getName)
    val nextGen = s"gen_${curGen + 1}"
    val data = spark.read.schema(schema).parquet(cur)
    val rows = data.count()
    data.repartition(math.max(1, targetFiles(rows)))
      .write.mode("overwrite").parquet(s"$root/$nextGen")
    graft.FsWrite.atomic(f, pointer(root), nextGen)
    // sweep every non-current generation (incl. stale dirs from crashed
    // compactions of past runs)
    f.listStatus(new Path(root)).filter(_.isDirectory)
      .map(_.getPath)
      .filter(p => p.getName.startsWith("gen_") && p.getName != nextGen)
      .foreach(p => f.delete(p, true))
  }
}

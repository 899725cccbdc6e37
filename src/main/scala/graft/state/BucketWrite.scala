package graft.state

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileSystem, Path}
import org.apache.hadoop.mapreduce.Job
import org.apache.parquet.hadoop.{ParquetFileWriter, ParquetOutputFormat, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.io.{OutputFile, PositionOutputStream}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.BasicWriteTaskStatsTracker
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetWriteSupport}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import graft.FsWrite

/** Bucket-partitioned parquet written with no output committer: one Spark
  * job whose tasks write each bucket's rows to
  * `bucket=<b>/part-<partition>-<attempt>-<uuid>.parquet` under its final
  * name and return what they wrote. There is no `_temporary` tree, no
  * rename, no `_SUCCESS` and no listing afterwards: [[SnapshotStore]]
  * commits by its own record, which names exactly the files the tasks
  * returned, so a failed or retried attempt's file is named by no record
  * and never read.
  *
  * Files go through [[graft.FsWrite.create]] (java.nio on `file:`, so no
  * `chmod` child per file; `fs.create` elsewhere), written by parquet's
  * `ParquetWriter` with Spark's `ParquetWriteSupport`, configured by
  * `ParquetFileFormat.prepareWrite` as a `df.write.parquet` of the same
  * session would be (codec, timestamp and legacy-format settings). Output
  * bytes and rows reach the task's output metrics as a file-source write's
  * do.
  *
  * Every caller places each bucket in one task (a hash exchange on
  * `bucket`, or a partitioning the bucket is a function of); each task
  * sorts its rows by bucket, so it writes one file per bucket. */
private[state] object BucketWrite {

  /** One written part file: its bucket, its path relative to the dir, its
    * byte length, and the [[TermBloom]] over its rows' terms (None when
    * terms were not asked for or no row had a non-null term). */
  final case class Part(bucket: Int, file: String, bytes: Long, bloom: Option[TermBloom])

  /** Write `df` (data columns plus an int `bucket`) under `dir`. With
    * `terms` (an array column over `df`), each part also carries the bloom
    * of the non-null terms of its rows, cast to string, sized by
    * [[TermBloom.Builder]] for `termsPerRow` terms a row. */
  def apply(df: DataFrame, dir: String, terms: Option[Column], termsPerRow: Int): Seq[Part] = {
    val spark = df.sparkSession
    val dataSchema = StructType(df.schema.filter(_.name != "bucket").map(_.copy(nullable = true)))
    val job = Job.getInstance(new Configuration(spark.sparkContext.hadoopConfiguration))
    new ParquetFileFormat().prepareWrite(spark, job, Map.empty, dataSchema)
    // data columns, then the bucket, then the terms: the task writes the
    // first n fields, switches file on the bucket and hashes the terms
    val staged = df.sortWithinPartitions("bucket")
      .select((dataSchema.fieldNames.map(col) :+ col("bucket")) ++
        terms.map(_.cast("array<string>")): _*)
    val qe = staged.queryExecution
    val bloomTermsPerRow = terms.map(_ => termsPerRow)
    FsWrite.withTaskConf(spark, job.getConfiguration) { conf =>
      SQLExecution.withNewExecutionId(qe, Some(s"write $dir")) {
        qe.toRdd.mapPartitionsWithIndex { (p, rows) =>
          writeTask(dir, conf.value.value, dataSchema, p, rows, bloomTermsPerRow)
        }.collect().toSeq
      }
    }
  }

  private def writeTask(dir: String, conf: Configuration, dataSchema: StructType, partition: Int,
                        rows: Iterator[InternalRow], termsPerRow: Option[Int]): Iterator[Part] = {
    val n = dataSchema.length
    val fs = new Path(dir).getFileSystem(conf)
    val attempt = TaskContext.get().attemptNumber()
    val project = UnsafeProjection.create(
      dataSchema.fields.toSeq.zipWithIndex.map { case (f, i) => BoundReference(i, f.dataType, true) })
    val stats = new BasicWriteTaskStatsTracker(conf, None)
    val done = scala.collection.mutable.ArrayBuffer.empty[Part]
    var open: BucketFile = null
    def closeOpen(): Unit = if (open != null) {
      done += open.close(); stats.closeFile(open.name); open = null
    }
    try {
      rows.foreach { row =>
        require(!row.isNullAt(n), s"null bucket in a write to $dir")
        val b = row.getInt(n)
        if (open == null || open.bucket != b) {
          closeOpen()
          open = new BucketFile(fs, conf, dir, b,
            f"bucket=$b/part-$partition%05d-$attempt-${java.util.UUID.randomUUID()}.parquet",
            termsPerRow.map(new TermBloom.Builder(_)))
          stats.newFile(open.name)
        }
        open.write(project(row))
        stats.newRow(open.name, row)
        open.terms.foreach { tb =>
          tb.row()
          if (!row.isNullAt(n + 1)) {
            val ts = row.getArray(n + 1)
            var i = 0
            while (i < ts.numElements()) {
              if (!ts.isNullAt(i)) tb.put(TermBloom.hash(ts.getUTF8String(i).toString))
              i += 1
            }
          }
        }
      }
      closeOpen()
    } catch { case e: Throwable =>
      // best effort: leave no file of this attempt behind (none would be
      // read anyway: no record names it)
      if (open != null) try open.abort() catch { case _: Throwable => }
      (done.map(p => new Path(dir, p.file)) ++ Option(open).map(_.path)).foreach { p =>
        try fs.delete(p, false) catch { case _: Throwable => }
      }
      throw e
    }
    stats.getFinalStats(0L) // sets the task's output bytes and records
    done.iterator
  }

  /** One bucket's part file, open for rows. */
  private final class BucketFile(fs: FileSystem, conf: Configuration, dir: String, val bucket: Int,
                                 file: String, val terms: Option[TermBloom.Builder]) {
    val path = new Path(dir, file)
    val name: String = path.toString
    private var out: FSDataOutputStream = _
    private val writer: ParquetWriter[InternalRow] = new RowWriter(new OutputFile {
      def create(blockSizeHint: Long): PositionOutputStream = open(overwrite = false)
      def createOrOverwrite(blockSizeHint: Long): PositionOutputStream = open(overwrite = true)
      def supportsBlockSize: Boolean = false
      def defaultBlockSize: Long = 0L
      override def getPath: String = name
    }).withConf(conf)
      .withCompressionCodec(ParquetOutputFormat.getCompression(conf))
      .withWriteMode(ParquetFileWriter.Mode.CREATE)
      .build()

    private def open(overwrite: Boolean): PositionOutputStream = {
      out = FsWrite.create(fs, path, overwrite)
      new PositionOutputStream {
        def getPos: Long = out.getPos
        override def write(b: Int): Unit = out.write(b)
        override def write(b: Array[Byte], off: Int, len: Int): Unit = out.write(b, off, len)
        override def flush(): Unit = out.flush()
        override def close(): Unit = out.close()
      }
    }

    def write(row: InternalRow): Unit = writer.write(row)

    def abort(): Unit = if (out != null) out.close()

    def close(): Part = {
      writer.close()
      Part(bucket, file, out.getPos, terms.flatMap(_.result))
    }
  }

  private final class RowWriter(file: OutputFile)
      extends ParquetWriter.Builder[InternalRow, RowWriter](file) {
    override protected def self(): RowWriter = this
    override protected def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport
  }
}

package graft.state

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, PartitionDirectory}
import org.apache.spark.sql.types.StructType

/** Spark's [[FileIndex]] over files a store's records name: one partition
  * per entry of `parts` (its partition values, then its files with their
  * recorded lengths). Nothing here touches the filesystem: there is no
  * listing, no status probe and no footer read, and a file no record
  * names is never scanned.
  *
  * [[listFiles]] applies the partition filters itself: Spark evaluates a
  * filter on partition columns only through the index, never again on the
  * scanned rows. */
private[state] final class RecordIndex(roots: Seq[Path], val partitionSchema: StructType,
                                       parts: Seq[(InternalRow, Seq[FileStatus])]) extends FileIndex {

  def rootPaths: Seq[Path] = roots

  def listFiles(partitionFilters: Seq[Expression], dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val keep: InternalRow => Boolean = partitionFilters.reduceOption(And) match {
      case None => _ => true
      case Some(p) =>
        val bound = Predicate.createInterpreted(p.transform { case a: AttributeReference =>
          val i = partitionSchema.fieldNames.indexWhere(_.equalsIgnoreCase(a.name))
          BoundReference(i, partitionSchema(i).dataType, nullable = true)
        })
        bound.eval
    }
    parts.collect { case (values, files) if keep(values) =>
      PartitionDirectory(values, files.map(FileStatusWithMetadata(_)))
    }
  }

  def inputFiles: Array[String] = parts.flatMap(_._2).map(_.getPath.toString).toArray

  def refresh(): Unit = ()

  def sizeInBytes: Long = parts.iterator.flatMap(_._2).map(_.getLen).sum
}

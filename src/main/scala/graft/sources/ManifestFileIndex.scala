package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path => HadoopPath}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** A micro-lake snapshot's data files as a Spark [[FileIndex]]: exactly
  * the files a manifest names, each with a [[FileStatus]] the owning
  * [[MutableTable]] stat'ed once over NIO and keeps (data files are
  * immutable). A frame built on it skips everything
  * `spark.read.parquet(paths…)` does before planning — the per-read
  * path-existence check (which starts a fresh thread pool each time), the
  * glob and the leaf-file listing — and the relation it plans is the one
  * that read would plan: `HadoopFsRelation` + `ParquetFileFormat` over
  * the same file paths, no partition columns.
  *
  * The index also carries the owning table's per-file stats lookup
  * (`stats`, by file name: [[MutableTable.statsFor]]), by which the
  * optimizer's scan-prune rule narrows a relation over it ([[pruned]]).
  *
  * Equality is by file set, as `InMemoryFileIndex` compares its root
  * paths: two frames of one snapshot are `sameResult`, and the prepared
  * plan cache and the optimizer see one relation.
  */
final class ManifestFileIndex(statuses: Seq[FileStatus],
    stats: String => Map[String, ColStats]) extends FileIndex {

  private lazy val paths: Set[HadoopPath] = statuses.iterator.map(_.getPath).toSet

  override def rootPaths: Seq[HadoopPath] = statuses.map(_.getPath)

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    Seq(PartitionDirectory(InternalRow.empty, statuses.map(FileStatusWithMetadata(_, Map.empty))))

  override def inputFiles: Array[String] = statuses.map(_.getPath.toString).toArray

  override def refresh(): Unit = () // the file set is a manifest's: it never changes

  override def sizeInBytes: Long = statuses.iterator.map(_.getLen).sum

  override def partitionSchema: StructType = new StructType()

  override def equals(other: Any): Boolean = other match {
    case m: ManifestFileIndex => paths == m.paths
    case _ => false
  }

  override def hashCode: Int = paths.hashCode

  /** This index without the files whose stats prove that no row matches
    * `cond` ([[FileStats.mayMatch]]); itself when every file may match.
    */
  def pruned(cond: Expression): ManifestFileIndex = {
    val keep = statuses.filter(s => FileStats.mayMatch(stats(s.getPath.getName), cond))
    if (keep.length == statuses.length) this else new ManifestFileIndex(keep, stats)
  }

  /** A parquet scan of these files in `session`, columns typed by
    * `schema` made nullable (as every file-source read is), without the
    * rows `deletes` names. Only a snapshot with deletes gets the one
    * filter on `_metadata.file_name` and `_metadata.row_index`: a
    * delete-free frame is the bare relation.
    */
  def frame(session: SparkSession, schema: StructType,
      deletes: DeleteVectors = DeleteVectors.empty): DataFrame = {
    val df = session.baseRelationToDataFrame(HadoopFsRelation(this, partitionSchema,
      org.apache.spark.sql.graft.bridge.asNullable(schema), None,
      new ParquetFileFormat, Map.empty)(session))
    if (deletes.isEmpty) df else df.filter(!ManifestFileIndex.deleted(deletes))
  }
}

object ManifestFileIndex {

  /** TRUE for a scanned row that `deletes` names, by the parquet
    * source's file name and row position metadata.
    */
  def deleted(deletes: DeleteVectors): Column = {
    import org.apache.spark.sql.graft.bridge
    bridge.column(DeletedRow(bridge.expression(col("_metadata.file_name")),
      bridge.expression(col("_metadata.row_index")), deletes))
  }

  /** What Hadoop's local file system reports as a file's block size. */
  private val LocalBlockSize = 32L << 20

  /** A local data file's status, stat'ed over NIO. The path is the
    * file's `file:///…` URI, the form a Hadoop listing of the same path
    * yields, so the scan's `input_file_name()` values are the listing
    * read's. Throws NoSuchFileException for a missing file.
    */
  def stat(file: java.nio.file.Path): FileStatus = {
    val abs = file.toAbsolutePath.normalize
    val attrs = java.nio.file.Files.readAttributes(abs,
      classOf[java.nio.file.attribute.BasicFileAttributes])
    new FileStatus(attrs.size, false, 1, LocalBlockSize, attrs.lastModifiedTime.toMillis,
      new HadoopPath(abs.toUri))
  }
}

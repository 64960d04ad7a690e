package graft.table

import java.nio.file.{Path => NioPath}

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileFormat, HadoopFsRelation, PartitionDirectory, PartitionSpec, PartitioningAwareFileIndex}
import org.apache.spark.sql.types.StructType

/** The manifest IS the file listing: a [[PartitioningAwareFileIndex]]
  * over `FileStatus`es built from manifest entries (`path` +
  * `fileSizeBytes`), the way Spark's own `MetadataLogFileIndex` serves a
  * streaming sink's log. Spark's default `InMemoryFileIndex` re-stats
  * every path it is handed — and above
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32) paths
  * lists them with a distributed job — so a read of files the manifest
  * already describes paid a filesystem round trip per file at plan time.
  * This index does no I/O for the files: construction is O(files) of
  * string work, and a manifest entry whose file is gone fails when a task
  * opens it (execution), not while the DataFrame is built.
  *
  * Partition values: identity directory keys recover exactly as before —
  * with a `basePath` option the base class's `inferPartitioning()` parses
  * the `<col>=<value>/` segments of the leaf directories (typed by the
  * user schema; one stat of the base directory, none of the files).
  * Without `basePath` the files read as leaves with no partition columns,
  * which is what a leaf-path `InMemoryFileIndex` discovers too.
  *
  * Late filters: `listFiles` additionally drops the files `keep` rules
  * out for the scan's DATA filters — the table's manifest pruning walk,
  * run at physical planning on filters Catalyst pushed down after the
  * DataFrame was built (`read().filter(k)`). Sound by construction: the
  * scan still re-applies every data filter to the rows it reads.
  *
  * File modification times are not in the manifest and read as 0.
  */
final class ManifestFileIndex(
    spark: SparkSession,
    files: Seq[FileStatus],
    val options: Map[String, String],
    userSchema: Option[StructType],
    keep: Seq[Expression] => FileStatus => Boolean = ManifestFileIndex.keepAll)
    extends PartitioningAwareFileIndex(spark, options, userSchema) {

  override lazy val rootPaths: Seq[Path] = files.map(_.getPath)

  override protected lazy val leafFiles: mutable.LinkedHashMap[Path, FileStatus] =
    mutable.LinkedHashMap(files.map(f => f.getPath -> f): _*)

  override protected lazy val leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
    files.toArray.groupBy(_.getPath.getParent)

  private val basePath: Option[String] =
    options.collectFirst { case (k, v) if k.equalsIgnoreCase("basePath") => v }

  private lazy val spec: PartitionSpec =
    if (basePath.isDefined) inferPartitioning() else PartitionSpec.emptySpec

  override def partitionSpec(): PartitionSpec = spec

  // a manifest's file list never changes under a built plan
  override def refresh(): Unit = ()

  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val dirs = super.listFiles(partitionFilters, dataFilters)
    if (dataFilters.isEmpty) dirs
    else {
      val k = keep(dataFilters)
      dirs.map(d => d.copy(files = d.files.filter(f => k(f.fileStatus))))
    }
  }

  // value equality, like InMemoryFileIndex: two reads of the same files
  // must compare equal for cache lookups and exchange/scan reuse
  override def equals(other: Any): Boolean = other match {
    case o: ManifestFileIndex =>
      rootPaths.toSet == o.rootPaths.toSet && basePath == o.basePath
    case _ => false
  }
  override def hashCode(): Int = rootPaths.toSet.hashCode()
}

object ManifestFileIndex {
  val keepAll: Seq[Expression] => FileStatus => Boolean = _ => _ => true

  // the local filesystem's default block size; only split heuristics
  // outside Spark's file-source planning would ever consult it
  private val BlockSize = 32L * 1024 * 1024

  private val LocalFs = java.net.URI.create("file:///")

  /** The qualified status of a local data file the manifest recorded at
    * `size` bytes, without a stat. The path is qualified the way the local
    * filesystem qualifies it (`file:///…`), so `_metadata.file_path` and
    * `inputFiles` read exactly as they do from an `InMemoryFileIndex`. */
  def status(path: NioPath, size: Long): FileStatus =
    new FileStatus(size, false, 1, BlockSize, 0L,
      new Path(path.toAbsolutePath.normalize().toString)
        .makeQualified(LocalFs, null))

  /** The status of manifest entry `f` of the table rooted at `dir`. */
  def status(dir: String, f: DataFileEntry): FileStatus =
    status(java.nio.file.Paths.get(dir, f.path), f.fileSizeBytes)

  /** A batch DataFrame over `index` in `format` with `schema` — what
    * `spark.read.schema(schema).format(...).load(paths)` resolves to,
    * minus the listing. Columns the index recovers from directories come
    * from its partition schema; the rest are the (nullable) data schema. */
  def read(
      spark: SparkSession,
      index: ManifestFileIndex,
      schema: StructType,
      format: FileFormat): DataFrame = {
    val resolver = spark.sessionState.conf.resolver
    val partSchema = index.partitionSchema
    val dataSchema = StructType(schema.filterNot(f =>
      partSchema.exists(p => resolver(p.name, f.name))))
    spark.baseRelationToDataFrame(HadoopFsRelation(index, partSchema,
      org.apache.spark.sql.classic.GraftBridge.asNullable(dataSchema), None,
      format, index.options)(spark))
  }
}

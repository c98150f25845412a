package graft.operators

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, PartitionSpec,
  PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import scala.collection.mutable

/** The file index of a stored ANN index opened from its own manifest:
  * the data files a writer recorded, with no listing of the partition
  * directories. Spark's `MetadataLogFileIndex` (the file-sink log) is
  * the template: partitions are inferred from the recorded paths
  * exactly as a listing would infer them, so partition pruning and
  * dynamic partition pruning plan the same `FileSourceScanExec`. */
private[operators] final class ManifestFileIndex(spark: SparkSession, root: Path,
                                                 files: Seq[FileStatus])
    extends PartitioningAwareFileIndex(spark, Map.empty, None) {

  override protected val leafFiles: mutable.LinkedHashMap[Path, FileStatus] =
    mutable.LinkedHashMap(files.map(f => f.getPath -> f): _*)

  override protected val leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
    files.toArray.groupBy(_.getPath.getParent)

  override def rootPaths: Seq[Path] = Seq(root)

  /** The manifest is the snapshot; a refresh has nothing to re-list. */
  override def refresh(): Unit = ()

  private lazy val spec = inferPartitioning()
  override def partitionSpec(): PartitionSpec = spec
}

private[operators] object ManifestFileIndex {

  /** `root` as a parquet relation over `files` (path relative to
    * `root`, size, mtime) with the written columns `schema`: the frame
    * `spark.read.parquet(root)` gives over the same files — data
    * columns in written order, nullable, then the partition columns —
    * with no schema-inference or listing job. */
  def open(spark: SparkSession, root: String, files: Seq[(String, Long, Long)],
           schema: StructType): DataFrame = {
    val base = new Path(root)
    val dir = base.getFileSystem(spark.sessionState.newHadoopConf()).makeQualified(base)
    val index = new ManifestFileIndex(spark, dir, files.map { case (rel, size, mtime) =>
      new FileStatus(size, false, 0, 0, mtime, new Path(dir, rel))
    })
    val parts = index.partitionSchema.fieldNames.toSet
    val data = StructType(schema.filterNot(f => parts(f.name)))
    spark.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema,
      nullable(data).asInstanceOf[StructType], None, new ParquetFileFormat, Map.empty)(spark))
  }

  /** A file source reads every column as nullable, nested levels
    * included (what `spark.read` does to an inferred schema). */
  private def nullable(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }
}

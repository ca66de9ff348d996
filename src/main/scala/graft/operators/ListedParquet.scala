package graft.operators

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache,
  HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** A parquet read over data files the caller has already listed — a
  * snapshot manifest's file set or a merge sink's pruned listing.
  *
  * `spark.read.parquet(files: _*)` re-lists every path it is handed, and
  * above `spark.sql.sources.parallelPartitionDiscovery.threshold` (32)
  * paths it does so with a Spark job: 230–300 ms per read at 40 files,
  * about 1.4 s at 200. Here the file index is seeded with the statuses in
  * hand, so the read plans without touching the file system. With a
  * `basePath`, partition directories below it (`col=value/`) are still
  * discovered from the paths, typed by `schema` where it names the
  * column; without one, each file's directory is its own root.
  *
  * `schema = None` infers it from the footers (one Spark job), the
  * behavior of a schema-less `spark.read.parquet`.
  */
object ListedParquet {

  def read(spark: SparkSession, files: Seq[FileStatus],
           schema: Option[StructType], basePath: Option[Path]): DataFrame = {
    val known = files.map(f => f.getPath -> Array(f)).toMap
    // answers every root path from the statuses in hand; the index never
    // asks for anything else
    val listed = new FileStatusCache {
      override def getLeafFiles(p: Path): Option[Array[FileStatus]] =
        known.get(p)
      override def putLeafFiles(p: Path, fs: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    val index = new InMemoryFileIndex(spark, files.map(_.getPath),
      basePath.map(b => "basePath" -> b.toString).toMap, schema, listed)
    val format = new ParquetFileFormat
    val full = schema.getOrElse(format.inferSchema(spark, Map.empty, files)
      .getOrElse(throw new IllegalArgumentException(
        s"no parquet schema in ${files.size} files: ${files.take(3)
          .map(_.getPath).mkString(", ")}")))
    val parts = index.partitionSchema
    val data = StructType(full.filterNot(f =>
      parts.fieldNames.contains(f.name)).map(_.copy(nullable = true)))
    spark.baseRelationToDataFrame(
      HadoopFsRelation(index, parts, data, None, format, Map.empty)(spark))
  }
}

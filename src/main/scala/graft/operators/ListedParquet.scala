package graft.operators

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ColumnPath
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.{
  DateLogicalTypeAnnotation, IntLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{INT32,
  INT64}
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
  *
  * [[footerRanges]] reads a data file's per-column value ranges from the
  * same footers, on the driver and without a Spark job: the merge sink's
  * key pruning and the snapshot manifest's file stats both use it.
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

  /** The min/max of every top-level signed INT32/INT64 column (a DATE as
    * epoch days) over the file's row groups, read from its footer:
    * `Some((min, max))`, or `None` when the column holds only nulls. A
    * column missing from the map can't be decided: unsigned or
    * non-integral (timestamps, INT96, doubles, decimals, strings), or a
    * row group without statistics. */
  def footerRanges(conf: Configuration,
                   f: FileStatus): Map[String, Option[(Long, Long)]] = {
    import scala.jdk.CollectionConverters._
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
    val footer = try reader.getFooter finally reader.close()
    val blocks = footer.getBlocks.asScala.toSeq
    footer.getFileMetaData.getSchema.getFields.asScala.toSeq.collect {
      case t if t.isPrimitive &&
          Set(INT32, INT64)(t.asPrimitiveType.getPrimitiveTypeName) &&
          (t.getLogicalTypeAnnotation match {
            case null => true
            case i: IntLogicalTypeAnnotation => i.isSigned
            case _: DateLogicalTypeAnnotation => true
            case _ => false
          }) => t.getName
    }.flatMap { name =>
      val chunks = blocks.map(_.getColumns.asScala
        .find(_.getPath == ColumnPath.get(name)))
      val stats = chunks.flatten.map(c => (c, c.getStatistics))
      val decided = chunks.forall(_.isDefined) && stats.forall {
        case (c, st) => st != null && (st.hasNonNullValue ||
          st.isNumNullsSet && st.getNumNulls == c.getValueCount)
      }
      Option.when(decided) {
        val set = stats.collect { case (_, st) if st.hasNonNullValue =>
          (st.genericGetMin.asInstanceOf[Number].longValue,
            st.genericGetMax.asInstanceOf[Number].longValue)
        }
        name -> Option.when(set.nonEmpty)(
          (set.map(_._1).min, set.map(_._2).max))
      }
    }.toMap
  }
}

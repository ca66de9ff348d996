package graft.operators

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.ColumnPath
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.{
  DateLogicalTypeAnnotation, IntLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{INT32,
  INT64}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache,
  HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

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
  * `schema = None` takes the schema from the first file's footer, read
  * on the driver with Spark's own conversion
  * (`ParquetFileFormat.readSchemaFromFooter`, a converter built from the
  * session's conf, then made nullable as a file source's data schema
  * is): what a schema-less `spark.read.parquet` infers, but without the
  * one-task inference job it launches. Like that inference (without
  * `mergeSchema`), it assumes every file shares the first one's schema.
  * [[readPath]] is that read over one file or a flat directory of them:
  * every fixture table, every materialized stage and every snapshot
  * delete vector is read through it, so no Spark job runs before a
  * query's own.
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
    val full = schema.getOrElse(footerSchema(spark, files.headOption
      .getOrElse(throw new IllegalArgumentException("no parquet files"))))
    val parts = index.partitionSchema
    val data = StructType(full.filterNot(f =>
      parts.fieldNames.contains(f.name)).map(_.copy(nullable = true)))
    spark.baseRelationToDataFrame(
      HadoopFsRelation(index, parts, data, None, format, Map.empty)(spark))
  }

  /** The parquet data at `path`: one file, or a flat directory of them
    * as a Spark write leaves it (entries named `_…` or `.…` skipped),
    * listed on the driver and read with the first data file's footer
    * schema (by name). A missing path, a directory without a data file,
    * a partitioned directory (`col=value/` below it) and a streaming
    * sink's directory (its `_spark_metadata` log decides the file set)
    * fail with an error that names the path. */
  def readPath(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    def refuse(why: String) =
      throw new IllegalArgumentException(s"parquet read of $path: $why")
    val st = try fs.getFileStatus(p) catch {
      case _: java.io.FileNotFoundException => refuse("no such path")
    }
    val files =
      if (!st.isDirectory) Seq(st)
      else {
        val (hidden, shown) = fs.listStatus(p).toSeq
          .partition(f => Set('_', '.')(f.getPath.getName.head))
        if (hidden.exists(_.getPath.getName == "_spark_metadata"))
          refuse("a streaming sink's directory")
        if (shown.exists(_.isDirectory))
          refuse(s"subdirectories (partitions?): ${shown.filter(_.isDirectory)
            .map(_.getPath.getName).sorted.take(3).mkString(", ")}")
        shown.sortBy(_.getPath.getName)
      }
    if (files.isEmpty) refuse("no data file")
    read(spark, files, None, None)
  }

  /** `f`'s footer schema as a schema-less parquet read infers it. The
    * inference job's converter takes case sensitivity, field-id reads
    * and the variant annotation at their defaults; this one takes them
    * from the session, where this engine leaves them at those defaults. */
  private def footerSchema(spark: SparkSession, f: FileStatus): StructType = {
    val meta = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(f, spark.sessionState.newHadoopConf()),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    nullable(ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, meta),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
      .asInstanceOf[StructType]
  }

  /** Every field, element and map value nullable, at every depth: a file
    * source's data schema, as `spark.read` builds it. */
  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType),
      valueContainsNull = true)
    case other => other
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

package graft.operators

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField,
  StructType}
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** Keyed MERGE over parquet tables — the reference's `ON CONFLICT DO
  * NOTHING` upsert (`bars.py:196-198`,
  * `stmt.on_conflict_do_nothing(index_elements=["symbol","time_utc"])`)
  * and the lakehouse `MERGE WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT`
  * (`Procesamiento_fase_1.ipynb:305` overwritePartitions), re-expressed
  * Spark-native.
  *
  * Delta/Iceberg are not on the classpath in this environment, so MERGE is
  * built from the two primitives a lakehouse engine itself uses:
  *
  *  - [[insertIfAbsent]] — WHEN NOT MATCHED THEN INSERT is append-only:
  *    anti-join the (deduplicated) source against the target's keys and
  *    append exactly the new rows. No rewrite, no swap; idempotent because
  *    a re-run's anti-join removes everything. The target side of the
  *    anti-join projects ONLY the key columns (column-pruned scan), so at
  *    100 TB the join's build side is keys-not-rows and broadcastable per
  *    partition.
  *
  *    It also reads only the target files that can hold a source key
  *    (Shark's map pruning, on per-file key ranges). One small aggregate
  *    takes the source's min/max of each integral (`LongType` /
  *    `IntegerType`) key column; each data file's min/max comes from its
  *    parquet footer; a file is skipped when any such range is disjoint
  *    from the source's, or the column is null throughout the file (a
  *    null key never matches). A file is kept whenever its stats can't
  *    decide: non-integral keys (timestamps, INT96, strings), partition
  *    columns (not in the footer), missing statistics. With no integral
  *    key every file is kept — the same path, nothing skipped. The
  *    aggregate is a second pass over the source (for a streaming batch
  *    it re-runs the batch's stateful plan), so it runs only when some
  *    key's file ranges lie apart; when they all share a point, a batch
  *    covering it would keep every file anyway, and every file is kept
  *    without it. When no file survives there is no target scan and no
  *    join. The kept files
  *    are read with the source's key schema through [[ListedParquet]]: no
  *    schema inference, no listing job. An append-only sink whose keys
  *    arrive roughly in order (ids, event times as longs) therefore reads
  *    O(batch) target files per merge, not the whole history.
  *
  *    Footer ranges are cached on the driver per table, keyed by path,
  *    length and mtime, and trimmed to the current listing on every
  *    merge: a batch reads only the footers of files appended since the
  *    last one, and the cache never holds more than one entry per live
  *    data file of each sink this JVM has merged into.
  *
  *  - [[upsertPartitioned]] — WHEN MATCHED UPDATE needs copy-on-write.
  *    File-level COW needs a table format; the Spark-native equivalent is
  *    PARTITION-level COW: rewrite only the partitions the source touches
  *    (dynamic partition overwrite), keeping target rows that lose no
  *    conflict and taking source rows for new/conflicting keys
  *    (source-wins). Untouched partitions are never read or written.
  *
  * Row counts come from `Observation` metrics attached to the write — the
  * merge pipeline executes exactly once (no count()-then-write double
  * evaluation).
  *
  * All paths go through the Hadoop FileSystem API, not java.io.File — the
  * same code runs against HDFS/S3A at cluster scale.
  */
object MergeUpsert {

  def tableExists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p)
  }

  /** Deduplicate the source on the merge keys (first row per key by
    * `orderCol` wins — Postgres ON CONFLICT within one statement keeps the
    * first arriving row; we make "first" deterministic instead of
    * insertion-ordered). */
  private def dedupSource(source: DataFrame, keyCols: Seq[String],
                          orderCol: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(orderCol))
    source.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** MERGE ... WHEN NOT MATCHED THEN INSERT (ON CONFLICT DO NOTHING).
    *
    * Appends source rows whose key is absent from the target table;
    * re-running with the same source appends nothing (idempotent), and
    * same-key rows — including same-key-same-timestamp conflicts — are
    * never duplicated. Returns the number of rows inserted.
    */
  def insertIfAbsent(spark: SparkSession, source: DataFrame,
                     tablePath: String, keyCols: Seq[String],
                     orderCol: String,
                     sourceKeyUnique: Boolean = false): Long = {
    val fresh = newRows(spark, source, tablePath, keyCols, orderCol,
      sourceKeyUnique)
    val obs = new Observation()
    fresh.observe(obs, count(lit(1)).as("n"))
      .write.mode(SaveMode.Append).parquet(tablePath)
    obs.get("n").asInstanceOf[Long]
  }

  /** The WHEN-NOT-MATCHED row set [[insertIfAbsent]] appends. Public so
    * plan audits (`MergePlanSpec`) can assert the scale-critical
    * properties: the target side of the anti-join scans ONLY the key
    * columns, and ONLY the files whose key range can hold a source key.
    *
    * `sourceKeyUnique = true` (r13): the caller asserts the source is
    * already key-unique — a windowed-aggregate or joined-pair
    * micro-batch, unique by construction — so the first-row-per-key
    * dedup window (one keyed shuffle of the source PER CALL; the
    * streaming merge sink pays it per micro-batch) is provably the
    * identity and is skipped. */
  def newRows(spark: SparkSession, source: DataFrame, tablePath: String,
              keyCols: Seq[String], orderCol: String,
              sourceKeyUnique: Boolean = false): DataFrame = {
    val deduped =
      if (sourceKeyUnique) source
      else dedupSource(source, keyCols, orderCol)
    val keys = source.select(keyCols.map(col): _*).schema
    val kept = targetFiles(spark, source, new Path(tablePath), keys)
    if (kept.isEmpty) deduped
    else {
      // keys-only target scan over the kept files: the anti-join build
      // side carries the key columns, never full rows. No `distinct`: a
      // left-anti result does not depend on duplicate build keys (and
      // this merge keeps the sink's keys unique anyway).
      val targetKeys = ListedParquet.read(spark, kept, Some(keys),
        basePath = Some(new Path(tablePath))).select(keyCols.map(col): _*)
      deduped.join(targetKeys, keyCols, "left_anti")
    }
  }

  /** A data file's key ranges ([[ListedParquet.footerRanges]]). */
  private type Ranges = Map[String, Option[(Long, Long)]]

  /** Footer ranges of each merge sink's data files, keyed by table root
    * and then by (path, length, mtime). Every call replaces its table's
    * entry with the files of the current listing, so the cache holds one
    * small entry per live data file of each sink merged in this JVM, and
    * a batch reads the footers of newly appended files only. */
  private val footerCache =
    new java.util.concurrent.ConcurrentHashMap[String,
      Map[(String, Long, Long), Ranges]]()

  /** The target's data files that can hold a key of `source`: a file is
    * skipped when, on some integral key column, its footer range is
    * disjoint from the source's [min, max] (one small aggregate), or the
    * column is null throughout the file. Files whose stats can't decide
    * are kept; with no integral key column, or no key whose file ranges
    * lie apart, every file is kept. A source whose integral key is null
    * in every row (or an empty source) can't match any file. Empty when
    * the table doesn't exist. */
  private def targetFiles(spark: SparkSession, source: DataFrame,
                          root: Path, keys: StructType): Seq[FileStatus] = {
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val listed = if (fs.exists(root)) dataFiles(fs, root) else Nil
    val integral = keys.fields.collect {
      case StructField(n, LongType | IntegerType, _, _) => n
    }
    lazy val ranges = footerRanges(spark, root, listed)
    // the files' ranges on a key share a point when the largest min is
    // at most the smallest max: a batch covering that point keeps every
    // file, so unless some key's ranges are apart the bounds aggregate (a
    // second pass over the source, which re-runs a streaming batch's
    // stateful plan) would buy nothing
    def apart(k: String) = {
      val rs = ranges.flatMap(_.get(k)).flatten
      rs.nonEmpty && rs.map(_._1).max > rs.map(_._2).min
    }
    if (listed.isEmpty) { footerCache.remove(root.toString); Nil }
    else if (!integral.exists(apart)) listed
    else {
      val aggs = integral.flatMap(k => Seq(min(col(k)), max(col(k))))
      val b = source.agg(aggs.head, aggs.tail: _*).head()
      val bounds = integral.indices.map { i =>
        if (b.isNullAt(2 * i)) None
        else Some((b.getAs[Number](2 * i).longValue,
          b.getAs[Number](2 * i + 1).longValue))
      }
      if (bounds.contains(None)) Nil
      else listed.zip(ranges).collect {
        case (f, ranges) if integral.zip(bounds.flatten).forall {
          case (k, (lo, hi)) => ranges.get(k) match {
            case None => true
            case Some(None) => false
            case Some(Some((mn, mx))) => mx >= lo && mn <= hi
          }
        } => f
      }
    }
  }

  /** Every data file under `dir`, partition directories included; hidden
    * and metadata entries (`.crc`, `_SUCCESS`) skipped as Spark does. */
  private def dataFiles(fs: FileSystem, dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).toSeq.flatMap { s =>
      val n = s.getPath.getName
      if ((n.startsWith("_") && !n.contains("=")) || n.startsWith(".")) Nil
      else if (s.isDirectory) dataFiles(fs, s.getPath)
      else Seq(s)
    }

  private def footerRanges(spark: SparkSession, root: Path,
                           files: Seq[FileStatus]): Seq[Ranges] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val before = Option(footerCache.get(root.toString)).getOrElse(Map.empty)
    val now = files.map { f =>
      val k = (f.getPath.toString, f.getLen, f.getModificationTime)
      k -> before.getOrElse(k, ListedParquet.footerRanges(conf, f))
    }
    footerCache.put(root.toString, now.toMap)
    now.map(_._2)
  }

  /** MERGE ... WHEN MATCHED THEN UPDATE (source-wins) WHEN NOT MATCHED
    * THEN INSERT, restricted to the partitions the source touches.
    *
    * The table must be written partitioned by `partitionCol`. Only
    * partitions present in the source are rewritten (dynamic partition
    * overwrite); within them, target rows keep their data unless the
    * source carries the same key. Returns (rowsWritten) for the rewritten
    * partitions.
    */
  def upsertPartitioned(spark: SparkSession, source: DataFrame,
                        tablePath: String, keyCols: Seq[String],
                        partitionCol: String, orderCol: String): Long = {
    val deduped = dedupSource(source, keyCols, orderCol)
    val merged =
      if (!tableExists(spark, tablePath)) deduped
      else {
        val target = spark.read.parquet(tablePath)
        // partition pruning: only target partitions the source touches are
        // read (semi join on the partition column pushes into the scan as
        // a dynamic filter; at fixture scale it is a broadcast).
        val touched = deduped.select(partitionCol).distinct()
        val affected = target.join(broadcast(touched), Seq(partitionCol),
          "left_semi")
        val kept = affected.join(deduped.select(keyCols.map(col): _*),
          keyCols, "left_anti")
        kept.unionByName(deduped)
      }
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      val obs = new Observation()
      // align the shuffle with the write partitioning: one file per
      // rewritten partition instead of a sliver from every task (the
      // small-file blowup a real table's OPTIMIZE would have to undo)
      merged.repartition(col(partitionCol))
        .observe(obs, count(lit(1)).as("n"))
        .write.mode(SaveMode.Overwrite).partitionBy(partitionCol)
        .parquet(tablePath)
      obs.get("n").asInstanceOf[Long]
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }
}

package graft.sources

import graft.operators.SnapshotTable
import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.Source
import org.apache.spark.sql.execution.streaming.{Offset => V1Offset}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.StructType

/** The snapshot table as a STREAMING SOURCE — tail a
  * [[graft.operators.SnapshotTable]]'s commits as micro-batches, the
  * Delta/Iceberg streaming-source pattern and the streaming completion of
  * `readAppendsSince` (u8):
  *
  *  - **offset = committed version number.** The checkpoint stores the
  *    last version delivered; a restarted query resumes from it exactly
  *    (no re-read, no gap) — table-format commits are already exactly the
  *    replayable, totally-ordered log a streaming source needs, so no
  *    extra bookkeeping exists.
  *  - **one batch = the files added in (startV, endV].** The manifest
  *    set-difference names the data files BEFORE any I/O, so each batch
  *    costs the appended bytes, never the table — a 100 TB table tails
  *    for the price of its new data.
  *  - **rewrites fail loudly.** If a compaction/replace/upsert rewrote
  *    history between offsets, file-level increments are undefined;
  *    `readAppendsSince` refuses and the stream surfaces the error
  *    instead of silently re-delivering rewritten rows (Delta's
  *    ignoreChanges footgun, made impossible rather than opt-out).
  *  - schema = the table's RECORDED schema at stream start (evolution
  *    between restarts is fine; mid-stream evolution surfaces on restart,
  *    the standard streaming-source contract).
  *
  * Registered as a V1 `StreamSourceProvider` (the DataFrame-returning
  * streaming API): `spark.readStream.format("snapshot-table")
  * .option("path", tablePath).load()`. V1 fits exactly because a batch IS
  * a DataFrame here — a parquet read of the added files with the recorded
  * schema applied.
  */
class SnapshotStreamProvider extends StreamSourceProvider
    with DataSourceRegister {
  import SnapshotStreamSource.OpCol

  override def shortName(): String = "snapshot-table"

  private def path(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "snapshot-table source requires .option(\"path\", <tablePath>)"))

  private def changeFeed(parameters: Map[String, String]): Boolean =
    parameters.get("changeFeed").exists(_.toBoolean)

  override def sourceSchema(
      sqlContext: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String])
      : (String, StructType) = {
    val t = path(parameters)
    val base = schema.orElse(
      SnapshotTable.tableSchema(sqlContext.sparkSession, t)).getOrElse(
      SnapshotTable.read(sqlContext.sparkSession, t).schema)
    val s =
      if (changeFeed(parameters))
        StructType(base.fields.map(_.copy(nullable = true)) :+
          org.apache.spark.sql.types.StructField(OpCol,
            org.apache.spark.sql.types.StringType, nullable = false))
      else base
    (shortName(), s)
  }

  override def createSource(
      sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val t = path(parameters)
    new SnapshotStreamSource(sqlContext, t,
      sourceSchema(sqlContext, schema, providerName, parameters)._2,
      changeFeed(parameters))
  }
}

object SnapshotStreamSource {
  /** CDC op column name in change-feed mode ('insert' | 'delete'). */
  val OpCol = "change_op"
}

class SnapshotStreamSource(sqlContext: SQLContext, tablePath: String,
                           override val schema: StructType,
                           changeFeed: Boolean = false) extends Source {
  import SnapshotStreamSource.OpCol

  private def spark = sqlContext.sparkSession

  /** Version encoded in a checkpointed offset. Live, the engine hands
    * back our own [[LongOffset]]; on restart it hands a SerializedOffset
    * wrapping the checkpointed json — every V1 offset round-trips through
    * `json`, so the fallback decodes both. */
  private def version(o: V1Offset): Int = o match {
    case LongOffset(v) => v.toInt
    case other => other.json.trim.toInt
  }

  override def getOffset: Option[V1Offset] =
    SnapshotTable.versions(spark, tablePath).lastOption
      .map(v => LongOffset(v.toLong))

  override def getBatch(start: Option[V1Offset], end: V1Offset): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val from = start.map(version).getOrElse(0)
    val to = version(end)
    val batch =
      if (!changeFeed) {
        if (from == 0)
          // first-ever batch: the table head at `to` IS the initial load
          SnapshotTable.read(spark, tablePath, Some(to))
        else
          SnapshotTable.readAppendsSince(spark, tablePath, from, Some(to))
      } else {
        // CHANGE FEED (Delta CDF / Iceberg changelog shape): inserts are
        // the appended files; merge-on-read DELETES surface as typed
        // rows — the DV's key file projected into the table schema (key
        // column set, the rest null) with change_op='delete'. Without
        // this mode a delete commit is an EMPTY batch and downstream
        // tails silently diverge from the table's merge-on-read state.
        val dataSchema = StructType(schema.fields.filterNot(_.name == OpCol))
        def asCdc(df: DataFrame, op: String): DataFrame =
          df.select(dataSchema.fields.map(f => col(f.name)): _*)
            .withColumn(OpCol, lit(op))
        val inserts =
          if (from == 0)
            // initial load: the NET state (deletes before `to` already
            // folded by the merge-on-read view)
            SnapshotTable.readMor(spark, tablePath, Some(to))
          else
            SnapshotTable.readAppendsSince(spark, tablePath, from, Some(to))
        val deletes =
          if (from == 0) Seq.empty
          else SnapshotTable.deleteVectors(spark, tablePath)
            .filter(dv => dv.version > from && dv.version <= to)
            .map { dv =>
              val keys = graft.operators.ListedParquet.readPath(spark,
                new org.apache.hadoop.fs.Path(tablePath, dv.dir).toString)
              keys.select(dataSchema.fields.map { f =>
                if (f.name == dv.keyCol) col(f.name).cast(f.dataType)
                else lit(null).cast(f.dataType).as(f.name)
              }: _*).withColumn(OpCol, lit("delete"))
            }
        (asCdc(inserts, "insert") +: deletes).reduce(_ unionByName _)
      }
    org.apache.spark.sql.graft.StreamingShim.asStreaming(spark, batch)
  }

  override def stop(): Unit = ()
}

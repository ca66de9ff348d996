package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions.{col, max, min}

import graft.operators.MergeUpsert

/** Plan pins for pl13's merge primitive (`MergeUpsert.newRows`, the
  * anti-join every `insertIfAbsent` caller runs) over the sf0.01 events:
  * the target side scans only the key columns, only the files whose key
  * range can hold a source key, and nothing at all when no file can.
  */
class MergePlanSpec extends SparkSpec {

  // the sf0.01 tables, vendored in the repo for the benchmark
  private lazy val events = Tables.events(spark, "perfbench/data")

  /** The target as four files, one per quarter of the event_id range. */
  private lazy val (target, bounds) = {
    val path = java.nio.file.Files.createTempDirectory("graft_merge_plan")
      .toString + "/t"
    val r = events.agg(min("event_id"), max("event_id")).head()
    val (lo, hi) = (r.getLong(0), r.getLong(1))
    val cuts = (0 to 4).map(q => lo + (hi - lo + 1) * q / 4)
    cuts.sliding(2).foreach { case Seq(a, b) =>
      events.filter(col("event_id") >= a && col("event_id") < b)
        .coalesce(1).write.mode("append").parquet(path)
    }
    (path, cuts)
  }

  private def targetScans(src: DataFrame, keys: Seq[String]) =
    MergeUpsert.newRows(spark, src, target, keys, "event_id")
      .queryExecution.sparkPlan.collect {
        case s: FileSourceScanExec
            if s.relation.location.rootPaths.forall(_.toString.contains(target)) => s
      }

  // keys-not-rows build side at 100 TB: no value/event_type/props column
  // ever reaches the anti-join
  test("pl13: the target scan reads only the key columns") {
    val scans = targetScans(events.limit(10), Seq("user_id", "ts"))
    assert(scans.nonEmpty)
    scans.foreach(s =>
      assert(s.requiredSchema.fieldNames.toSeq == Seq("user_id", "ts"), s))
  }

  // a batch inside one quarter of the id range reads that quarter's file
  test("pl13: the target scan reads only the files that can hold a key") {
    val src = events.filter(col("event_id") >= bounds(1) &&
      col("event_id") < bounds(2)).limit(10)
    val scans = targetScans(src, Seq("event_id"))
    assert(scans.map(_.relation.location.inputFiles.length).sum == 1,
      scans.map(_.relation.location.inputFiles.toSeq))
    assert(scans.forall(_.requiredSchema.fieldNames.toSeq == Seq("event_id")))
  }

  // no file can hold a key: no target scan and no join are planned
  test("pl13: a batch whose key range misses every file plans no target scan") {
    val src = events.withColumn("event_id", col("event_id") + bounds(4))
      .limit(10)
    assert(targetScans(src, Seq("event_id")).isEmpty)
    val plan = MergeUpsert.newRows(spark, src, target, Seq("event_id"),
      "event_id").queryExecution.sparkPlan.toString
    assert(!plan.contains("Join"), plan)
  }
}

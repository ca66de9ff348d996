package graft

import org.apache.spark.sql.functions.col

import graft.operators.SnapshotTable

/** Plan pins for the snapshot table format: merge-on-read deletes
  * subtract through a broadcast anti-join, and pl20's manifest stats
  * skip files before any scan is scheduled. pl20 reads the sf0.01
  * tables vendored for the benchmark and commits its table under /tmp.
  */
class SnapshotPlanSpec extends SparkSpec {

  // the key file is small by construction (matched keys, not data), so
  // the anti-join must BROADCAST it onto the data scan — a shuffle
  // anti-join would re-key the whole table to subtract a handful of keys
  test("readMor: delete vectors subtract via broadcast anti-join") {
    val t = java.nio.file.Files
      .createTempDirectory("graft_plans_mor").toString + "/t"
    SnapshotTable.commit(spark, spark.range(0, 1000).toDF("id"), t)
    SnapshotTable.deleteWhere(spark, t, "id", col("id") % 7 === 0)
    val p = SnapshotTable.readMor(spark, t)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti") &&
      !p.contains("SortMergeJoin"), p)
  }

  // the 5-day range over the 6-file range layout schedules ≤ 2 data
  // files (file skipping happens at manifest-resolution time, before the
  // plan, so the proof is the scheduled file list, not a plan string)
  test("pl20: pruned scan schedules ≤ 2 of the 6 committed files") {
    val files = SparkEntry.queries("pl20_stats_pruned_scan")(spark,
      "perfbench/data").inputFiles.filter(_.contains("graft_snapstats"))
    assert(files.nonEmpty && files.length <= 2, files.toSeq)
  }
}

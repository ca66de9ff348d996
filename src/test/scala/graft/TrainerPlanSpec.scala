package graft

/** Plan pins for the fused trainer rows at sf0.01: each whole fit runs as
  * its typed aggregate (graft.functions.FitAggregates) over ONE scan — no
  * per-step joins, no window stages, no level re-routes. Round 9's fusion
  * made that shape; the shared cell buffer must keep it.
  */
class TrainerPlanSpec extends SparkSpec {

  // the sf0.01 tables, vendored in the repo for the benchmark
  private val dir = "perfbench/data"
  private def planOf(n: String): String =
    SparkEntry.queries(n)(spark, dir).queryExecution.executedPlan.toString
  private def scans(p: String): Int = "Scan parquet".r.findAllIn(p).length

  // the whole IRLS fit is the logit_fit4 typed aggregate over ONE scan —
  // no per-step joins or windows at all (before round 9: β-frame
  // broadcasts per step)
  test("mlprep_logit: one scan into the logit_fit4 aggregate") {
    val p = planOf("mlprep_logit")
    assert(p.contains("logit_fit4") && scans(p) == 1 &&
      !p.contains("Window") && !p.contains("Join"), p)
  }

  // all four boosting rounds inside gbt_fit4 — same shape
  test("mlprep_gbt: one scan into the gbt_fit4 aggregate") {
    val p = planOf("mlprep_gbt")
    assert(p.contains("gbt_fit4") && scans(p) == 1 &&
      !p.contains("Window") && !p.contains("Join"), p)
  }

  // the whole depth-3 search is the tree_fit3 typed aggregate over ONE
  // scan — no window stages, no level joins, no cache (the pre-fusion
  // shape was ~a dozen tiny stages)
  test("mlprep_tree: one scan into the tree_fit3 aggregate, no joins") {
    val p = planOf("mlprep_tree")
    assert(p.contains("tree_fit3") && scans(p) == 1 &&
      !p.contains("Window") && !p.contains("Join"), p)
  }

  // same aggregate; the normalizer join reads the cached groups-sized
  // imps frame, so the corpus aggregation chain runs once. plan.toString
  // re-prints the shared cached subtree under every IMTS reference, so
  // exact chain or scan counts are not assertable here — the cache's
  // existence + the absence of window/SMJ stages is the robust textual
  // form of "one corpus aggregation"
  test("mlprep_importance: tree_fit3 into a cached normalizer") {
    val p = planOf("mlprep_importance")
    assert(p.contains("tree_fit3") && p.contains("InMemoryTableScan") &&
      !p.contains("Window") && !p.contains("SortMergeJoin"), p)
  }

  // the 8-tree fan-out stays map-side (Generate over the one scan into
  // the grid), and everything after the grid is the forest_fit8
  // aggregate — no joins, no windows, no cache
  test("mlprep_forest: one fan-out scan into forest_fit8, no joins") {
    val p = planOf("mlprep_forest")
    assert(p.contains("forest_fit8") && p.contains("Generate") &&
      scans(p) == 1 && !p.contains("Window") && !p.contains("Join"), p)
  }
}

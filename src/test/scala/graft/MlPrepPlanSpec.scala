package graft

/** Plan pins for the mlprep rows at sf0.01: each fit on the shared
  * linear-fit moments (graft.LinearFit) reads the corpus once and every
  * later branch works on a stats-sized frame; fit statistics reach the
  * transform scan by broadcast; histogram walks and curves sort
  * histogram rows, never data rows.
  */
class MlPrepPlanSpec extends SparkSpec {

  // the sf0.01 tables, vendored in the repo for the benchmark
  private val dir = "perfbench/data"
  private def planOf(n: String): String =
    SparkEntry.queries(n)(spark, dir).queryExecution.executedPlan.toString
  private def count(p: String, s: String): Int = s.r.findAllIn(p).length

  // the λ-grid cross join is STATS-sized (broadcast nested loop over the
  // cached moment table); every branch reads the cache, so no raw scan
  // appears outside an IMTS description
  test("mlprep_sweep: branches read cached moments; stats-sized BNLJ") {
    val p = planOf("mlprep_sweep")
    val imts = count(p, "InMemoryTableScan")
    assert(imts > 0 && count(p, "Scan parquet") == imts &&
      !p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  // the model rollups derive from the cached grid and join back
  // BROADCAST — a shuffle join would re-exchange the grid per model
  // table; nothing data-sized appears twice
  test("mlprep_naive_bayes: cached grid, broadcast model joins") {
    val p = planOf("mlprep_naive_bayes")
    val imts = count(p, "InMemoryTableScan")
    assert(imts > 0 && count(p, "Scan parquet") == imts &&
      p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin") &&
      !p.contains("CartesianProduct"), p)
  }

  // the whole 48-step factorization is ONE corpus scan into one hash
  // aggregate — no join, no second scan, no window; 48 iterations must
  // stay pure projection work on the stats frame
  test("mlprep_pca: one scan, one aggregate, join-free iteration") {
    val p = planOf("mlprep_pca")
    assert(count(p, "Scan parquet") == 1 &&
      !p.contains("Join") && !p.contains("CartesianProduct") &&
      count(p, "Exchange hashpartitioning") == 1, p)
  }

  // the rolling-splits range join broadcasts the (one-row-per-window)
  // splits frame — never a shuffle or cartesian of the data side
  test("mlprep_rolling: splits side broadcast, no cartesian") {
    val p = planOf("mlprep_rolling_splits")
    assert(p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
  }

  // mlprep_prepare: every join is broadcast (the two 1-row crossJoins
  // ride BroadcastNestedLoopJoin) — no cartesian, no shuffle join
  test("mlprep_prepare: broadcasts only, no cartesian/shuffle join") {
    val p = planOf("mlprep_prepare")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  // mlprep_scaler: the fit statistics ride 1-row broadcast cross joins
  // back onto the transform scan — never a cartesian or shuffle join
  test("mlprep_scaler: stats broadcast onto the transform scan") {
    val p = planOf("mlprep_scaler")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("SortMergeJoin") &&
      p.contains("BroadcastNestedLoopJoin"), p)
  }

  // class balance: the minority count rides a 1-row broadcast onto the
  // label-partitioned rank window — never a cartesian/shuffle join
  test("mlprep_class_balance: 1-row broadcast, label-keyed window") {
    val p = planOf("mlprep_class_balance")
    assert(p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  // mlprep_eval_report's scale contract: the rank/cumulative window runs
  // over the score HISTOGRAM, never the raw rows — every Window in the
  // plan must sit on top of a hash aggregate
  test("eval_report shape: windows run over the histogram aggregate") {
    val plan = planOf("mlprep_eval_report")
    val lastWin = plan.lastIndexOf("Window")
    assert(lastWin > 0 && plan.indexOf("HashAggregate", lastWin) > lastWin,
      plan)
  }

  // psi: decile edges and totals ride broadcast onto the scan — a
  // shuffle join anywhere would re-key the events for a 10-row dim
  test("psi: edges/totals broadcast, no shuffle join") {
    val p = planOf("mlprep_psi_drift")
    assert(!p.contains("SortMergeJoin") &&
      !p.contains("ShuffledHashJoin") &&
      !p.contains("CartesianProduct"), p)
  }

  // mlprep_learning_curve: prefixes come from the CACHED cumulative
  // frame (one corpus scan feeds it); every boundary/holdout join is
  // broadcast of day-count-sized frames
  test("mlprep_learning_curve: cached cum frame, broadcast joins") {
    val p = planOf("mlprep_learning_curve")
    val imts = "InMemoryTableScan".r.findAllIn(p).length
    assert(imts > 0 && "Scan parquet".r.findAllIn(p).length == imts &&
      !p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p)
  }

  // mlprep_robust_scaler: the fit side works on the cent-grid
  // HISTOGRAM (a data-sized sort would show as a second Sort under
  // a non-histogram aggregate); the edges reach the transform scan
  // by broadcast, never a shuffle join
  test("mlprep_robust_scaler: histogram fit, broadcast edges") {
    val p = planOf("mlprep_robust_scaler")
    assert(p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("SortMergeJoin") &&
      "InMemoryTableScan".r.findAllIn(p).length > 0, p)
  }

  // mlprep_roc_curve: the curve is windows over the SCORE HISTOGRAM —
  // exactly one data-sized exchange (the histogram aggregate); the
  // window sorts histogram rows, never data rows
  test("mlprep_roc_curve: one data-sized exchange, histogram windows") {
    val p = planOf("mlprep_roc_curve")
    assert("Scan parquet".r.findAllIn(p).length == 1 && !p.contains("Join"),
      p)
  }

  // mlprep_permutation_importance: ONE windowed pass (a second
  // window or scan would mean per-feature re-permutation); join-free
  test("mlprep_perm_importance: one scan, one window, join-free") {
    val p = planOf("mlprep_permutation_importance")
    assert("Scan parquet".r.findAllIn(p).length == 1 &&
      "Window".r.findAllIn(p).length <= 2 && !p.contains("Join"), p)
  }

  // mlprep_elastic_net: the whole λ-path is ONE scan into one
  // aggregate; 40 coordinate updates stay pure projection work
  test("mlprep_elastic_net: one scan, one aggregate, join-free") {
    val p = planOf("mlprep_elastic_net")
    assert("Scan parquet".r.findAllIn(p).length == 1 &&
      !p.contains("Join") &&
      "Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
  }

  // mlprep_shap_linear: moments, both histograms, and the sample all
  // read the CACHED projection; model/summary attach by broadcast
  test("mlprep_shap_linear: cached corpus pass, broadcast model") {
    val p = planOf("mlprep_shap_linear")
    val imts = "InMemoryTableScan".r.findAllIn(p).length
    assert(imts > 0 && "Scan parquet".r.findAllIn(p).length == imts &&
      p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin") &&
      !p.contains("CartesianProduct"), p)
  }
}

package graft

/** Plan pins for the mlprep rows built on the shared linear-fit moments
  * (graft.LinearFit) at sf0.01: each fit reads the corpus once, and every
  * later branch works on a stats-sized frame.
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
}

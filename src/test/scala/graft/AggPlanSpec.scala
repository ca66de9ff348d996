package graft

/** Plan pins for the aggregate rows (a-family) at sf0.01: each sketch,
  * histogram and grouping-set row keeps its scale shape — one data-sized
  * aggregate, map-side partial folds, broadcast-only small-side joins.
  * Plans are built over the sf0.01 tables vendored for the benchmark and
  * never executed.
  */
class AggPlanSpec extends SparkSpec {

  private val dir = "perfbench/data"
  private def planOf(n: String): String =
    SparkEntry.queries(n)(spark, dir).queryExecution.executedPlan.toString

  // a22: ONE data-sized hash aggregate; the quantile windows run over
  // the bounded histogram AFTER the aggregate (no data-sized window sort
  // and no extra exchange beyond the group key's)
  test("a22: histogram-first — aggregate below the quantile windows") {
    val p = planOf("a22_grid_quantiles")
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 2 &&
      "\\bWindow \\[".r.findAllIn(p).length == 2, p)
  }

  // a24: the contingency marginals + statistic are windows over the
  // CELL table (one data-sized exchange for the groupBy; the window
  // exchanges move ≤ |types|×|tiers| rows)
  test("a24: one data-sized aggregate below the cell windows") {
    val p = planOf("a24_chisq")
    assert("\\bWindow \\[".r.findAllIn(p).length >= 3 &&
      !p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  // a25: the k-th order statistic rides the native KMV aggregate's
  // bounded partial states — a Window here would put each source's
  // whole distinct-gram set through one serial sort task (the 20×
  // probe's only >40× row before kmv_sketch_agg landed)
  test("a25: KMV minima via partial+final aggregate, no window") {
    val p = planOf("a25_kmv_distinct")
    assert(p.contains("kmv_sketch_agg") && !p.contains("Window") &&
      "ObjectHashAggregate".r.findAllIn(p).length >= 2, p)
  }

  // a25b: the shard and merge tiers are both native sketch aggregates
  // (map-side-combined — partial state is ≤64 longs, the exchanges
  // carry sketches), the exact audit is its own partial-distinct
  // branch, nothing is persisted (the old vocabulary-frame cache was
  // the board's GC outlier), no window anywhere
  test("a25b: sketch-agg tiers, no cache, no window") {
    val p = planOf("a25b_kmv_merge")
    assert(!p.contains("InMemoryTableScan") &&
      "kmv_sketch_agg".r.findAllIn(p).length >= 4 && // 2 tiers × partial+final
      !p.contains("Window"), p)
  }

  // a28: the 256-cell sketch broadcasts onto the point queries and the
  // top-k compiles to TakeOrdered, never a global sort
  test("a28: broadcast sketch join + TakeOrdered top-k") {
    val p = planOf("a28_cms_topk")
    assert(p.contains("BroadcastHashJoin") && p.contains("TakeOrdered"), p)
  }

  // a33: the HLL sketch must aggregate registers BEFORE the exchange —
  // a partial_max on rho proves the map-side fold (the shuffle carries
  // ≤ groups×256 register rows, not the input), and the audit branch is
  // the only count-distinct
  test("a33: map-side partial register fold before the shuffle") {
    val p = planOf("a33_hll_distinct")
    assert(p.contains("partial_max(rho") &&
      !p.contains("CartesianProduct"), p)
  }

  // a34: same contract for the overlap sketch BUILD (the windows that
  // remain rank the 128-row pair unions — sketch-sized by construction)
  test("a34: KMV sketch build via aggregate") {
    val p = planOf("a34_kmv_overlap")
    assert(p.contains("kmv_sketch_agg"), p)
  }

  // a35: the cube's Expand must collapse MAP-SIDE — a partial
  // aggregate between Expand and the exchange proves the shuffle
  // carries subtotal cells, not input-rows × grouping-sets
  test("a35: Expand collapsed by a partial aggregate before the shuffle") {
    val p = planOf("a35_cube")
    assert(p.contains("Expand") && p.contains("partial_count"), p)
  }

  // a39: daily-rollup exchange + user_id window exchange only — the
  // final moment aggregate reuses the window's partitioning
  test("a39: final aggregate reuses the window exchange") {
    val p = planOf("a39_yang_zhang")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 2, p)
  }

  // a40: rank window, count window and the final per-user aggregate all
  // reuse ONE user_id exchange (the groupBy must not re-shuffle what
  // the windows already partitioned)
  test("a40: single user_id exchange for windows + final aggregate") {
    val p = planOf("a40_var_cvar")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
  }

  // a42: the data-sized work is ONE hash-agg shuffle; the CDF window
  // and final agg share the user_id partitioning (no third exchange)
  test("a42: at most two exchanges (cells agg + user window)") {
    val p = planOf("a42_ks_drift")
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 2, p)
  }

  // a43: ANALYZE is ONE scan into ONE partial+final aggregate — no
  // melt explode before the agg, no persisted intermediate, no join;
  // the sole exchange carries the fixed-width sketch partials
  test("a43: one scan, one aggregate, no persist/join") {
    val p = planOf("a43_analyze_stats")
    assert("Scan parquet".r.findAllIn(p).length == 1 &&
      "ObjectHashAggregate".r.findAllIn(p).length >= 2 &&
      !p.contains("InMemoryTableScan") && !p.contains("Join") &&
      "Exchange".r.findAllIn(p).length == 1, p)
  }

  // a45: the transition matrix is event_type^2 rows — its
  // row-normalizing join must broadcast, never re-shuffle
  test("a45: broadcast row-normalization join") {
    val p = planOf("a45_markov_transitions")
    assert(p.contains("BroadcastHashJoin") &&
      !p.contains("SortMergeJoin"), p)
  }

  // a46: grouping sets are ONE Expand + hash-agg pass over the scan —
  // a second exchange would mean the grains re-shuffled separately
  test("a46: one Expand, at most one exchange") {
    val p = planOf("a46_grouping_sets")
    assert(p.contains("Expand") &&
      "Exchange hashpartitioning".r.findAllIn(p).length <= 1, p)
  }

  // a48: the 9-row expectation dim and the 1-row total attach by
  // broadcast — any shuffle join re-keys the corpus for constants
  test("a48: broadcast-only joins") {
    val p = planOf("a48_benford")
    assert(!p.contains("SortMergeJoin") &&
      !p.contains("ShuffledHashJoin"), p)
  }

  // a50: the native sketch aggregate runs as partial+final
  // ObjectHashAggregate — the shuffle carries 256-byte register
  // buffers per (group, map task), never per-row (bucket, rho) cells
  test("a50: partial+final ObjectHashAggregate on the sketch") {
    val p = planOf("a50_hll_native")
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2, p)
  }
}

package graft

/** Plan pins for the similarity rows (sim-family) at sf0.01: every row
  * reads the materialized vector-index stage, the tiny query/probe/pool
  * side rides broadcasts against the corpus scan, and no row degrades to
  * an all-pairs product. Plans are built over the sf0.01 tables vendored
  * for the benchmark and never executed (sim17's non-vacuity `require`
  * runs one count while its frame is built).
  */
class SimilarityPlanSpec extends SparkSpec {

  private val dir = "perfbench/data"

  /** Runs `body` with `key` set to `value`, restoring the prior setting. */
  private def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  // the stage-read pins match on the scan location, which the default
  // 100-char metadata truncation would cut off
  private def planOf(n: String): String =
    withConf("spark.sql.maxMetadataStringLength", "1000") {
      SparkEntry.queries(n)(spark, dir).queryExecution.executedPlan.toString
    }

  private lazy val sim4 = planOf("sim4_ivf_topk")

  // sim4: the IVF probe join broadcasts the (NQ×P)-row probe frame
  // against the corpus — never a corpus shuffle join; the only hash
  // exchanges are the two tiny windows (probe ranking over NQ queries,
  // final top-k over the scored candidates)
  test("sim4: probes broadcast against the corpus, no shuffle join") {
    assert(sim4.contains("BroadcastHashJoin") &&
      !sim4.contains("SortMergeJoin") &&
      !sim4.contains("CartesianProduct"), sim4)
  }

  test("sim4: only the two small-side window exchanges") {
    assert("Exchange hashpartitioning".r.findAllIn(sim4).length == 2, sim4)
  }

  // the sim family reads the MATERIALIZED vector-index stage
  // (operators.EmbedStage) — no inline re-quantization / re-encoding of
  // the corpus on any query path
  test("sim2/sim4/sim6: read the materialized vector-index stage") {
    assert(planOf("sim2_ann_lsh").contains("graft_embed_stage") &&
      sim4.contains("graft_embed_stage") &&
      planOf("sim6_pq_topk").contains("graft_embed_stage"), sim4)
  }

  // sim5: the within-cluster pair space comes from the cid equi-join —
  // never a cartesian; the coarse assignment is a projection (no
  // shuffle before the pair join's own cid exchange)
  test("sim5: cid-keyed pair join, no cartesian") {
    val p = planOf("sim5_semdedup")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoop"), p)
  }

  // sim6: every join rides a broadcast of the tiny side (probes with
  // LUTs against the encoded corpus; pool + query dims against the
  // rerank scan) — the corpus is never shuffle-joined or cartesian'd
  test("sim6: probes/pool broadcast against corpus scans, no shuffle join") {
    val p = planOf("sim6_pq_topk")
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin") &&
      !p.contains("CartesianProduct"), p)
  }

  // sim9 audits the INDEX, so it must read the materialized stage (cid
  // included), never re-quantize/re-assign the corpus inline
  test("sim9: reads the vector-index stage, no cartesian") {
    val p = planOf("sim9_centroid_drift")
    assert(p.contains("graft_embed_stage") &&
      !p.contains("CartesianProduct"), p)
  }

  // sim10's corpus side must stream against BROADCAST query/pool frames
  // only (the pool is NQ×R rows by construction) — any shuffle join or
  // cartesian means the rerank pulled the corpus through an exchange
  test("sim10: pool rides broadcast joins, no cartesian") {
    val p = planOf("sim10_mmr_rerank")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin") &&
      !p.contains("ShuffledHashJoin"), p)
  }

  // sim11's Lloyd iteration: the refined centroids ride a 1-row
  // broadcast and reassignment is a per-row fold — the corpus must
  // never be exchanged by vec_id (no explode-×C + re-group, no
  // per-vector window), and no shuffle join anywhere
  test("sim11: reassignment folds in-row, corpus never keyed by vec_id") {
    val p = planOf("sim11_kmeans_refine")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin") &&
      !p.contains("hashpartitioning(vec_id"), p)
  }

  // sim12 holds sim11's invariant across every training round
  test("sim12: no corpus shuffle in any training round") {
    val p = planOf("sim12_kmeans_train")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("hashpartitioning(vec_id"), p)
  }

  // sim13: both retrieval legs must pool via TakeOrdered (top-R, never
  // a global sort/rank of the corpus) and the 1-row stat/query
  // broadcasts must never degrade to a cartesian
  test("sim13: TakeOrdered pools on both legs, no cartesian") {
    val p = planOf("sim13_hybrid_rrf")
    assert("TakeOrdered".r.findAllIn(p).length >= 2 &&
      !p.contains("CartesianProduct"), p)
  }

  // sim14: the kNN join's pair space must come from the cell equi key
  // (Σ|cell|² bounded), never an all-pairs loop over the corpus; and
  // the top-k window must rank the pair stream INSIDE the join's cid
  // partitioning (window keys (cid, query_id) — a superset of the
  // join key, so no second exchange of the Σ|cell|²-row intermediate;
  // only the two join-input exchanges may appear). That is the at-scale
  // shape, where the corpus is too big to broadcast: at sf0.01 the cid
  // join would plan as a broadcast join, so the plan is built with the
  // broadcast threshold off.
  test("sim14: cell equi-join, no all-pairs scan, no pair re-shuffle") {
    val p = withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      planOf("sim14_knn_join")
    }
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin") &&
      "Exchange hashpartitioning".r.findAllIn(p).size == 2, p)
  }

  // sim14 at the default conf: the cid join broadcasts, and the one
  // exchange left is the window's, fed by a map-side partial top-k
  // (WindowGroupLimit … Partial) so it moves ≤ k rows per query and
  // task, never the whole pair stream
  test("sim14: default conf — the one exchange sits above a partial " +
    "WindowGroupLimit") {
    val p = planOf("sim14_knn_join")
    val lines = p.linesIterator.toIndexedSeq
    val ex = lines.indexWhere(_.contains("Exchange hashpartitioning"))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1 &&
      lines.drop(ex + 1).headOption.exists(l =>
        l.contains("WindowGroupLimit") && l.trim.endsWith("Partial")), p)
  }

  // sim17: the benchmark side rides broadcasts (bucket collision,
  // candidate scoring) — no cartesian; the ONE shuffle join allowed
  // is the final corpus-universe LEFT join, whose both sides are
  // corpus-sized and co-keyed (the correct plan at any scale)
  test("sim17: benchmark broadcast, one corpus-keyed outer join") {
    val p = planOf("sim17_semantic_decon")
    assert(p.contains("BroadcastHashJoin") &&
      !p.contains("CartesianProduct") &&
      "SortMergeJoin".r.findAllIn(p).length <= 1, p)
  }
}

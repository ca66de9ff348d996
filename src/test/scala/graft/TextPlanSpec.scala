package graft

/** Plan pins for the text, dedup and mixture rows (tx-, dd- and mix-
  * families) at sf0.01: the dedup rows read the materialized signature
  * stage instead of re-shingling the corpus, skew caps are hash-aggs plus
  * broadcast anti-joins (never a window sort), pair spaces come from
  * integer-keyed equi-joins (never a cartesian), and the per-row mixture
  * decisions are broadcast-joined projections. Plans are built over the
  * sf0.01 tables vendored for the benchmark and never executed (building
  * a dedup row's frame builds the signature stage once).
  */
class TextPlanSpec extends SparkSpec {

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

  // the stage-read pins match on the scan location (the stage's
  // staged_pairs path), which the default 100-char metadata truncation
  // would cut off
  private def planOf(n: String): String =
    withConf("spark.sql.maxMetadataStringLength", "1000") {
      SparkEntry.queries(n)(spark, dir).queryExecution.executedPlan.toString
    }

  // dd5: the skew cap is a hash-agg + broadcast anti-join — NO window
  // sort over the postings; both self-join sides read the same cache
  private lazy val dd5 = planOf("dd5_ngram_jaccard")

  test("dd5: no window sort in the postings pipeline") {
    assert(!dd5.contains("Window ["), dd5)
  }

  test("dd5: both self-join sides read the postings cache") {
    assert("InMemoryTableScan".r.findAllIn(dd5).length >= 2, dd5)
  }

  // dd3/dd6 consume the MATERIALIZED signature stage (operators.DedupStage)
  // instead of re-running the md5-shingle preamble, and their banding
  // path has no window sort anywhere. dd6 additionally reads the stage's
  // PUBLISHED pair table (band join paid once at build), so its plan
  // must contain NO band explode — dd3 keeps the inline band join as the
  // timed exemplar of the same core.
  private lazy val dd6 = planOf("dd6_staged_neardup")

  test("dd6: reads the materialized signature stage") {
    assert(dd6.contains("graft_dedup_stage") &&
      planOf("dd3_minhash_lsh").contains("graft_dedup_stage"), dd6)
  }

  test("dd6: no window sort in the banding pipeline") {
    assert(!dd6.contains("Window ["), dd6)
  }

  test("dd6: reads materialized staged pairs, no inline band explode") {
    assert(dd6.contains("staged_pairs") && !dd6.contains("Generate explode") &&
      planOf("dd3_minhash_lsh").contains("Generate explode"), dd6)
  }

  // dd8: decontamination reads the staged gram hashes (no re-shingle of
  // raw text — no string split/explode of `text` in the plan) and the
  // benchmark dim rides a broadcast join, never a shuffle join of the
  // corpus side
  test("dd8: stage read + broadcast benchmark dim, no sort-merge") {
    val dd8 = planOf("dd8_decontaminate")
    assert(dd8.contains("graft_dedup_stage") &&
      dd8.contains("BroadcastHashJoin") && !dd8.contains("SortMergeJoin"), dd8)
  }

  // mix1: the per-row decision is a projection over ONE corpus scan —
  // every join in the plan is broadcast
  test("mix1: decision is broadcast-joined projection, no shuffle join") {
    val p = planOf("mix1_domain_mixture")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct") &&
      p.contains("BroadcastHashJoin"), p)
  }

  // dd9: passage stream persisted once, read by BOTH the occurrence
  // aggregate and the join probe. The count join is deliberately
  // UNHINTED: at fixture scale Catalyst broadcasts the (small, cached,
  // accurately-sized) count table, at 100 TB the same declarative plan
  // crosses the threshold and becomes a ph-keyed shuffle join — both are
  // the right strategy for their scale, so the assertion pins only the
  // scale-invariant properties (dual cache read, equi-join, never a
  // cartesian or nested loop).
  test("dd9: both count and probe read the passage cache, equi-join") {
    val dd9 = planOf("dd9_passage_dedup")
    assert("InMemoryTableScan".r.findAllIn(dd9).length >= 2 &&
      !dd9.contains("CartesianProduct") &&
      !dd9.contains("BroadcastNestedLoop"), dd9)
  }

  // mix2: same shape contract as mix1 — the per-row decision is a
  // broadcast-joined projection, never a shuffle join of the corpus
  test("mix2: decision is broadcast-joined projection, no shuffle join") {
    val p = planOf("mix2_token_budget")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct") &&
      p.contains("BroadcastHashJoin"), p)
  }

  // tx13: exactly ONE window (the per-doc top-k) — a second Window or a
  // cartesian would mean the idf join or corpus-count broadcast broke
  test("tx13: single per-doc window, no cartesian") {
    val p = planOf("tx13_tfidf")
    assert("\\bWindow \\[".r.findAllIn(p).length == 1 &&
      !p.contains("CartesianProduct"), p)
  }

  // tx9: the gram-count shuffle is keyed on the hashed (ord,g1,g2,g3)
  // long tuple — gram TEXT must never appear as a shuffle key (the
  // dedup-family rule; tx12/dd5 follow it, round-4 tx9 violated it)
  test("tx9: gram shuffle keyed on hash longs, never gram strings") {
    val p = planOf("tx9_repetition")
    assert(p.contains("g1") && !p.toLowerCase.contains("gram#"), p)
  }

  // tx15: chunk segmentation is projection + explode only — no KEYED
  // shuffle at any corpus size (the dd9 no-pairwise rule; the one
  // roundrobin exchange is Tables.fanOut spreading the single fixture
  // file across cores, absent on a real multi-file table)
  test("tx15: no keyed shuffle in the chunking plan") {
    val p = planOf("tx15_chunk_windows")
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  // dd10: the calibration audit reads the materialized signature stage
  // (never re-shingles the corpus) and its pair space is the bucketed
  // band join — no cartesian anywhere
  test("dd10: stage read + bucketed candidates, no cartesian") {
    val p = planOf("dd10_minhash_calibration")
    assert(p.contains("graft_dedup_stage") && !p.contains("CartesianProduct"),
      p)
  }

  // dd11: the containment pair space is the integer-keyed postings
  // self-join (never a cartesian), and the per-doc fingerprint-size
  // lookups ride broadcasts — the big shuffle moves only (doc_id, w)
  // long pairs, the winnowed print arrays stay inside their scan stage
  test("dd11: integer-keyed postings join, broadcast sizes, no cartesian") {
    val p = planOf("dd11_containment")
    assert(!p.contains("CartesianProduct") &&
      p.contains("Exchange hashpartitioning(w") &&
      "BroadcastHashJoin".r.findAllIn(p).length >= 2, p)
  }

  // dd12: the incremental gate reads the MATERIALIZED stage on both
  // sides (exact gate from membership, near gate from profile
  // signatures — the corpus text is never re-shingled), the batch's
  // band keys ride broadcasts, and the pair space is never a cartesian
  test("dd12: stage read on both gates, broadcast batch, no cartesian") {
    val p = planOf("dd12_incremental_dedup")
    assert(p.contains("graft_dedup_stage") && !p.contains("CartesianProduct") &&
      "BroadcastHashJoin".r.findAllIn(p).length >= 2, p)
  }

  // mix4: the rank window partitions by source — the data-sized
  // window must never run on a single partition (the 8-row audit
  // window above the shard aggregate is the only global step)
  test("mix4: size-rank window partitioned by source, no cartesian") {
    val p = planOf("mix4_shard_snake")
    assert(p.contains("Exchange hashpartitioning(source") &&
      !p.contains("CartesianProduct"), p)
  }

  // mix5: the rank-filter pushes down as WindowGroupLimit — each
  // partition pre-selects its top-k BEFORE the source exchange, so the
  // shuffle carries ~k rows per partition, not the corpus
  test("mix5: WindowGroupLimit pushdown on the weighted-sample rank") {
    val p = planOf("mix5_weighted_sample")
    assert(p.contains("WindowGroupLimit") && !p.contains("CartesianProduct"),
      p)
  }

  // mix6's LM count tables must BROADCAST onto the token stream (they
  // are ≤ B rows by the hash-bucket construction) — a shuffle join
  // there would re-key the whole token explosion
  test("mix6: LM dims broadcast, token stream never shuffle-joined") {
    val p = planOf("mix6_dsir_select")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin") &&
      !p.contains("CartesianProduct"), p)
  }

  // dd13: the canonical pick must not broadcast the (unbounded)
  // cluster membership — only the cluster-size dim rides broadcast
  test("dd13: no cartesian in the canonical selection") {
    val p = planOf("dd13_cluster_canonical")
    assert(!p.contains("CartesianProduct"), p)
  }
}

package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: prints formatted physical plans for scale-critical queries so
  * plan regressions (lost pushdown, missed broadcast, extra exchanges) are
  * visible, and runs a small set of hard plan assertions (exit code 1 on
  * regression). Usage: runMain graft.Plans [queryName ...]
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder("local[4]", "4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // plan-string assertions match on scan locations (e.g. pl28's MV
    // path), which the default 100-char metadata truncation would cut off
    spark.conf.set("spark.sql.maxMetadataStringLength", "1000")
    val names = if (args.nonEmpty) args.toSeq
      else Seq("s1_scan_pushdown", "j2_broadcast_dim_join", "pl6_feature_battery",
               "w5_lag_battery", "w5b_lag_battery_dst", "j7_asof_join",
               "pl14_gold_full", "sim2_ann_lsh", "dd3_minhash_lsh")
    val qs = SparkEntry.queries
    names.foreach { n =>
      println(s"\n========== $n ==========")
      qs(n)(spark, "/root/testdata/sf0.01").explain("formatted")
    }

    // Hard assertions on scale-critical plan properties.
    def planOf(n: String): String =
      qs(n)(spark, "/root/testdata/sf0.01").queryExecution.executedPlan.toString
    var failed = 0
    def check(label: String)(ok: Boolean): Unit = {
      println(s"[plans] ${if (ok) "OK  " else "FAIL"} $label")
      if (!ok) failed += 1
    }
    // predicate pushdown reaches the parquet scan
    check("s1: filters pushed to scan") {
      planOf("s1_scan_pushdown").contains("PushedFilters: [")
    }
    // dimension joins broadcast (no shuffle of the fact side)
    check("j2: broadcast hash join") {
      planOf("j2_broadcast_dim_join").contains("BroadcastHashJoin")
    }
    // the window battery reuses ONE hash exchange (no per-horizon shuffle)
    check("w5: single exchange for the lag battery") {
      "Exchange hashpartitioning".r
        .findAllIn(planOf("w5_lag_battery")).length == 1
    }
    // top-k compiles to TakeOrdered, not global sort
    check("o2: TakeOrderedAndProject") {
      planOf("o2_topk").contains("TakeOrdered")
    }
    // head-N preview is a bare CollectLimit over the scan — no sort, no
    // heap (the o4 contract: preview cost is O(n) rows fetched, period)
    check("o4: unordered head is CollectLimit, no Sort") {
      val p = planOf("o4_head_preview")
      p.contains("CollectLimit") && !p.contains("Sort") &&
        !p.contains("TakeOrdered")
    }
    // the fused Gold pass: the daily substrate joins broadcast (never a
    // shuffle join), and the whole window battery shares ONE sort — a
    // second Sort would mean a feature broke the shared (user, ts) frame
    val pl16 = planOf("pl16_gold_fused")
    check("pl16: substrate joins broadcast, no shuffle join") {
      pl16.contains("BroadcastHashJoin") && !pl16.contains("SortMergeJoin")
    }
    check("pl16: one shared Sort under the window chain") {
      "\\bSort \\[".r.findAllIn(pl16).length == 1 &&
        "\\bWindow \\[".r.findAllIn(pl16).length >= 3
    }
    // j10: the salted join must actually exercise the salted-shuffle path —
    // a ShuffledHashJoin keyed on (user_id, salt), NOT a broadcast (which
    // would make the salt decorative) and NOT a sort-merge (the hint asks
    // for hash); the replicated dim's explode is distributed
    val j10 = planOf("j10_salted_skew_join")
    check("j10: shuffled hash join on the salted key, no broadcast join") {
      j10.contains("ShuffledHashJoin") && j10.contains("__salt") &&
        !j10.contains("BroadcastHashJoin")
    }
    // j10 under AQE: the string above is the INITIAL plan; AQE may replan
    // joins at runtime from observed shuffle statistics, and a runtime
    // broadcast conversion would make the salt decorative (the exact
    // failure the salted join exists to prevent would be decided by the
    // optimizer, not the operator). Execute the query with AQE on (the
    // session default) and assert the FINAL adaptive plan still carries
    // the salted shuffled-hash join — the shuffle_hash hint must survive
    // replanning.
    check("j10: salted shuffle survives AQE replanning (final plan)") {
      val df = qs("j10_salted_skew_join")(spark, "/root/testdata/sf0.01")
      // execute THIS df's QueryExecution (a write would plan a fresh one
      // that never runs AQE's replanning on the instance we inspect)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(spark.conf.get("spark.sql.adaptive.enabled") == "true",
        "AQE must be on for this check to mean anything")
      val finalSection = p.indexOf("== Final Plan ==") match {
        case -1 => p // not adaptive — assert on the whole plan
        case i => p.substring(i,
          math.max(i, p.indexOf("== Initial Plan ==")).max(i + 1))
      }
      p.contains("isFinalPlan=true") &&
        finalSection.contains("ShuffledHashJoin") &&
        finalSection.contains("__salt") &&
        !finalSection.contains("BroadcastHashJoin")
    }
    // w17: the index joins broadcast (never a data shuffle join) and the
    // lag + rolling-moment windows share ONE Sort — a second Sort would
    // mean the two window frames stopped sharing the (user_id, day) order
    val w17 = planOf("w17_rolling_beta")
    check("w17: broadcast index join, one shared Sort under both windows") {
      w17.contains("BroadcastHashJoin") && !w17.contains("SortMergeJoin") &&
        "\\bSort \\[".r.findAllIn(w17).length == 1 &&
        "\\bWindow \\[".r.findAllIn(w17).length == 2
    }
    // o6: keyset pagination — the cursor predicate reaches the scan and
    // the page compiles to TakeOrdered (each page is O(page), no matter
    // how deep the cursor: the whole point vs OFFSET)
    check("o6: cursor predicate pushed, page is TakeOrdered") {
      val p = planOf("o6_keyset_page")
      p.contains("TakeOrdered") && p.contains("PushedFilters: [Or(")
    }
    // j11: the Bloom filter rides a ONE-ROW broadcast (always a
    // BroadcastNestedLoopJoin, at any scale) onto the fact scan; nothing
    // in the plan is a cartesian
    check("j11: bloom rides a 1-row broadcast, no cartesian") {
      val p = planOf("j11_bloom_prune")
      p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct")
    }
    // mm1: media metadata + offset sampling is a pure projection + a
    // 4-element explode — ZERO exchanges of any kind; the payload bytes
    // never leave the scan
    check("mm1: zero shuffles in the media-metadata plan") {
      !planOf("mm1_media_metadata").contains("Exchange")
    }
    // j12: the star rollup — the region predicate is pushed into the
    // dimension scan and the dims ride broadcast joins; never a
    // cartesian. (The orders⋈lineitem join broadcasts at fixture scale
    // and becomes the one orderkey exchange at 100 TB — both are right
    // for their scale, so only scale-invariant properties are pinned.)
    check("j12: region filter pushed, dims broadcast, no cartesian") {
      val p = planOf("j12_star_revenue")
      p.contains("EqualTo(r_name,ASIA)") &&
        "BroadcastHashJoin".r.findAllIn(p).length >= 2 &&
        !p.contains("CartesianProduct")
    }
    // g1's rounds are lineage-cut per iteration (the ConnectedComponents
    // doctrine): the final plan must read the checkpointed rank frame, not
    // restack 8 iterations of joins into one tree
    check("g1: iteration lineage cut (final plan reads checkpointed ranks)") {
      planOf("g1_pagerank").contains("ExistingRDD")
    }
    // g2's triangle enumeration: integer-keyed equi-joins only — a
    // CartesianProduct here means a join key degenerated to a filter
    check("g2: triangle joins integer-keyed, no cartesian") {
      val p = planOf("g2_triangle_count")
      !p.contains("CartesianProduct") && p.contains("Exchange hashpartitioning")
    }
    // j14's candidate generation is token-BLOCKED: every join is an
    // equi-join on the blocking key / entity name — an all-pairs verify
    // would surface as a cartesian
    check("j14: blocked equi-joins only, no cartesian") {
      !planOf("j14_fuzzy_blocking").contains("CartesianProduct")
    }
    // w26: the lag window and the running-sum window share the SAME
    // (user_id / ts,event_id) partitioning+ordering — one exchange for
    // the whole indicator, a second would mean the frames diverged
    check("w26: one shared exchange for lag + cumulative windows") {
      "Exchange hashpartitioning".r.findAllIn(planOf("w26_obv")).length == 1
    }
    // w27: the OHLC rollup and the oscillator windows are the only
    // keyed exchanges (%K quantization and %D stay in the window stage)
    check("w27: two keyed exchanges (rollup + window stage)") {
      "Exchange hashpartitioning".r
        .findAllIn(planOf("w27_stochastic")).length == 2
    }
    // mm2: the per-kind manifest rollup is ONE hash aggregate — the only
    // exchange is the |kinds|-row partial-agg shuffle (plus fanOut-free
    // scan), never a sort or join
    check("mm2: single aggregate exchange, no join/sort") {
      val p = planOf("mm2_kind_rollup")
      "Exchange hashpartitioning".r.findAllIn(p).length == 1 &&
        !p.contains("Join") && !p.contains("CartesianProduct")
    }
    // mm3: the frame→vector association is an equi-join on vec_id (never a
    // cartesian). The guarded property is purely NEGATIVE plus the
    // equi-join's presence — the 1-row n_vecs attachment may legally plan
    // as BroadcastNestedLoopJoin or anything else non-cartesian Spark/AQE
    // picks, so no specific operator is required for it.
    check("mm3: vec_id equi-join present, no cartesian") {
      val p = planOf("mm3_frame_vector_join")
      !p.contains("CartesianProduct") &&
        (p.contains("BroadcastHashJoin") || p.contains("ShuffledHashJoin") ||
          p.contains("SortMergeJoin"))
    }
    // multimodal payload pruning: a metadata-only projection over a REAL
    // binary-payload parquet table must not read the payload column at the
    // scan (columnar prune — at 100 TB this is "scan KBs of metadata, not
    // TBs of media bytes")
    check("multimodal: metadata-only scan prunes the binary payload column") {
      import org.apache.spark.sql.Row
      import graft.operators.Multimodal
      val tmp = Sinks.dir(spark, "plans_media")
      val rows = (1L to 64L).map { i =>
        Row(i, Seq("image", "audio", "video")(i.toInt % 3),
          Array.fill[Byte](128)((i % 127).toByte),
          if (i % 3 == 0) Int.box(640) else null,
          if (i % 3 == 0) Int.box(480) else null,
          if (i % 3 != 0) Long.box(i * 1000L) else null)
      }
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 2), Multimodal.mediaSchema)
        .write.mode("overwrite").parquet(tmp)
      val plan = spark.read.parquet(tmp)
        .groupBy("kind").count()
        .queryExecution.executedPlan.toString
      val scanLines = plan.linesIterator
        .filter(l => l.contains("ReadSchema")).toSeq
      scanLines.nonEmpty && scanLines.forall { l =>
        val schema = l.substring(l.indexOf("ReadSchema"))
        schema.contains("kind") && !schema.contains("payload")
      }
    }
    // mm4's shape over a REAL binary table: chunk-checksum dedup groups on
    // the STORED checksum metadata column — the payload bytes must stay
    // pruned at the scan (at 100 TB the dedup pass reads digests, not
    // media)
    check("mm4 shape: checksum dedup scan prunes the binary payload column") {
      import org.apache.spark.sql.functions.{col, count, lit, md5, min}
      val tmp = Sinks.dir(spark, "plans_media_ck")
      spark.read.parquet(Sinks.dir(spark, "plans_media"))
        .withColumn("chunk_checksum", md5(col("payload")))
        .write.mode("overwrite").parquet(tmp)
      val plan = spark.read.parquet(tmp)
        .groupBy("chunk_checksum")
        .agg(min("media_id"), count(lit(1)).as("n"))
        .filter(col("n") > 1)
        .queryExecution.executedPlan.toString
      val scanLines = plan.linesIterator
        .filter(l => l.contains("ReadSchema")).toSeq
      scanLines.nonEmpty && scanLines.forall { l =>
        val schema = l.substring(l.indexOf("ReadSchema"))
        schema.contains("chunk_checksum") && !schema.contains("payload")
      }
    }
    // u8's contract at the I/O layer: the incremental read SCHEDULES only
    // the files the later commits added — the manifest set-difference
    // decides before any scan task exists (tailing a 100 TB table costs
    // the appended bytes)
    check("u8 shape: incremental append scan reads only the added files") {
      import org.apache.spark.sql.functions.input_file_name
      import graft.operators.SnapshotTable
      val t = Sinks.dir(spark, "plans_incr")
      val p = new org.apache.hadoop.fs.Path(t)
      val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      SnapshotTable.commit(spark, spark.range(0, 100).toDF("id")
        .repartition(4), t)
      SnapshotTable.commit(spark, spark.range(100, 120).toDF("id")
        .repartition(2), t, replace = false)
      val added = SnapshotTable.entries(spark, t, Some(2)).size -
        SnapshotTable.entries(spark, t, Some(1)).size
      val readFiles = SnapshotTable.readAppendsSince(spark, t, 1)
        .select(input_file_name()).distinct().count()
      added == 2 && readFiles == added
    }
    // j16: the key-free interval join must ride the bucket EQUI key
    // (hash/SMJ/broadcast-hash — partition-parallel at any scale), never
    // a nested-loop/cartesian range scan
    check("j16: bucket equi-join, no nested-loop range scan") {
      val p = planOf("j16_grid_interval_join")
      !p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct")
    }
    // pl26: both sides are WRITTEN bucketed on the join key, so the
    // SortMergeJoin must consume the bucket layout directly — any
    // Exchange here means the layout-level shuffle elimination (the
    // whole point of bucketing a 100 TB fact table) silently broke
    check("pl26: bucketed SMJ, zero exchanges") {
      val p = planOf("pl26_bucketed_join")
      p.contains("SortMergeJoin") && !p.contains("Exchange")
    }
    // j17: the fact scan's PartitionFilters must carry the runtime
    // dim-derived day set — without it the partitioned fact is read in
    // full and the row proves nothing
    check("j17: dynamic partition pruning on the fact scan") {
      planOf("j17_dpp_prune").toLowerCase.contains("dynamicpruning")
    }
    // pl27: the native session rollup is one user-keyed exchange (the
    // hand-rolled pl2 needs the same exchange TWICE: lag pass + agg)
    check("pl27: single exchange for the native session window") {
      "Exchange hashpartitioning".r
        .findAllIn(planOf("pl27_native_session")).length == 1
    }
    // w28: the RANGE frame costs the same single user-keyed exchange
    // as any ROWS battery — a second exchange means the frame mode
    // broke the shared partitioning
    check("w28: single exchange for the RANGE frame") {
      "Exchange hashpartitioning".r
        .findAllIn(planOf("w28_range_frame")).length == 1
    }
    // pl28: the MV rewrite must answer from the summary scan; the base
    // fact table never opens
    check("pl28: aggregate answered from the MV, base table unread") {
      val p = planOf("pl28_mv_rewrite")
      p.contains("mv_counts") && !p.contains("events.parquet")
    }
    // o8: the custom whole-operator top-k — partial heap BELOW the one
    // group-key exchange, final heap above, zero Window/Sort machinery
    // (the stock plan would Sort every partition end to end)
    check("o8: partial+final GroupTopK around one exchange, no sort") {
      val p = planOf("o8_group_topk")
      "GroupTopK \\[".r.findAllIn(p).length == 2 &&
        "Exchange hashpartitioning".r.findAllIn(p).length == 1 &&
        !p.contains("Window") && !"\\bSort \\[".r.findAllIn(p).hasNext
    }
    // sql3: the correlated scalar subquery must DECORRELATE — one
    // per-part aggregate equi-joined back to the fact (two lineitem
    // scans total), never a per-row subquery re-scan
    check("sql3: subquery decorrelated to aggregate + equi-join") {
      val p = planOf("sql3_decorrelated_subquery")
      !p.contains("Subquery") &&
        (p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
          p.contains("ShuffledHashJoin")) &&
        "Scan parquet".r.findAllIn(p).length == 2
    }
    // sql4: the parser-tier ASOF sugar must lower to the union+ffill
    // window plan — a Window over one hash exchange — and NEVER a range
    // join (BroadcastNestedLoopJoin/CartesianProduct would mean the
    // O(left×right) lowering a naive ASOF implementation produces)
    check("sql4: ASOF sugar lowers to window ffill, not a range join") {
      val p = planOf("sql4_asof_sugar")
      (p.contains("RunningWindowFunction") || p.contains("Window")) &&
        !p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin")
    }
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}

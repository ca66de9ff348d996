package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.{GroupTopK, GroupTopKPlan}

/** The custom whole-operator extension (logical node + injected rewrite +
  * injected strategy + bounded-heap physical operator) against the stock
  * window-rank plan it replaces — same rows on every shape, including the
  * corners where heap pruning could plausibly diverge from rank semantics:
  * null group keys, null order values, ties resolved by the tiebreak, k
  * larger than the group, and arbitrary input partitioning (the partial
  * pre-shuffle heap must never drop a true top-k row).
  */
class GroupTopKSpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic synthetic frame: 7 groups (one NULL), duplicate values
    * inside groups (exercises the tiebreak), one group smaller than k,
    * null order values (sort last under DESC NULLS LAST).
    */
  private def frame: DataFrame = {
    val rows = for {
      g <- 0 until 7
      i <- 0 until (if (g == 6) 2 else 20)
    } yield (
      if (g == 5) None else Some(g.toLong),
      (g * 100 + i).toLong,
      if (i % 11 == 10) None else Some(((i * 37) % 13).toDouble))
    rows.toDF("grp", "id", "v")
  }

  private def declarative(df: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("grp"))
      .orderBy(col("v").desc_nulls_last, col("id"))
    df.withColumn("rn", row_number().over(w)).filter(col("rn") <= k).drop("rn")
  }

  private def sortedRows(df: DataFrame) =
    df.orderBy("grp", "id").collect().toSeq

  test("rewrite fires on the marker shape and plans heap execs, no window") {
    val out = GroupTopK.topK(frame, 3,
      Seq(col("grp")), Seq(col("v").desc_nulls_last, col("id")))
    val logical = out.queryExecution.optimizedPlan
    assert(logical.collect { case g: GroupTopKPlan => g }.nonEmpty,
      s"expected GroupTopKPlan in:\n$logical")
    val phys = out.queryExecution.executedPlan.toString
    assert("GroupTopK \\[".r.findAllIn(phys).length == 2,
      s"expected partial+final GroupTopKExec in:\n$phys")
    assert(!phys.contains("Window"), s"window machinery survived:\n$phys")
  }

  test("matches the declarative window-rank result (nulls, ties, small group)") {
    val byOp = GroupTopK.topK(frame, 3,
      Seq(col("grp")), Seq(col("v").desc_nulls_last, col("id")))
    assert(sortedRows(byOp) == sortedRows(declarative(frame, 3)))
  }

  test("k >= group size keeps every row") {
    val byOp = GroupTopK.topK(frame, 1000,
      Seq(col("grp")), Seq(col("v").desc_nulls_last, col("id")))
    assert(sortedRows(byOp) == sortedRows(frame))
  }

  test("partial heap pruning is partitioning-invariant") {
    val expected = sortedRows(declarative(frame, 4))
    for (parts <- Seq(1, 3, 16)) {
      val shuffled = frame.repartition(parts, col("id"))
      val byOp = GroupTopK.topK(shuffled, 4,
        Seq(col("grp")), Seq(col("v").desc_nulls_last, col("id")))
      assert(sortedRows(byOp) == expected, s"diverged at $parts partitions")
    }
  }

  test("ascending order and multi-column grouping work") {
    val df = frame.withColumn("g2", col("id") % 2)
    val w = Window.partitionBy(col("grp"), col("g2"))
      .orderBy(col("v").asc_nulls_first, col("id"))
    val expected = sortedRows(df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2).drop("rn"))
    val byOp = GroupTopK.topK(df, 2, Seq(col("grp"), col("g2")),
      Seq(col("v").asc_nulls_first, col("id")))
    assert(sortedRows(byOp) == expected)
  }

  test("partial group-cap overflow streams through and stays exact") {
    // force the memory-bound fallback: with a 2-group cap and 7 groups,
    // most partial-side rows stream through unpruned — the final exec
    // must still produce the exact answer
    val key = graft.plans.GroupTopKExec.MaxPartialGroupsKey
    spark.conf.set(key, 2)
    try {
      val expected = sortedRows(declarative(frame, 3))
      val byOp = GroupTopK.topK(frame.repartition(5, col("id")), 3,
        Seq(col("grp")), Seq(col("v").desc_nulls_last, col("id")))
      assert(sortedRows(byOp) == expected)
    } finally spark.conf.unset(key)
  }

  test("negative space: non-marker plans keep the stock window path") {
    // same shape, but the rank column is KEPT — no rewrite may fire
    val w = Window.partitionBy(col("grp"))
      .orderBy(col("v").desc_nulls_last, col("id"))
    val kept = frame.withColumn(GroupTopK.Marker, row_number().over(w))
      .filter(col(GroupTopK.Marker) <= 3)
    assert(kept.queryExecution.optimizedPlan
      .collect { case g: GroupTopKPlan => g }.isEmpty,
      "rewrite must not fire when the rank column is in the output")
    // rank() under the marker name — ties overflow k, so no rewrite
    val ranked = frame.withColumn(GroupTopK.Marker, rank().over(w))
      .filter(col(GroupTopK.Marker) <= 3).drop(GroupTopK.Marker)
    assert(ranked.queryExecution.optimizedPlan
      .collect { case g: GroupTopKPlan => g }.isEmpty,
      "rewrite must not fire on rank()")
    // an ordinary window under a different name — untouched
    val plain = frame.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3).drop("rn")
    assert(plain.queryExecution.optimizedPlan
      .collect { case g: GroupTopKPlan => g }.isEmpty,
      "rewrite must not fire without the reserved marker name")
  }
}

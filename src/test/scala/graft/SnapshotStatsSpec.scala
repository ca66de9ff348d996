package graft

import graft.operators.SnapshotTable
import org.apache.spark.sql.functions._

/** Manifest min/max file stats + pruned reads: the scan-skipping layer.
  * Invariants pinned here:
  *   - recorded per-file stats equal the true per-file min/max;
  *   - a range read prunes files whose range cannot intersect, and the
  *     pruned read + row filter ≡ full read + row filter (never loses
  *     rows);
  *   - files without stats are always kept (conservative);
  *   - append commits preserve existing entries' stats verbatim;
  *   - stats come from the written files' parquet footers: recording them
  *     launches no Spark job, dates record epoch days, and a column the
  *     footer can't decide records nothing. */
class SnapshotStatsSpec extends SparkSpec {
  import SnapshotTable._

  private def tbl() =
    java.nio.file.Files.createTempDirectory("graft_snapstats")
      .toString + "/t"

  /** 40 rows of (id, v) range-partitioned into 4 files by v, so each
    * file covers a disjoint v decade. */
  private def rangedDf = {
    val s = spark
    import s.implicits._
    (0L until 40L).map(i => (i, i)).toDF("id", "v")
      .repartitionByRange(4, col("v"))
  }

  test("recorded stats equal true per-file min/max") {
    val t = tbl()
    commit(spark, rangedDf, t, statsCols = Seq("v"))
    val es = entries(spark, t)
    assert(es.size == 4)
    es.foreach { e =>
      val (mn, mx) = e.stats("v")
      val actual = spark.read.parquet(s"$t/${e.path}")
        .agg(min("v"), max("v")).head()
      assert(mn == BigDecimal(actual.getLong(0)), e.path)
      assert(mx == BigDecimal(actual.getLong(1)), e.path)
    }
  }

  test("range read prunes non-intersecting files, result is equivalent") {
    val t = tbl()
    commit(spark, rangedDf, t, statsCols = Seq("v"))
    val lo = BigDecimal(12); val hi = BigDecimal(17)
    val keptFiles = entries(spark, t).count { e =>
      val (mn, mx) = e.stats("v"); mx >= lo && mn <= hi
    }
    assert(keptFiles < 4, "a 6-wide range must not touch all 4 decades")

    val pruned = readPruned(spark, t, "v", Some(lo), Some(hi))
    // the pruned frame reads exactly the kept files
    assert(pruned.inputFiles.length == keptFiles)
    val got = pruned.filter(col("v").between(12, 17))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    val want = read(spark, t).filter(col("v").between(12, 17))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == want && want.size == 6)
  }

  test("open bounds and full-prune keep semantics") {
    val t = tbl()
    commit(spark, rangedDf, t, statsCols = Seq("v"))
    // open lower bound: everything ≤ 5 → only the first decade's file
    assert(readPruned(spark, t, "v", None, Some(BigDecimal(5)))
      .inputFiles.length == 1)
    // fully out-of-range: zero files survive but the schema does
    val none = readPruned(spark, t, "v", Some(BigDecimal(1000)), None)
    assert(none.count() == 0 &&
      none.columns.toSeq == Seq("id", "v"))
  }

  test("files without stats are never pruned") {
    val t = tbl()
    commit(spark, rangedDf, t) // no statsCols
    val pruned = readPruned(spark, t, "v",
      Some(BigDecimal(12)), Some(BigDecimal(17)))
    assert(pruned.inputFiles.length == 4, "statless files must all survive")
    assert(pruned.filter(col("v").between(12, 17)).count() == 6)
  }

  test("append preserves existing stats and adds the new file's") {
    val s = spark
    import s.implicits._
    val t = tbl()
    commit(spark, rangedDf, t, statsCols = Seq("v"))
    commit(spark, Seq((100L, 100L)).toDF("id", "v").coalesce(1), t,
      replace = false, statsCols = Seq("v"))
    val es = entries(spark, t)
    assert(es.size == 5)
    assert(es.forall(_.stats.contains("v")))
    // only the appended file covers 100
    assert(readPruned(spark, t, "v", Some(BigDecimal(100)), None)
      .inputFiles.length == 1)
    // pruned union still sees every row
    assert(readPruned(spark, t, "v", None, None).count() == 41)
  }

  test("recording stats launches no extra Spark job") {
    val plain = jobsDuring(commit(spark, rangedDf, tbl()))
    val withStats = jobsDuring(
      commit(spark, rangedDf, tbl(), statsCols = Seq("id", "v")))
    assert(withStats <= plain,
      s"$withStats jobs with statsCols vs $plain without")
  }

  test("date stats are epoch days; undecidable columns record none") {
    val s = spark
    import s.implicits._
    val t = tbl()
    val df = Seq(("2024-01-02", 1.5), ("2024-01-09", 2.5)).toDF("d", "x")
      .select(to_date(col("d")).as("day"), col("x")).coalesce(1)
    commit(spark, df, t, statsCols = Seq("day", "x"))
    val es = entries(spark, t)
    assert(es.size == 1)
    val day = java.time.LocalDate.parse(_: String).toEpochDay
    assert(es.head.stats == Map("day" ->
      (BigDecimal(day("2024-01-02")), BigDecimal(day("2024-01-09")))))
    assert(readPruned(spark, t, "day", Some(BigDecimal(day("2024-01-10"))),
      None).inputFiles.isEmpty)
    // no stats for x: the file survives any range on it
    assert(readPruned(spark, t, "x", Some(BigDecimal(100)), None)
      .inputFiles.length == 1)
  }
}

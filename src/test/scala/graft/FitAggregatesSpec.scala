package graft

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._

/** The fused trainer aggregates (tree_fit3 / gbt_fit4 / logit_fit4 /
  * forest_fit8) share one buffer, graft.functions.CellAggregate: a cell
  * multiset that drops any row with a null argument, and every eval
  * iteration runs over sorted maps, so partial-buffer ARRIVAL ORDER must
  * not matter. This spec drives each aggregate through radically
  * different physical layouts (1 partition vs 13 partitions vs reversed
  * input order, plus the frame with extra null-argument rows) and asserts
  * bit-identical results — the property that makes the fused rows
  * replayable at any cluster parallelism. It also pins the base's
  * argument check: a wrong arity or type fails analysis by name.
  */
class FitAggregatesSpec extends SparkSpec {

  import spark.implicits._

  // a synthetic cell grid with duplicate (x1, x2) cells across groups,
  // score ties, and a group too small to split at depth 3
  private lazy val cells: DataFrame = {
    val rows = for {
      g <- Seq("a", "b", "c")
      x1 <- 0L until (if (g == "c") 1L else 6L)
      x2 <- 1L to (if (g == "c") 1L else 4L)
    } yield (g, x1, x2, 3L + (x1 * 7 + x2 * 3) % 5,
      (x1 * 5 + x2 * 11) % 3)
    rows.toDF("g", "x1", "x2", "n", "yc")
  }

  private def run(aggExpr: String, df: DataFrame): Seq[Seq[Any]] =
    df.groupBy("g").agg(expr(aggExpr).as("t"))
      .collect().map(_.toSeq.map {
        case r: org.apache.spark.sql.Row => r.toString
        case s: Seq[_] => s.map(_.toString).toString
        case other => String.valueOf(other)
      }).sortBy(_.mkString("|")).map(_.asInstanceOf[Seq[Any]]).toSeq

  // the frame plus, per argument column, a copy of every row with a null
  // in that column: each such row must be dropped
  private def withNullRows(df: DataFrame): DataFrame =
    df.columns.filter(_ != "g").foldLeft(df) { (acc, c) =>
      acc.unionByName(df.withColumn(c, lit(null).cast("long")))
    }

  private def layouts(df: DataFrame): Seq[DataFrame] = Seq(
    df.coalesce(1),
    df.repartition(13, col("x1")),
    df.orderBy(col("x2").desc, col("x1").desc).coalesce(2),
    withNullRows(df).repartition(5))

  test("tree_fit3 / gbt_fit4 / logit_fit4 are layout-invariant") {
    for (agg <- Seq("tree_fit3(x1, x2, n, yc)", "gbt_fit4(x1, x2, n, yc)",
                    "logit_fit4(x1, x2, n, yc)")) {
      val results = layouts(cells).map(run(agg, _))
      assert(results.distinct.size == 1,
        s"$agg: results differ across layouts or with null-argument rows")
      assert(results.head.nonEmpty)
    }
  }

  test("forest_fit8 is layout-invariant") {
    // widen the cell schema to the forest grid shape (2 trees suffice)
    val f = cells.withColumn("tree", explode(array(lit(0L), lit(1L))))
      .select(col("g"), col("tree"),
        (col("tree") % 2 + 1).as("feat"), col("x1"), col("x2"),
        col("n").as("wn"), col("yc").as("wy"),
        (col("n") / 2).cast("long").as("c0"),
        (col("yc") / 2).cast("long").as("p0"),
        (col("n") + 1).as("cnt"), col("yc").as("cy"))
    val agg = "forest_fit8(tree, feat, x1, x2, wn, wy, c0, p0, cnt, cy)"
    val results = layouts(f).map(run(agg, _))
    assert(results.distinct.size == 1,
      "forest_fit8: results differ across layouts or with null-argument rows")
    assert(results.head.nonEmpty)
  }

  test("a wrong-arity or non-bigint trainer call fails analysis by name") {
    val cellArgs = Seq("x1", "x2", "n", "yc")
    val f = cells.withColumn("tree", lit(0L)).withColumn("feat", lit(1L))
    // (name, the columns its error must list, bigint arguments to call with)
    for ((name, sig, args) <- Seq(
        ("tree_fit3", cellArgs, cellArgs),
        ("gbt_fit4", cellArgs, cellArgs),
        ("logit_fit4", cellArgs, cellArgs),
        ("forest_fit8",
          Seq("tree", "feat", "x1", "x2", "wn", "wy", "c0", "p0", "cnt", "cy"),
          Seq("tree", "feat", "x1", "x2", "n", "yc", "n", "yc", "n", "yc")))) {
      val expected =
        s"$name expects ${sig.length} bigint columns (${sig.mkString(", ")})"
      val calls = Seq(
        s"$name(${args.init.mkString(", ")})",
        s"$name(cast(${args.head} as int), ${args.tail.mkString(", ")})")
      for (call <- calls) {
        val e = intercept[AnalysisException](
          f.groupBy("g").agg(expr(call).as("t")))
        assert(e.getMessage.contains(expected), s"$call: ${e.getMessage}")
      }
    }
  }
}

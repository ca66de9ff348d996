package graft

import org.apache.spark.sql.functions._

import graft.{HistogramWalk => Walk}

/** The shared histogram walk (graft.HistogramWalk): exact percentile and
  * middle order statistics per group, and a per-group domain guard that
  * fails the query with an error naming the row.
  */
class HistogramWalkSpec extends SparkSpec {

  private def messages(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(x => Option(x.getMessage).getOrElse("")).toSeq

  test("picks the exact order statistics per group") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(3)
    val rows = Seq.fill(400)((s"g${rnd.nextInt(3)}", rnd.nextInt(40).toLong))
    val got = Walk.walk(rows.toDF("g", "v"), Seq("g"), "v", "spec")(
        "n" -> max("n"), "p25" -> Walk.pick(Walk.pct(25), "v"),
        "p90" -> Walk.pick(Walk.pct(90), "v"), "med2" -> Walk.median2("v"))
      .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    rows.groupBy(_._1).foreach { case (g, rs) =>
      val v = rs.map(_._2).sorted
      val n = v.size
      def at(rank: Int) = v(rank - 1) // 1-based order statistic
      assert(got(g) == Seq(n.toLong, at((n * 25 + 99) / 100),
        at((n * 90 + 99) / 100), at((n + 1) / 2) + at((n + 2) / 2)), g)
    }
  }

  test("refuses a group with more cells than the bound, naming the row") {
    val s = spark
    import s.implicits._
    // 16 cells in all but 8 per group: the bound is per group
    val ok = (0L until 16L).map(v => (s"g${v % 2}", v)).toDF("g", "v")
    assert(Walk.walk(ok, Seq("g"), "v", "a29_gini", bound = 10L)(
      "med2" -> Walk.median2("v")).count() == 2)
    // one group of 50 cells next to a small one
    val wide = ((1L to 50L).map(v => ("wide", v)) :+ ("small", 1L))
      .toDF("g", "v")
    for (row <- Seq("a29_gini", "a30_mad_outliers")) {
      val e = intercept[Exception] {
        Walk.walk(wide, Seq("g"), "v", row, bound = 10L)(
          "med2" -> Walk.median2("v")).collect()
      }
      assert(messages(e).exists(m =>
        m.contains(s"$row: the v histogram exceeds 10 cells per group")),
        messages(e).mkString("\n"))
    }
  }
}

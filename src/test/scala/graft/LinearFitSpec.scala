package graft

import graft.LinearFit._
import org.apache.spark.sql.functions._

/** The shared linear-fit primitives (graft.LinearFit):
  *  - the moment → de-scale → Cramer chain recovers the coefficients of an
  *    exactly linear frame bit for bit;
  *  - each oracle text, evaluated by Spark SQL, gives the same doubles and
  *    longs as its Column twin on random inputs — the two spellings are
  *    one expression tree.
  */
class LinearFitSpec extends SparkSpec {

  test("an exactly linear frame fits back to its coefficients") {
    val s = spark
    import s.implicits._
    // every hour on 14 consecutive days: value = 1.25 + 0.5·hour − 0.75·dow
    // in quarters, so every moment, de-scaled sum and determinant is an
    // exact double and the Cramer quotients are the coefficients
    val t0 = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
    val rows = for (day <- 0 until 14; h <- 0 until 24) yield {
      val t = t0.plusDays(day).plusHours(h)
      val dow = t.getDayOfWeek.getValue % 7 + 1 // Spark: Sunday = 1
      ("a", java.sql.Timestamp.valueOf(t), 1.25 + 0.5 * h - 0.75 * dow)
    }
    val fit = fitOls(rows.toDF("event_type", "ts", "value")).collect()
    assert(fit.length == 1)
    val r = fit.head
    assert(r.getAs[Long]("n_train") == 14 * 24)
    assert(r.getAs[Double]("b0") == 1.25)
    assert(r.getAs[Double]("b1") == 0.5)
    assert(r.getAs[Double]("b2") == -0.75)
  }

  test("oracle texts and Column forms evaluate bit for bit alike") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    def v() = (rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(7) - 3)
    val names = (1 to 12).map(i => s"c$i")
    val df = Seq.fill(500)(Seq.fill(12)(v())).map(r =>
        (r(0), r(1), r(2), r(3), r(4), r(5), r(6), r(7), r(8), r(9),
          r(10), r(11)))
      .toDF(names: _*)
    df.createOrReplaceTempView("linfit_rand")
    val c = names.map(col)
    val Seq(a1, a2, a3, b1, b2, b3, c1, c2, c3, r0, r1, r2) = names
    val det = det3(c(0), c(1), c(2), c(3), c(4), c(5), c(6), c(7), c(8))
    val oDet = oDet3(a1, a2, a3, b1, b2, b3, c1, c2, c3)
    val bs = cramer3(c(0), c(1), c(2), c(4), c(5), c(8), c(9), c(10), c(11))
    val oBs = oCramer3(a1, a2, a3, b2, b3, c3, r0, r1, r2)
    // sse over the columns read as yy, y, 1y, 2y, n, 11, 22, 1, 2, 12
    val terms = Seq("yy", "y", "1y", "2y", "n", "11", "22", "1", "2", "12")
      .zip(names.drop(2)).toMap
    val sseCol = sse(Seq(c(0), c(1), c(11)), terms)
    val oSseText = oSse(Seq(a1, a2, r2), terms)
    val digits = Seq(0, 6, 7, 9)
    val colForms = Seq(det.as("det")) ++
      bs.zipWithIndex.map { case (b, i) => b.as(s"b$i") } ++
      Seq(sseCol.as("sse")) ++
      digits.map(k => q(c(0), k).as(s"q$k"))
    val sqlForms = Seq(s"$oDet AS det") ++
      oBs.zipWithIndex.map { case (b, i) => s"$b AS b$i" } ++
      Seq(s"$oSseText AS sse") ++
      digits.map(k => s"${oQ(a1, k)} AS q$k")
    val want = df.select(colForms: _*).collect()
    val got = spark.sql(
      s"SELECT ${sqlForms.mkString(", ")} FROM linfit_rand").collect()
    assert(want.length == 500 && got.length == 500)
    def bits(x: Any): Any = x match {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case o => o
    }
    want.zip(got).foreach { case (w, g) =>
      assert(w.toSeq.map(bits) == g.toSeq.map(bits), s"$w vs $g")
    }
  }
}

package graft

import org.apache.spark.sql.functions._

import graft.functions.{HllSketchAgg => Hll}

/** The HLL-256 format object (graft.functions.HllSketchAgg's companion):
  *  - bucket, sub-hash and rho give the same integers in the Scala,
  *    Column and oracle-text spellings, the oracle text evaluated by
  *    Spark SQL;
  *  - the estimate of a register array is bit for bit the same from the
  *    Scala fold, the grid fold and the array fold as Columns, and the
  *    oracle CTEs, over random arrays that reach both the
  *    linear-counting and the raw branch.
  */
class Hll256Spec extends SparkSpec {

  test("bucket, sub-hash and rho agree in all three spellings") {
    val s = spark
    import s.implicits._
    val vs = (Seq(0L, 1L, (1L << 24) - 1) ++
      (1 to 23).flatMap(k => Seq((1L << k) - 1, 1L << k))).distinct
    val rnd = new scala.util.Random(11)
    val hs = Seq(0L, 255L, 256L, 0xFFFFFFFFL) ++
      Seq.fill(200)(rnd.nextLong() & 0xFFFFFFFFL)
    vs.toDF("v").createOrReplaceTempView("hll_v")
    hs.toDF("h").createOrReplaceTempView("hll_h")

    val want = vs.sorted.map(v => Seq(v, Hll.rho(v).toLong))
    val colForm = spark.table("hll_v")
      .select(col("v"), Hll.rho(col("v")).cast("long"))
    val sqlForm = spark.sql(
      s"SELECT v, CAST(${Hll.oRho("v")} AS BIGINT) FROM hll_v")
    for (got <- Seq(colForm, sqlForm))
      assert(got.orderBy("v").collect().map(_.toSeq).toSeq == want)

    val wantH = hs.sorted.map(h => Seq(h, Hll.bucket(h).toLong, Hll.sub(h)))
    val colH = spark.table("hll_h").select(col("h"),
      Hll.bucket(col("h")).cast("long"), Hll.sub(col("h")))
    val sqlH = spark.sql(s"SELECT h, CAST(${Hll.oBucket("h")} AS BIGINT), " +
      s"${Hll.oSub("h")} FROM hll_h")
    for (got <- Seq(colH, sqlH))
      assert(got.orderBy("h").collect().map(_.toSeq).toSeq == wantH)
  }

  test("estimate forms agree bit for bit on both branches") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(5)
    // zero-register share from "nearly empty" to "full": the first arrays
    // take the linear-counting branch, the last the raw branch
    val arrays = (0 until 60).map { i =>
      val pZero = 1.0 - i / 59.0
      Array.fill[Byte](Hll.M) {
        if (rnd.nextDouble() < pZero) 0 // register in 1..25, rho-shaped:
        else (1 + Integer.numberOfTrailingZeros(rnd.nextInt() | 1 << 24))
          .toByte
      }
    }
    def branch(regs: Array[Byte]): String = {
      val sum = regs.map(r => 1L << (25 - r)).sum
      val eRaw = 7213.0 / 10000.0 / (1.0 + 1079.0 / 1000.0 / 256.0) *
        65536.0 * 33554432.0 / sum.toDouble
      if (eRaw <= 640.0 && regs.contains(0.toByte)) "linear" else "raw"
    }
    assert(arrays.map(branch).toSet == Set("linear", "raw"))

    val want = arrays.zipWithIndex
      .map { case (r, id) => id.toLong -> Hll.estimate(r) }.toMap
    // sparse register rows: only the non-zero buckets, as a register
    // build emits them — the grid forms must zero-fill the rest
    val regs = arrays.zipWithIndex.flatMap { case (r, id) =>
      r.indices.filter(r(_) != 0).map(b => (id.toLong, b, r(b).toInt))
    }.toDF("id", "bucket", "mj")
    regs.createOrReplaceTempView("hll_regs")
    val groups = arrays.indices.map(_.toLong).toDF("id")
    groups.createOrReplaceTempView("hll_ids")

    val grid = Hll.estimates(groups, regs, "est")
    val array = arrays.zipWithIndex
      .map { case (r, id) => (id.toLong, r.map(_.toLong).toSeq) }
      .toDF("id", "regs")
      .select(col("id") +: Hll.foldArray("regs"): _*)
      .select(col("id"), Hll.estimate(col("s"), col("v0")).as("est"))
    val oracle = spark.sql(
      s"""WITH ${Hll.oEstimates("", "SELECT id FROM hll_ids", "hll_regs",
            "id")}
         |SELECT id, est FROM est""".stripMargin)
    def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)
    for ((form, df) <- Seq("grid" -> grid, "array" -> array,
                           "oracle" -> oracle)) {
      val got = df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got.keySet == want.keySet, form)
      want.foreach { case (id, e) =>
        assert(bits(got(id)) == bits(e),
          s"$form diverged on array $id (${branch(arrays(id.toInt))}): " +
            s"${got(id)} vs $e")
      }
    }
  }
}

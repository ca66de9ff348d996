package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native HLL register-building AGGREGATE — the Catalyst extension tier
  * the expression injections (scalar: [[EwmNr]], [[DotLong]]) and the
  * planner extension ([[graft.plans.GroupTopKExec]]) do not cover: a
  * `TypedImperativeAggregate` with a typed mutable buffer, map-side
  * partial aggregation, and binary partial-state serialization.
  *
  * Semantics are EXACTLY the declarative register pipeline of
  * `a33_hll_distinct`: both take bucket, sub-hash and rho from the
  * companion object's HLL-256 format, over the same
  * [[graft.operators.TextOps.hash32]] input — `HllAggSpec` pins
  * bit-identical registers against that pipeline, so the DuckDB SQL that
  * replays a33 is equally this aggregate's oracle.
  *
  * Why native, when the declarative form is already hash-green: the
  * declarative register build shuffles one (group, bucket, rho) row per
  * INPUT row into a (group, bucket) hash-agg — the map-side combine
  * only collapses same-bucket collisions. This aggregate's partial
  * state is the whole 256-byte register array per group per partition,
  * so the exchange carries |groups| × 256 bytes per map task no matter
  * how many rows flow in — the sketch IS the shuffle payload, which is
  * the entire point of a sketch at 100 TB. Output is the register
  * array (array<bigint>), not the estimate: registers are the
  * persistable, max-mergeable artifact (a33b's range-merge pattern);
  * estimation stays in the shared expression both engines already run.
  */
case class HllSketchAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Int]] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"hll_sketch_agg expects a bigint 32-bit hash column, got " +
        child.dataType.simpleString)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "hll_sketch_agg"

  override def createAggregationBuffer(): Array[Int] =
    new Array[Int](HllSketchAgg.M)

  override def update(buf: Array[Int], input: InternalRow): Array[Int] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      // the register arithmetic below is sound ONLY on the 32-bit hash
      // domain: a negative h makes (h % 256) a negative index, and
      // h ≥ 2^32 makes sub ≥ 2^24 so rho ≤ 0 silently leaves the
      // register at 0 — both diverge from the declarative a33 pipeline.
      // Fail loudly instead of producing a corrupt sketch.
      if (h < 0L || h > 0xFFFFFFFFL)
        throw new IllegalArgumentException(
          s"hll_sketch_agg expects a 32-bit hash in [0, 2^32), got $h — " +
            "feed it graft.operators.TextOps.hash32 output")
      val bucket = HllSketchAgg.bucket(h)
      val rho = HllSketchAgg.rho(HllSketchAgg.sub(h))
      if (rho > buf(bucket)) buf(bucket) = rho
    }
    buf
  }

  override def merge(buf: Array[Int], other: Array[Int]): Array[Int] = {
    var i = 0
    while (i < buf.length) { if (other(i) > buf(i)) buf(i) = other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Int]): Any =
    new GenericArrayData(buf.map(_.toLong))

  // rho ≤ 25 — one byte per register
  override def serialize(buf: Array[Int]): Array[Byte] =
    buf.map(_.toByte)

  override def deserialize(bytes: Array[Byte]): Array[Int] =
    bytes.map(_.toInt)

  override def withNewMutableAggBufferOffset(n: Int): HllSketchAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): HllSketchAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): HllSketchAgg =
    copy(child = newChildren.head)
}

/** The HLL-256 sketch format, defined once and spelled three ways: Scala
  * over a register array (the native aggregate, the streaming state),
  * Spark `Column`s, and DuckDB oracle text. Every distinct-count row
  * (a33, a33b, a43, a50, st5) builds from these, so the engines share
  * one set of IEEE trees by construction.
  *
  *  - bucket = `h % 256` and sub-hash = `h >> 8` of a 32-bit hash
  *    ([[graft.operators.TextOps.hash32]]);
  *  - rho = 25 − #{k < 24 : sub ≥ 2^k}, the leading-zero rank of the 24
  *    sub-hash bits, as a pure integer comparison sum (no engine-specific
  *    bin()/log2 whose string or float behaviour could diverge);
  *  - register = max rho per bucket, zero-filled over the 256-bucket grid;
  *  - fold: s = Σ 2^(25 − register) (exact longs) and v0 = #zero
  *    registers;
  *  - estimate: alpha_256 as division expressions (never a printed
  *    decimal) · 2^16 · 2^25 / s, with linear counting 256·ln(256 / v0)
  *    below 640 when a register is still zero; both branches rounded
  *    at 9, so an ulp of ln cannot reach a hash.
  */
object HllSketchAgg {
  val M = 256

  def bucket(h: Long): Int = (h % M).toInt
  def bucket(h: Column): Column = h % M
  def oBucket(h: String): String = s"$h % $M"

  def sub(h: Long): Long = h >> 8
  def sub(h: Column): Column = shiftright(h, 8)
  def oSub(h: String): String = s"$h >> 8"

  /** For sub < 2^24 the comparison sum is the bit length, so
    * 25 − bitlength; sub = 0 gives 25 (nlz(0) = 64). */
  def rho(v: Long): Int = 25 - (64 - java.lang.Long.numberOfLeadingZeros(v))
  def rho(v: Column): Column =
    lit(25) - (0 until 24)
      .map(k => when(v >= (1L << k), 1).otherwise(0)).reduce(_ + _)
  def oRho(v: String): String =
    s"25 - (" + (0 until 24)
      .map(k => s"CASE WHEN $v >= ${1L << k} THEN 1 ELSE 0 END")
      .mkString(" + ") + ")"

  /** s and v0 of one register array (the native aggregate's output). */
  def foldArray(regs: String): Seq[Column] = {
    def f(step: String) =
      expr(s"aggregate($regs, CAST(0 AS BIGINT), (acc, mj) -> $step)")
    Seq(f("acc + shiftleft(CAST(1 AS BIGINT), 25 - CAST(mj AS INT))").as("s"),
      f("acc + IF(mj = 0, CAST(1 AS BIGINT), CAST(0 AS BIGINT))").as("v0"))
  }

  def estimate(s: Column, v0: Column): Column = {
    val eRaw = lit(7213.0) / lit(10000.0) /
      (lit(1.0) + lit(1079.0) / lit(1000.0) / lit(256.0)) *
      lit(65536.0) * lit(33554432.0) / s.cast("double")
    when(eRaw <= 640.0 && v0 > 0,
        round(lit(256.0) * log(lit(256.0) / v0.cast("double")), 9))
      .otherwise(round(eRaw, 9))
  }
  def oEstimate(s: String, v0: String): String = {
    val eRaw = s"7213.0 / 10000.0 / (1.0 + 1079.0 / 1000.0 / 256.0)" +
      s" * 65536.0 * 33554432.0 / CAST($s AS DOUBLE)"
    s"CASE WHEN $eRaw <= 640.0 AND $v0 > 0" +
      s" THEN round(256.0 * ln(256.0 / CAST($v0 AS DOUBLE)), 9)" +
      s" ELSE round($eRaw, 9) END"
  }
  /** The estimate of a register array, with Spark's `round` (HALF_UP on
    * the double's decimal value). */
  def estimate(regs: Array[Byte]): Double = {
    var s = 0L; var v0 = 0
    var i = 0
    while (i < M) {
      s += 1L << (25 - regs(i)); if (regs(i) == 0) v0 += 1; i += 1
    }
    def round9(x: Double): Double =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val eRaw = 7213.0 / 10000.0 / (1.0 + 1079.0 / 1000.0 / 256.0) *
      65536.0 * 33554432.0 / s.toDouble
    if (eRaw <= 640.0 && v0 > 0) round9(256.0 * math.log(256.0 / v0))
    else round9(eRaw)
  }

  /** (keys…, bucket, mj): the max-rho registers of the hash column `h`
    * of `hashed`, grouped by `keys`. */
  def registers(hashed: DataFrame, keys: String*): DataFrame =
    hashed.select(keys.map(col) ++ Seq(bucket(col("h")).as("bucket"),
        sub(col("h")).as("v")): _*)
      .withColumn("rho", rho(col("v")))
      .groupBy((keys :+ "bucket").map(col): _*).agg(max("rho").as("mj"))
  /** Oracle CTEs `<p>b`, `<p>r` and `<p>regs(keys…, bucket, mj)` over
    * the relation `hashed(keys…, h)`. */
  def oRegisters(p: String, hashed: String, keys: String*): String = {
    val ks = keys.mkString(", ")
    s"""${p}b AS (
       |  SELECT $ks, ${oBucket("h")} AS bucket, ${oSub("h")} AS v
       |  FROM $hashed),
       |${p}r AS (
       |  SELECT $ks, bucket, ${oRho("v")} AS rho FROM ${p}b),
       |${p}regs AS (
       |  SELECT $ks, bucket, max(rho) AS mj
       |  FROM ${p}r GROUP BY ${(1 to keys.size + 1).mkString(", ")})"""
      .stripMargin
  }

  /** (keys…, `as`): the estimate per row of `groups` (distinct key
    * rows) from the registers `regs(keys…, bucket, mj)`, folded over the
    * zero-filled 256-bucket grid. */
  def estimates(groups: DataFrame, regs: DataFrame, as: String): DataFrame = {
    val keys = groups.columns.toSeq
    groups.withColumn("bucket", explode(sequence(lit(0), lit(255))))
      .join(regs, keys :+ "bucket", "left")
      .withColumn("mj", coalesce(col("mj"), lit(0)))
      .groupBy(keys.map(col): _*)
      .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), 25 - mj)")).as("s"),
        sum(when(col("mj") === 0, 1L).otherwise(0L)).as("v0"))
      .select(keys.map(col) :+ estimate(col("s"), col("v0")).as(as): _*)
  }
  /** Oracle CTEs `<p>grid`, `<p>fr`, `<p>sk` and `<p>est(keys…, est)`:
    * [[estimates]] over the query `groups` and the relation `regs`. */
  def oEstimates(p: String, groups: String, regs: String,
                 keys: String*): String = {
    val ks = keys.mkString(", ")
    val on = (keys :+ "bucket").map(k => s"x.$k = r.$k").mkString(" AND ")
    s"""${p}grid AS (
       |  SELECT x.*, g.bucket FROM ($groups) x, range(0, 256) g(bucket)),
       |${p}fr AS (
       |  SELECT ${keys.map("x." + _).mkString(", ")},
       |    coalesce(r.mj, 0) AS mj
       |  FROM ${p}grid x LEFT JOIN $regs r ON $on),
       |${p}sk AS (
       |  SELECT $ks,
       |    CAST(sum(CAST(1 AS BIGINT) << (25 - mj)) AS BIGINT) AS s,
       |    CAST(sum(CASE WHEN mj = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v0
       |  FROM ${p}fr GROUP BY ${(1 to keys.size).mkString(", ")}),
       |${p}est AS (
       |  SELECT $ks, ${oEstimate("s", "v0")} AS est FROM ${p}sk)"""
      .stripMargin
  }
}

package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** One verifiable operator query: a Spark pipeline plus (when SQL-expressible)
  * an equivalent DuckDB oracle run by the driver on the same parquet tables.
  */
final case class QueryDef(
    name: String,
    oracle: Option[String],
    fn: (SparkSession, String) => DataFrame)

/** Cross-engine parity doctrine (Spark vs the DuckDB oracle, hash-compared):
  *
  *  1. Never rely on order-dependent float accumulation. `SUM(double)` differs
  *     in the last ulp between engines (partition order vs vector order), and
  *     a hash compare has no tolerance. All sums/averages over doubles go
  *     through an exact decimal cast: [[Parity.dsum]] / [[Parity.davg]].
  *     The input data carries 2-decimal values, so `DECIMAL(30,6)` is lossless.
  *  2. Derived float math (ratios, stddev, corr, z-scores) is computed from
  *     those exact sums with the SAME IEEE expression tree on both sides —
  *     identical inputs + identical op graph = bit-identical doubles. No
  *     builtin `stddev/avg/corr` aggregates anywhere near the compare.
  *  3. Order-sensitive picks use `min_by`/`max_by` (DuckDB `arg_min/arg_max`)
  *     on a unique ordering key — never bare `first/last` after a shuffle
  *     (SURVEY §4 "order-sensitive aggregates").
  *  4. Every `LIMIT`/top-k carries a full deterministic tiebreak.
  *  5. Linear fits build their features, exact-long moments, Cramer solve,
  *     SSE and quantizer from the [[LinearFit]] pairs, one copy per engine.
  *  6. Sketches and exact quantiles have one format each: distinct counts
  *     take bucket, rho, grid, fold and estimate from the HLL-256 object
  *     ([[graft.functions.HllSketchAgg$]]) and the KMV estimate from
  *     [[graft.functions.KmvSketchAgg$]]; exact percentiles and medians
  *     of a bounded-domain column walk one per-group histogram
  *     ([[HistogramWalk]]), whose domain guard names the row.
  *  7. Embedding cosines come from the [[graft.operators.VectorOps]]
  *     `cosine`/`oCosine` pair: exact long dot over the exact-long norms'
  *     square roots, one tree per engine.
  */
object Parity {
  /** Exact sum of a k-decimal double column, returned as double.
    *
    * Scale choice matters for bit-parity: DuckDB converts DECIMAL→DOUBLE as
    * `(double)int128 / 10^scale` (two roundings once the scaled integer
    * exceeds 2^53), while Spark's Decimal→double is correctly rounded in one
    * step. Keep `|sum| * 10^scale < 2^53` and both conversions are exact →
    * identical doubles. Input data carries 2-decimal values (products: 4),
    * so scale 4 is lossless for anything derived from raw×raw products and
    * scale 6 leaves headroom for small-magnitude columns.
    */
  def dsum(c: Column, scale: Int = 6): Column =
    sum(c.cast(DecimalType(30, scale))).cast("double")
  /** Whole-unit long quantization (the a7/a21 pattern, measurably 2-4×
    * faster than the decimal path): a 2-decimal double becomes its exact
    * integer count of hundredths and every aggregate over it is a
    * primitive codegen'd LONG hash-agg. `floor(x*100+0.5)` is the same
    * correctly-rounded IEEE tree on both engines; de-scale ONCE after the
    * sum (`CAST(SUM(q) AS DOUBLE) / 100.0` — DuckDB's hugeint→double cast
    * is correctly rounded like Spark's long cast, so the doubles match
    * bitwise). Headroom: |Σx|·100 must stay < 2^63 — callers document the
    * per-group bound. Squares of quantized values (q*q = 10^4·x², exact
    * for 2-decimal x) serve the variance/HHI family the same way. */
  def lq(c: Column): Column = floor(c * 100.0 + 0.5).cast("long")
  /** Oracle-side text for [[lq]]. */
  def oLq(x: String): String =
    s"CAST(floor($x * 100.0 + 0.5) AS BIGINT)"
  /** Long-path mean: one long sum, divide by non-null count, de-scale. */
  def lavg(c: Column): Column =
    sum(lq(c)).cast("double") / count(c) / 100.0
  def oLavg(x: String): String =
    s"CAST(SUM(${oLq(x)}) AS DOUBLE) / COUNT($x) / 100.0"
  /** Long-path sample stddev: both moment sums are exact longs (q² =
    * 10^4·x², exact for 2-decimal x), de-scaled into the same IEEE tree
    * as [[oLstd]]. */
  def lstd(c: Column): Column = {
    val s1 = sum(lq(c)).cast("double") / 100.0
    val s2 = sum(lq(c) * lq(c)).cast("double") / 10000.0
    val n = count(c).cast("double")
    sqrt((s2 - s1 * s1 / n) / (n - lit(1.0)))
  }
  def oLstd(x: String): String = {
    val q = oLq(x)
    s"SQRT((CAST(SUM($q * $q) AS DOUBLE) / 10000.0 - " +
    s"(CAST(SUM($q) AS DOUBLE) / 100.0) * (CAST(SUM($q) AS DOUBLE) / 100.0)" +
    s" / CAST(COUNT($x) AS DOUBLE)) / (CAST(COUNT($x) AS DOUBLE) - 1.0))"
  }
  /** Oracle-side text for [[dsum]]. */
  def oSum(x: String, scale: Int = 6): String =
    s"CAST(SUM(CAST($x AS DECIMAL(30,$scale))) AS DOUBLE)"
  /** Exact-sum-based average (identical IEEE division both sides). */
  def davg(c: Column, scale: Int = 6): Column = dsum(c, scale) / count(c)
  def oAvg(x: String, scale: Int = 6): String = s"${oSum(x, scale)} / COUNT($x)"
  /** Sample stddev from exact sums: sqrt((s2 - s1*s1/n)/(n-1)).
    * Same expression shape as [[oStd]] so doubles match bitwise. */
  def dstd(c: Column, scale: Int = 4): Column = {
    val s1 = dsum(c, scale); val s2 = dsum(c * c, scale)
    val n = count(c).cast("double")
    sqrt((s2 - s1 * s1 / n) / (n - lit(1.0)))
  }
  def oStd(x: String, scale: Int = 4): String = {
    val s1 = oSum(x, scale); val s2 = oSum(s"$x * $x", scale)
    s"SQRT(($s2 - $s1 * $s1 / CAST(COUNT($x) AS DOUBLE)) / (CAST(COUNT($x) AS DOUBLE) - 1.0))"
  }
}

/** The exact-moment linear fit shared by the mlprep fit rows and st15,
  * each piece a DataFrame/oracle-SQL pair that builds ONE IEEE expression
  * tree on both engines (the [[Parity]] doctrine):
  *
  *  - features over `events`: x1 = hour(ts), x2 = day of week (1 =
  *    Sunday), x3 = day of month, all longs; the regression target
  *    yq = lq(value) (exact hundredths) or the class label y = value ≥ 100;
  *  - [[momentsBy]]: exact-long sums of products of those columns;
  *  - [[descale]]: the doubles the solve reads (hundredths removed once,
  *    after the exact sum);
  *  - [[cramer3]] / [[ols]]: the 3×3 normal equations by Cramer's rule;
  *  - [[sse]]: the residual sum of squares as a quadratic form in the
  *    moments, so held-out error needs no scoring pass;
  *  - [[q]]: the floor(c·10ⁿ + 0.5) quantizer a verified double leaves
  *    the engine in.
  *
  * The oracle text of each helper is the DuckDB spelling of the same
  * tree: keep DOUBLE literals in exponent form (`0.5e0`; DuckDB reads a
  * bare `0.5` as a DECIMAL).
  */
object LinearFit {

  def x1: Column = hour(col("ts")).cast("long").as("x1")
  def x2: Column = dayofweek(col("ts")).cast("long").as("x2")
  def x3: Column = dayofmonth(col("ts")).cast("long").as("x3")
  def yq: Column = Parity.lq(col("value")).as("yq")
  def y: Column = when(col("value") >= 100.0, 1L).otherwise(0L).as("y")
  val oX1 = "CAST(hour(ts) AS BIGINT) AS x1"
  val oX2 = "CAST(extract(dow FROM ts) + 1 AS BIGINT) AS x2"
  val oX3 = "CAST(day(ts) AS BIGINT) AS x3"
  val oYq = s"${Parity.oLq("value")} AS yq"
  val oY = "CASE WHEN value >= 100.0e0 THEN 1 ELSE 0 END AS y"

  /** `keys` plus the regression frame (x1, x2, yq) of the rows in `ev`. */
  def features(ev: DataFrame, keys: Column*): DataFrame =
    ev.select(keys ++ Seq(x1, x2, yq): _*)
  def oFeatures(keys: String*): String =
    s"SELECT ${(keys ++ Seq(oX1, oX2, oYq)).mkString(", ")} FROM events"

  /** The classifier rows' cell grid: per (event_type, x1, x2) cell, `n`
    * rows of which `yc` have y = 1. Every classifier fit reads only this
    * ≤24·7-cells-per-group table after the one corpus scan. */
  def cellGrid(ev: DataFrame): DataFrame =
    ev.select(col("event_type"), x1, x2, y)
      .groupBy("event_type", "x1", "x2")
      .agg(count(lit(1)).as("n"), sum("y").as("yc"))
  val oCellGrid: String =
    s"""SELECT event_type, $oX1, $oX2,
       |    CAST(count(*) AS BIGINT) AS n,
       |    CAST(SUM(CASE WHEN value >= 100.0e0 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS yc
       |  FROM events GROUP BY 1, 2, 3""".stripMargin

  /** An exact-long moment: its name and the columns whose product it sums
    * (no columns: the row count). */
  type Moment = (String, Seq[String])

  /** The moments of a fit on features x<i>, i ∈ `xs`: n, l<i>, l<i><j>
    * (i ≤ j); with `target`, also ly and l<i>y over yq; with `yy`, lyy. */
  def normal(xs: Seq[Int], target: Boolean = true,
             yy: Boolean = false): Seq[Moment] = {
    val f = xs.map(i => (i.toString, s"x$i"))
    val cross = for {
      (a, i) <- f.zipWithIndex; b <- f.drop(i)
    } yield (s"l${a._1}${b._1}", Seq(a._2, b._2))
    val ys = if (!target) Nil else ("ly", Seq("yq")) +:
      f.map { case (k, c) => (s"l${k}y", Seq(c, "yq")) }
    (("n", Seq.empty[String]) +: f.map { case (k, c) => (s"l$k", Seq(c)) }) ++
      cross ++ ys ++ (if (yy) Seq(("lyy", Seq("yq", "yq"))) else Nil)
  }
  /** n, l1, l2, l11, l12, l22, ly, l1y, l2y: the OLS of yq on (x1, x2). */
  val Ols: Seq[Moment] = normal(Seq(1, 2))
  /** [[Ols]] plus lyy, which [[sse]] needs. */
  val OlsYy: Seq[Moment] = normal(Seq(1, 2), yy = true)

  /** `f` grouped by `keys` into the exact-long sums `ms`. */
  def momentsBy(f: DataFrame, keys: String*)(ms: Seq[Moment]): DataFrame = {
    val a = ms.map {
      case (n, Seq()) => count(lit(1)).as(n)
      case (n, fs) => sum(fs.map(col).reduce(_ * _)).as(n)
    }
    f.groupBy(keys.map(col): _*).agg(a.head, a.tail: _*)
  }
  def oMomentsBy(src: String, keys: String*)(ms: Seq[Moment]): String = {
    val a = ms.map {
      case (n, Seq()) => s"CAST(count(*) AS BIGINT) AS $n"
      case (n, fs) => s"CAST(sum(${fs.mkString(" * ")}) AS BIGINT) AS $n"
    }
    s"""SELECT ${keys.mkString(", ")},
       |    ${a.mkString(",\n    ")}
       |  FROM $src GROUP BY ${keys.mkString(", ")}""".stripMargin
  }

  /** A moment's de-scaled name under prefix `p`: n → <p>n,
    * l<k> → <p><k>. */
  def named(p: String)(m: String): String =
    if (m == "n") p + "n" else p + m.stripPrefix("l")

  /** The doubles of the moments `ms` (read through `from`, by default the
    * column of that name), named by [[named]]. With `cents`, a moment over
    * one yq factor divides by 100.0 and one over two by 10000.0. */
  def descale(ms: Seq[Moment], p: String = "s", cents: Boolean = true,
              from: String => Column = col): Seq[Column] = ms.map {
    case (m, fs) =>
      val d = from(m).cast("double")
      (if (!cents) d else fs.count(_ == "yq") match {
        case 0 => d
        case 1 => d / 100.0
        case _ => d / 10000.0
      }).as(named(p)(m))
  }
  def oDescale(ms: Seq[Moment], p: String = "s", cents: Boolean = true,
               from: String => String = identity): String = ms.map {
    case (m, fs) =>
      val d = s"CAST(${from(m)} AS DOUBLE)"
      val v = if (!cents) d else fs.count(_ == "yq") match {
        case 0 => d
        case 1 => s"$d / 100.0"
        case _ => s"$d / 10000.0"
      }
      s"$v AS ${named(p)(m)}"
  }.mkString(",\n    ")

  /** Determinant of the 3×3 matrix with rows (a1 a2 a3), (b1 b2 b3),
    * (c1 c2 c3), expanded along the first row. */
  def det3(a1: Column, a2: Column, a3: Column,
           b1: Column, b2: Column, b3: Column,
           c1: Column, c2: Column, c3: Column): Column =
    a1 * (b2 * c3 - b3 * c2) -
    a2 * (b1 * c3 - b3 * c1) +
    a3 * (b1 * c2 - b2 * c1)
  def oDet3(a1: String, a2: String, a3: String,
            b1: String, b2: String, b3: String,
            c1: String, c2: String, c3: String): String =
    s"($a1 * ($b2 * $c3 - $b3 * $c2) - " +
    s"$a2 * ($b1 * $c3 - $b3 * $c1) + " +
    s"$a3 * ($b1 * $c2 - $b2 * $c1))"

  /** Cramer's rule for the symmetric system
    * [[m00 m01 m02] [m01 m11 m12] [m02 m12 m22]] · b = (r0, r1, r2):
    * b_k = det(column k replaced by r) / det. */
  def cramer3(m00: Column, m01: Column, m02: Column, m11: Column,
              m12: Column, m22: Column,
              r0: Column, r1: Column, r2: Column): Seq[Column] = {
    val det = det3(m00, m01, m02, m01, m11, m12, m02, m12, m22)
    Seq(det3(r0, m01, m02, r1, m11, m12, r2, m12, m22) / det,
      det3(m00, r0, m02, m01, r1, m12, m02, r2, m22) / det,
      det3(m00, m01, r0, m01, m11, r1, m02, m12, r2) / det)
  }
  /** Oracle twin of [[cramer3]]; each coefficient is parenthesized. */
  def oCramer3(m00: String, m01: String, m02: String, m11: String,
               m12: String, m22: String,
               r0: String, r1: String, r2: String): Seq[String] = {
    val det = oDet3(m00, m01, m02, m01, m11, m12, m02, m12, m22)
    Seq(oDet3(r0, m01, m02, r1, m11, m12, r2, m12, m22),
      oDet3(m00, r0, m02, m01, r1, m12, m02, r2, m22),
      oDet3(m00, m01, r0, m01, m11, r1, m02, m12, r2))
      .map(d => s"($d / $det)")
  }

  /** The OLS coefficients (b0, b1, b2) of yq on (x1, x2) from the
    * [[descale]]d [[Ols]] moments. A `ridge` term adds to the slope
    * diagonal only: the intercept stays unpenalized. */
  def ols(ridge: Option[Column] = None): Seq[Column] = {
    def r(c: Column) = ridge.fold(c)(c + _)
    cramer3(col("sn"), col("s1"), col("s2"), r(col("s11")), col("s12"),
      r(col("s22")), col("sy"), col("s1y"), col("s2y"))
  }
  def oOls(ridge: Option[String] = None): Seq[String] = {
    def r(c: String) = ridge.fold(c)(l => s"($c + $l)")
    oCramer3("sn", "s1", "s2", r("s11"), "s12", r("s22"), "sy", "s1y", "s2y")
  }

  /** Per-event_type [[ols]] over the rows of `ev` (carrying ts and
    * value): event_type, n_train, b0, b1, b2. */
  def fitOls(ev: DataFrame): DataFrame = {
    val Seq(b0, b1, b2) = ols()
    momentsBy(features(ev, col("event_type")), "event_type")(Ols)
      .select(col("event_type") +: col("n").as("n_train") +: descale(Ols): _*)
      .select(col("event_type"), col("n_train"),
        b0.as("b0"), b1.as("b1"), b2.as("b2"))
  }
  /** Oracle twin of [[fitOls]] over the relation `src` (carrying event_type,
    * x1, x2, yq), as the CTEs m<v>, d<v> and bb<v>; bb<v> also carries
    * `version` = v. */
  def oFitOls(src: String, v: Int): String = {
    val Seq(b0, b1, b2) = oOls()
    s"""m$v AS (
       |  ${oMomentsBy(src, "event_type")(Ols)}),
       |d$v AS (
       |  SELECT event_type, n AS n_train,
       |    ${oDescale(Ols)}
       |  FROM m$v),
       |bb$v AS (
       |  SELECT event_type, CAST($v AS BIGINT) AS version, n_train,
       |    $b0 AS b0, $b1 AS b1, $b2 AS b2
       |  FROM d$v)""".stripMargin
  }

  /** Σ(y − ŷ)² of the fit (b0, b1, b2) over the moments the names
    * yy, y, 1y, 2y, n, 11, 22, 1, 2, 12 map to under `m` (by default
    * [[descale]]'s s-prefixed names):
    * yy − 2(b0·y + b1·1y + b2·2y) + (b0²·n + b1²·11 + b2²·22
    * + 2(b0b1·1 + b0b2·2 + b1b2·12)). */
  def sse(b: Seq[Column] = Seq(col("b0"), col("b1"), col("b2")),
          m: String => String = "s" + _): Column = {
    val Seq(b0, b1, b2) = b
    def c(k: String) = col(m(k))
    c("yy") - lit(2.0) * (b0 * c("y") + b1 * c("1y") + b2 * c("2y")) +
      (b0 * b0 * c("n") + b1 * b1 * c("11") + b2 * b2 * c("22") +
        lit(2.0) * (b0 * b1 * c("1") + b0 * b2 * c("2") + b1 * b2 * c("12")))
  }
  /** Oracle twin of [[sse]], parenthesized. */
  def oSse(b: Seq[String] = Seq("b0", "b1", "b2"),
           m: String => String = "s" + _): String = {
    val Seq(b0, b1, b2) = b
    s"""(${m("yy")} - 2.0e0 * ($b0 * ${m("y")} + $b1 * ${m("1y")}
       |      + $b2 * ${m("2y")})
       |    + ($b0 * $b0 * ${m("n")} + $b1 * $b1 * ${m("11")}
       |      + $b2 * $b2 * ${m("22")}
       |      + 2.0e0 * ($b0 * $b1 * ${m("1")} + $b0 * $b2 * ${m("2")}
       |        + $b1 * $b2 * ${m("12")})))""".stripMargin
  }

  /** floor(c·10^digits + 0.5) as a long (no multiply at 0 digits). */
  def q(c: Column, digits: Int): Column =
    floor((if (digits == 0) c else c * lit(math.pow(10, digits))) +
      lit(0.5)).cast("long")
  def oQ(x: String, digits: Int): String =
    if (digits == 0) s"CAST(floor(($x) + 0.5e0) AS BIGINT)"
    else s"CAST(floor(($x) * 1.0e$digits + 0.5e0) AS BIGINT)"
}

/** Exact order statistics of a bounded-domain integral column as a walk
  * over its per-group histogram, a DataFrame/oracle-SQL pair shared by
  * a22, a29, a30, a36, mlprep's median fill and its train-split edge fit
  * (binning, robust scaler, PSI): one data-sized hash
  * aggregate to (keys…, v, cnt), per-group windows over THAT table for
  * the running count `cum` (v ascending) and the group total `n`, then
  * `min(v where cum ≥ rank)` picks with integer ranks. The windows put a
  * group's whole histogram in one partition, which is sound only while
  * the domain is bounded, so every walk carries a runtime guard: a group
  * with more than [[MaxCells]] cells fails the query with an error that
  * names the row.
  */
object HistogramWalk {
  /** Cells per group above which a walk refuses to run: far past any
    * bounded-domain column (days-since-holiday tops out near 366) yet
    * trivial for one partition, so the guard never fires on legitimate
    * input and always fires on a mistaken high-cardinality column. */
  val MaxCells = 100000L

  /** (keys…, v, cnt, cum, n) from a histogram `h(keys…, v, cnt)`. */
  def running(h: DataFrame, keys: Seq[String], v: String): DataFrame = {
    val g = Window.partitionBy(keys.map(col): _*)
    h.withColumn("cum", sum("cnt")
        .over(g.orderBy(v).rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("n", sum("cnt").over(g.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)))
  }
  def oRunning(h: String, keys: Seq[String], v: String): String = {
    val part = if (keys.isEmpty) "" else s"PARTITION BY ${keys.mkString(", ")}"
    s"""SELECT ${(keys :+ v).mkString(", ")}, cnt,
       |    sum(cnt) OVER ($part ORDER BY $v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |    sum(cnt) OVER ($part) AS n
       |  FROM $h""".stripMargin
  }

  /** `df` counted into its (keys…, v) histogram, [[running]], and
    * grouped back by `keys` into the named aggregates `aggs`; the first
    * is emitted only once the domain guard of `row` has passed. */
  def walk(df: DataFrame, keys: Seq[String], v: String, row: String,
           bound: Long = MaxCells)(aggs: (String, Column)*): DataFrame = {
    val guard = assert_true(count(lit(1)) <= bound,
      lit(s"$row: the $v histogram exceeds $bound cells per group — " +
        "this exact walk is for bounded-domain columns; coarsen the " +
        "grid, or use approx_percentile for continuous ones"))
    val a = when(guard.isNull, aggs.head._2).as(aggs.head._1) +:
      aggs.tail.map { case (n, c) => c.as(n) }
    val h = df.groupBy((keys :+ v).map(col): _*)
      .agg(count(lit(1)).as("cnt"))
    running(h, keys, v).groupBy(keys.map(col): _*).agg(a.head, a.tail: _*)
  }
  /** [[walk]] over the relation `from(keys…, v)`, without the guard. */
  def oWalk(from: String, keys: Seq[String], v: String)(
      aggs: String*): String = {
    val h = s"(SELECT ${(keys :+ v).mkString(", ")}, count(*) AS cnt " +
      s"FROM $from GROUP BY ${(1 to keys.size + 1).mkString(", ")})"
    s"""SELECT ${(keys ++ aggs).mkString(",\n  ")}
       |FROM (${oRunning(h, keys, v)})""".stripMargin +
      (if (keys.isEmpty) "" else s" GROUP BY ${keys.mkString(", ")}")
  }

  /** The smallest v whose running count reaches `rank`. */
  def pick(rank: Column, v: String): Column =
    min(when(col("cum") >= rank, col(v)))
  def oPick(rank: String, v: String): String =
    s"min(CASE WHEN cum >= $rank THEN $v END)"
  /** The rank ceil(p·n / 100) of the lower p-th percentile. */
  def pct(p: Int): Column = expr(s"(n * $p + 99) DIV 100")
  def oPct(p: Int): String = s"(n * $p + 99) // 100"
  /** The lower p-th percentile of a walk over the cent grid `vc` (exact
    * hundredths as longs), back in units. */
  def centQuantile(p: Int): Column =
    pick(pct(p), "vc").cast("double") / 100.0
  def oCentQuantile(p: Int): String =
    s"CAST(${oPick(oPct(p), "vc")} AS DOUBLE) / 100.0"
  /** The two middle order statistics, lower then upper (equal for odd n). */
  def middle(v: String): (Column, Column) =
    (pick(expr("(n + 1) DIV 2"), v), pick(expr("(n + 2) DIV 2"), v))
  def oMiddle(v: String): (String, String) =
    (oPick("(n + 1) // 2", v), oPick("(n + 2) // 2", v))
  /** The sum of the two middle order statistics: 2 × the median, exact. */
  def median2(v: String): Column = { val (lo, hi) = middle(v); lo + hi }
  def oMedian2(v: String): String = {
    val (lo, hi) = oMiddle(v)
    s"$lo +\n    $hi"
  }
}

package graft.queries

import graft.{HistogramWalk => Walk, Parity, QueryDef, Tables}
import graft.functions.{HllSketchAgg => Hll, KmvSketchAgg => Kmv}
import graft.operators.TextOps.{hash32, oHash32, oShinglesFromList}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY §2.4 aggregations. All float accumulation follows the
  * [[graft.Parity]] doctrine (exact decimal sums, identical derived-math
  * expression trees) so results hash-match the DuckDB oracle bitwise.
  *
  * Scale notes: every query is a single hash-aggregate (partial map-side
  * combine + final) over the shuffle key — no driver-side loops, no
  * collect. Group cardinality is bounded (users/types/dates), so the final
  * agg is tiny regardless of input scale.
  */
object AggQueries {
  import Parity._
  import Walk.{centQuantile, oCentQuantile}

  /** Benford first-digit expectations log10(1+1/d) on the 1e-9 grid,
    * computed ONCE at class init and embedded as the SAME literal in
    * both engines' plans (a48) — no runtime libm anywhere. */
  private val BenfordQ: IndexedSeq[Long] = (1 to 9).map(dd =>
    math.floor(math.log10(1.0 + 1.0 / dd) * 1e9 + 0.5).toLong)

  /** The full a25 KMV-distinct oracle — shared verbatim by the direct
    * sketch build (`a25_kmv_distinct`) and the shard-merge path
    * (`a25b_kmv_merge`): two Spark plans, one truth (the a33/a50
    * doctrine applied to the OTHER distinct sketch). DuckDB computes the
    * k-th order statistic directly; KMV is deterministic given the hash,
    * so both engine plans must land on the same row bit-for-bit. */
  private def kmvDistinctOracle: String =
    s"""WITH t AS (
       |  SELECT source, string_split(text, ' ') AS lst FROM documents),
       |g AS (
       |  SELECT source, unnest(${oShinglesFromList("lst", 2)}) AS gr
       |  FROM t),
       |dh AS (
       |  SELECT DISTINCT source, ${oHash32("gr")} AS h
       |  FROM g),
       |r AS (
       |  SELECT source, h,
       |    row_number() OVER (PARTITION BY source ORDER BY h) AS rn,
       |    count(*) OVER (PARTITION BY source) AS n_exact
       |  FROM dh)
       |SELECT source, CAST(n_exact AS BIGINT) AS n_exact,
       |  CAST(rn AS BIGINT) AS k,
       |  ${Kmv.oEstimate("rn", "h")} AS kmv_estimate
       |FROM r WHERE rn = least(64, n_exact)""".stripMargin
  /** The HLL-256 sketch of distinct users per event type as oracle CTEs
    * ending in `est(event_type, est)` — the replay of a33's register
    * pipeline, shared by a33, a50 and st5. */
  private[queries] val oHllUserCtes: String =
    s"""h AS (
       |  SELECT event_type, ${oHash32("CAST(user_id AS VARCHAR)")} AS h
       |  FROM events),
       |${Hll.oRegisters("", "h", "event_type")},
       |${Hll.oEstimates("", "SELECT DISTINCT event_type FROM events",
           "regs", "event_type")}""".stripMargin
  /** The full a33 HLL-distinct oracle — shared verbatim by the
    * declarative register pipeline (`a33_hll_distinct`) and the native
    * TypedImperativeAggregate path (`a50_hll_native`): two Spark plans,
    * one truth (the pl14/pl16 doctrine). */
  private def hllDistinctOracle: String =
    s"""WITH $oHllUserCtes,
       |ex AS (
       |  SELECT event_type, count(DISTINCT user_id) AS n_exact
       |  FROM events GROUP BY 1)
       |SELECT ex.event_type, CAST(ex.n_exact AS BIGINT) AS n_exact,
       |  est.est AS hll_estimate,
       |  round((est.est - CAST(ex.n_exact AS DOUBLE)) /
       |        CAST(ex.n_exact AS DOUBLE), 9) AS rel_err
       |FROM ex JOIN est ON ex.event_type = est.event_type""".stripMargin

  val all: Seq[QueryDef] = Seq(

    // A1: per-key min/max/count (symbol_ranges analog).
    QueryDef(
      "a1_group_minmax",
      Some("""SELECT user_id, min(ts) AS ts_min, max(ts) AS ts_max,
             |       count(*) AS n
             |FROM events GROUP BY user_id""".stripMargin),
      (s, d) =>
        Tables.events(s, d).groupBy("user_id")
          .agg(min("ts").as("ts_min"), max("ts").as("ts_max"),
               count(lit(1)).as("n"))),

    // A2: order-sensitive OHLCV daily rollup — first/last via min_by/max_by
    // on the unique ts ordering key (never bare first/last after a shuffle;
    // SURVEY §4). DuckDB arg_min/arg_max are the oracle equivalents.
    // Volume rides the lq long path: value ≤ ~400 2-decimal → q ≤ 4e4,
    // ~2.3e14 rows/group of long headroom.
    QueryDef(
      "a2_ohlcv_rollup",
      Some(s"""SELECT user_id, CAST(ts AS DATE) AS day,
              |  arg_min(value, ts) AS open, max(value) AS high,
              |  min(value) AS low, arg_max(value, ts) AS close,
              |  CAST(SUM(${oLq("value")}) AS DOUBLE) / 100.0 AS volume,
              |  count(*) AS trade_count
              |FROM events GROUP BY user_id, CAST(ts AS DATE)""".stripMargin),
      (s, d) =>
        Tables.events(s, d)
          .groupBy(col("user_id"), to_date(col("ts")).as("day"))
          .agg(min_by(col("value"), col("ts")).as("open"),
               max("value").as("high"), min("value").as("low"),
               max_by(col("value"), col("ts")).as("close"),
               (sum(lq(col("value"))).cast("double") / 100.0).as("volume"),
               count(lit(1)).as("trade_count"))),

    // A4+A5: daily sum + mean — both off ONE long sum of hundredths (lq
    // path; the mean divides by the non-null count before de-scaling, same
    // order both engines).
    QueryDef(
      "a4_daily_sum_mean",
      Some(s"""SELECT CAST(ts AS DATE) AS day,
              |  CAST(SUM(${oLq("value")}) AS DOUBLE) / 100.0 AS total_value,
              |  CAST(SUM(${oLq("value")}) AS DOUBLE) / COUNT(value) / 100.0
              |    AS mean_value,
              |  count(*) AS n
              |FROM events GROUP BY CAST(ts AS DATE)""".stripMargin),
      (s, d) => {
        val sq = sum(lq(col("value"))).cast("double")
        Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg((sq / 100.0).as("total_value"),
               (sq / count(col("value")) / 100.0).as("mean_value"),
               count(lit(1)).as("n"))
      }),

    // A6: Herfindahl concentration index — the reference's per-day premarket
    // volume HHI (my_stock_functions.py:569-576) rewritten algebraically as
    // sum(v^2)/sum(v)^2: no UDAF, pure partial-aggregable sums. Long path:
    // q = 100v exact, q² = 10^4·v² exact, and the 10^4 scale CANCELS in the
    // ratio — Σq²/(Σq)² IS Σv²/(Σv)², one double division from exact
    // integers (q² ≤ 1.6e9 → ~5.7e9 rows/group headroom).
    QueryDef(
      "a6_hhi",
      Some(s"""WITH f AS (
              |  SELECT user_id, ${oLq("value")} AS q FROM events)
              |SELECT user_id,
              |  CASE WHEN SUM(q) > 0
              |    THEN CAST(SUM(q * q) AS DOUBLE)
              |      / (CAST(SUM(q) AS DOUBLE) * CAST(SUM(q) AS DOUBLE))
              |    ELSE NULL END AS hhi
              |FROM f GROUP BY user_id""".stripMargin),
      (s, d) => {
        val q = lq(col("value"))
        val sq = sum(col("q")); val sq2 = sum(col("q") * col("q"))
        Tables.events(s, d).select(col("user_id"), q.as("q"))
          .groupBy("user_id")
          .agg(when(sq > 0, sq2.cast("double") /
              (sq.cast("double") * sq.cast("double")))
            .otherwise(lit(null)).as("hhi"))
      }),

    // A7: volume-weighted mean (VWAP) with zero-volume null guard.
    QueryDef(
      "a7_weighted_mean",
      // Long-sum form (the a21/a21b quantization trick): price is
      // 2-decimal and quantity integer-valued, so the weighted sum rides
      // exact integer cents×units (|p·q| ≤ 5e8/row — long-safe to ~2e10
      // rows per group) and the aggregate is a primitive codegen'd
      // hash-agg; the /100 de-scales once, identically on both engines.
      Some("""WITH f AS (
             |  SELECT l_returnflag,
             |    CAST(floor(l_quantity) AS BIGINT) AS q,
             |    CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
             |      * CAST(floor(l_quantity) AS BIGINT) AS pq
             |  FROM lineitem)
             |SELECT l_returnflag,
             |  CASE WHEN SUM(q) > 0
             |    THEN (CAST(SUM(pq) AS DOUBLE) / CAST(SUM(q) AS DOUBLE))
             |      / 100.0
             |    ELSE NULL END AS wavg_price
             |FROM f GROUP BY l_returnflag""".stripMargin),
      (s, d) => {
        val q = floor(col("l_quantity")).cast("long")
        val p = floor(col("l_extendedprice") * 100.0 + 0.5).cast("long")
        val sq = sum(col("q")); val spq = sum(col("pq"))
        Tables.lineitem(s, d)
          .select(col("l_returnflag"), q.as("q"), (p * q).as("pq"))
          .groupBy("l_returnflag")
          .agg(when(sq > 0,
            (spq.cast("double") / sq.cast("double")) / 100.0)
            .otherwise(lit(null)).as("wavg_price"))
      }),

    // A8: multi-horizon return/std over the last-N rows per key
    // (alpa.py:292-336): tail-N via row_number from the END, then one agg.
    QueryDef(
      "a8_tail_n_stats",
      Some(s"""WITH ranked AS (
              |  SELECT user_id, value,
              |    row_number() OVER (PARTITION BY user_id
              |      ORDER BY ts DESC, event_id DESC) AS rn
              |  FROM events)
              |SELECT user_id,
              |  arg_max(value, rn) AS first_value,
              |  arg_min(value, rn) AS last_value,
              |  arg_min(value, rn) / NULLIF(arg_max(value, rn), 0.0) - 1.0
              |    AS period_return,
              |  ${oLstd("value")} AS value_std
              |FROM ranked WHERE rn <= 20 GROUP BY user_id""".stripMargin),
      (s, d) => {
        // event_id tiebreak: (user_id, ts) dupes would otherwise make the
        // tail-20 pick nondeterministic across engines (Parity rule 3).
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts").desc, col("event_id").desc)
        Tables.events(s, d)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 20)
          .groupBy("user_id")
          .agg(max_by(col("value"), col("rn")).as("first_value"),
               min_by(col("value"), col("rn")).as("last_value"),
               (min_by(col("value"), col("rn")) /
                 nullif(max_by(col("value"), col("rn")), lit(0.0)) - lit(1.0))
                 .as("period_return"),
               lstd(col("value")).as("value_std"))
      }),

    // A9+A10: threshold-count + all-in-range predicate aggregates
    // (alpa.py:266-290) — bool_and/every via min/max bounds.
    QueryDef(
      "a10_range_predicate",
      Some("""SELECT user_id,
             |  CAST(SUM(CASE WHEN value > 150.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
             |  (min(value) >= 5.0 AND max(value) <= 400.0) AS all_in_band
             |FROM events GROUP BY user_id""".stripMargin),
      (s, d) =>
        Tables.events(s, d).groupBy("user_id")
          .agg(sum(when(col("value") > 150.0, 1).otherwise(0)).cast("long")
                 .as("n_above"),
               (min("value") >= 5.0 && max("value") <= 400.0).as("all_in_band"))),

    // A11: distinct + count_distinct.
    QueryDef(
      "a11_distinct",
      Some("""SELECT event_type, count(DISTINCT user_id) AS n_users,
             |count(*) AS n FROM events GROUP BY event_type""".stripMargin),
      (s, d) =>
        Tables.events(s, d).groupBy("event_type")
          .agg(countDistinct("user_id").as("n_users"), count(lit(1)).as("n"))),

    // A13: stratified per-group sample, deterministic ordering (the seeded
    // 5-per-sector sample of my_alpaca.py:241-246; rand(75) is not
    // reproducible cross-engine, so the "random" order is a hash-free
    // deterministic key).
    QueryDef(
      "a13_stratified_sample",
      Some("""SELECT event_type, user_id FROM (
             |  SELECT event_type, user_id,
             |    row_number() OVER (PARTITION BY event_type
             |                       ORDER BY user_id) AS rn
             |  FROM (SELECT DISTINCT event_type, user_id FROM events))
             |WHERE rn <= 5""".stripMargin),
      (s, d) => {
        val w = Window.partitionBy("event_type").orderBy("user_id")
        Tables.events(s, d).select("event_type", "user_id").distinct()
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5)
          .select("event_type", "user_id")
      }),

    // A14: value counts / frequency table.
    QueryDef(
      "a14_value_counts",
      Some("""SELECT event_type, count(*) AS n
             |FROM events GROUP BY event_type""".stripMargin),
      (s, d) => Tables.events(s, d).groupBy("event_type")
        .agg(count(lit(1)).as("n"))),

    // A15: pivot aggregation — day-of-month x event_type matrix
    // (EDA year x month pivot_table analog). Explicit pivot values keep the
    // output schema static (required for a 100 TB plan: no driver-side
    // distinct to discover columns).
    QueryDef(
      "a15_pivot",
      Some(s"""SELECT CAST(ts AS DATE) AS day,
              |  ${Seq("click", "view", "purchase", "signup", "error").map(t =>
                   s"CAST(SUM(CASE WHEN event_type = '$t' THEN ${oLq("value")}" +
                   s" ELSE NULL END) AS DOUBLE) / 100.0 AS v_$t")
                   .mkString(",\n              |  ")}
              |FROM events GROUP BY CAST(ts AS DATE)""".stripMargin),
      (s, d) => {
        val types = Seq("click", "view", "purchase", "signup", "error")
        // lq long path per cell; SUM over an all-NULL cell stays NULL on
        // both engines (absent day×type combinations)
        val aggs = types.map(t =>
          (sum(when(col("event_type") === t, lq(col("value"))))
            .cast("double") / 100.0).as(s"v_$t"))
        Tables.events(s, d).groupBy(to_date(col("ts")).as("day"))
          .agg(aggs.head, aggs.tail: _*)
      }),

    // A16: group mean over category (lq long path).
    QueryDef(
      "a16_group_mean",
      Some(s"""SELECT event_type, CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
              |  ${oLavg("value")} AS mean_value
              |FROM events GROUP BY 1, 2""".stripMargin),
      (s, d) =>
        Tables.events(s, d)
          .groupBy(col("event_type"), dayofweek(col("ts")).cast("long").as("dow"))
          .agg(lavg(col("value")).as("mean_value"))),

    // A18: arg-max row per group — rank-and-filter with a deterministic
    // tiebreak on the unique event_id (EDA idxmax analog).
    QueryDef(
      "a18_argmax_row",
      Some("""SELECT user_id, event_id AS top_event_id, value AS top_value
             |FROM (
             |  SELECT user_id, event_id, value,
             |    row_number() OVER (PARTITION BY user_id
             |                       ORDER BY value DESC, event_id) AS rn
             |  FROM events) WHERE rn = 1""".stripMargin),
      (s, d) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("value").desc, col("event_id"))
        Tables.events(s, d).withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("event_id").as("top_event_id"),
                  col("value").as("top_value"))
      }),

    // A19: drop first-N rows per key (grouped count-cum trim, my_model.py:59).
    QueryDef(
      "a19_trim_head",
      Some("""SELECT event_id, user_id, ts FROM (
             |  SELECT event_id, user_id, ts,
             |    row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
             |  FROM events) WHERE rn > 10""".stripMargin),
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts")
        Tables.events(s, d).withColumn("rn", row_number().over(w))
          .filter(col("rn") > 10).select("event_id", "user_id", "ts")
      }),

    // A20: describe/summary — count/mean/std/min/max via the lq long-moment
    // path (q² ≤ 1.6e9 → ~5.7e9 rows of global headroom at this domain;
    // beyond that, shard the sum and add as doubles).
    QueryDef(
      "a20_summary_stats",
      Some(s"""SELECT count(value) AS n, ${oLavg("value")} AS mean,
              |  ${oLstd("value")} AS std, min(value) AS vmin,
              |  max(value) AS vmax
              |FROM events""".stripMargin),
      (s, d) =>
        Tables.events(s, d).agg(
          count(col("value")).as("n"), lavg(col("value")).as("mean"),
          lstd(col("value")).as("std"), min("value").as("vmin"),
          max("value").as("vmax"))),

    // A21: correlation from exact sums (identical IEEE tree both sides;
    // builtin corr() accumulates order-dependently so is not hash-safe).
    // Scale-4 decimals: quantity/discount products have exactly 4 decimals
    // and the scaled sums stay far under 2^53 (see Parity doctrine).
    QueryDef(
      "a21_correlation",
      // Correlation is invariant to linear rescaling, so the moments run
      // over INTEGER-QUANTIZED values (quantity is integer-valued,
      // discount is 2-decimal → ×100) — the a21b trick: long sums are a
      // primitive codegen'd hash-agg instead of five decimal
      // accumulators (measured 1.56s → ~0.4s at sf0.1), parity stays
      // exact (both engines sum identical integers, convert once), and
      // the sums stay long-safe to ~2e12 rows per group (|x·y| ≤ 5e5).
      Some({
        val n = "CAST(COUNT(*) AS DOUBLE)"
        def iSum(x: String) = s"CAST(SUM($x) AS DOUBLE)"
        s"""WITH f AS (
           |  SELECT l_returnflag,
           |    CAST(floor(l_quantity) AS BIGINT) AS x,
           |    CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT) AS y
           |  FROM lineitem)
           |SELECT l_returnflag,
           |  (${iSum("x * y")} - ${iSum("x")} * ${iSum("y")} / $n) /
           |  (SQRT(${iSum("x * x")} - ${iSum("x")} * ${iSum("x")} / $n) *
           |   SQRT(${iSum("y * y")} - ${iSum("y")} * ${iSum("y")} / $n))
           |    AS corr_qty_disc
           |FROM f GROUP BY l_returnflag""".stripMargin
      }),
      (s, d) => {
        val n = count(lit(1)).cast("double")
        def iSum(c: Column) = sum(c).cast("double")
        val x = col("x"); val y = col("y")
        val sx = iSum(x); val sy = iSum(y)
        val sxy = iSum(x * y); val sxx = iSum(x * x); val syy = iSum(y * y)
        Tables.lineitem(s, d)
          .select(col("l_returnflag"),
            floor(col("l_quantity")).cast("long").as("x"),
            floor(col("l_discount") * 100.0 + 0.5).cast("long").as("y"))
          .groupBy("l_returnflag")
          .agg(((sxy - sx * sy / n) /
            (sqrt(sxx - sx * sx / n) * sqrt(syy - sy * sy / n)))
            .as("corr_qty_disc"))
      }),

    // A21b: the reference's full PAIRWISE correlation matrix — all
    // k*(k-1)/2 pairs of k feature columns in ONE aggregate pass, upper
    // triangle filtered to |r| > 0.7 (EDA - parte 2.ipynb:447-453). a21
    // above is the single-pair miniature; this is the reference's query.
    //
    // Features are INTEGER-QUANTIZED (whole currency units) derived
    // measures, chosen so every moment sum fits comfortably in a LONG:
    // max |x·y| ≈ 1.2e10, so ~7e8 rows per group fit under 2^63 — three
    // orders of magnitude past this fixture family (switch the square
    // sums to DECIMAL(38,0) beyond that). Long sums keep parity exact at
    // zero decimal-aggregation cost: both engines sum the same integers
    // (DuckDB's hugeint equals the unoverflowed long) and convert to
    // double in ONE correctly-rounded step — same trick as sim1's
    // quantized dot products — and the 21-sum aggregate stays a primitive
    // codegen'd hash-agg instead of 21 decimal accumulators. The
    // quantization floor runs on an IDENTICAL double expression tree both
    // sides, so a boundary-adjacent floor lands identically.
    //
    // Scale shape: one hash-aggregate (map-side partial combine) emitting
    // 1+k+k*(k+1)/2 sums per group; the pair expansion explodes k*(k-1)/2
    // structs per GROUP (3 groups here), never per data row — at 100 TB
    // the matrix cost is the one scan + tiny shuffle, same as a21.
    {
      val featSql: Seq[(String, String)] = Seq(
        "qty_u" -> "CAST(floor(l_quantity) AS BIGINT)",
        "price_u" -> "CAST(floor(l_extendedprice) AS BIGINT)",
        "rev_u" -> "CAST(floor(l_extendedprice * (1.0 - l_discount)) AS BIGINT)",
        "charge_u" -> ("CAST(floor(l_extendedprice * (1.0 - l_discount) " +
          "* (1.0 + l_tax)) AS BIGINT)"),
        "disc_u" -> "CAST(floor(l_extendedprice * l_discount) AS BIGINT)")
      val names = featSql.map(_._1)
      val pairs = for {
        i <- names.indices; j <- names.indices if i < j
      } yield (names(i), names(j))
      def iSum(x: String) = s"CAST(SUM($x) AS DOUBLE)"
      val sumCols =
        names.map(a => s"${iSum(a)} AS s_$a") ++
        (for { i <- names.indices; j <- names.indices if i <= j }
          yield { val (a, b) = (names(i), names(j))
            s"${iSum(s"$a * $b")} AS s_${a}_$b" })
      def oR(a: String, b: String) =
        s"(s_${a}_$b - s_$a * s_$b / n) / " +
        s"(SQRT(s_${a}_$a - s_$a * s_$a / n) * SQRT(s_${b}_$b - s_$b * s_$b / n))"
      val oracle =
        s"""WITH f AS (
           |  SELECT l_returnflag,
           |    ${featSql.map { case (n2, x) => s"$x AS $n2" }.mkString(",\n    ")}
           |  FROM lineitem),
           |sums AS (
           |  SELECT l_returnflag, CAST(COUNT(*) AS DOUBLE) AS n,
           |    ${sumCols.mkString(",\n    ")}
           |  FROM f GROUP BY l_returnflag),
           |pairs AS (
           |  ${pairs.map { case (a, b) =>
                s"SELECT l_returnflag, '$a' AS col_a, '$b' AS col_b, ${oR(a, b)} AS r FROM sums"
              }.mkString("\n  UNION ALL\n  ")})
           |SELECT l_returnflag, col_a, col_b, r FROM pairs
           |WHERE abs(r) > 0.7""".stripMargin
      QueryDef(
        "a21b_corr_matrix",
        Some(oracle),
        (s, d) => {
          val e = col("l_extendedprice")
          val di = col("l_discount")
          val tx = col("l_tax")
          val feats: Seq[(String, Column)] = Seq(
            "qty_u" -> floor(col("l_quantity")).cast("long"),
            "price_u" -> floor(e).cast("long"),
            "rev_u" -> floor(e * (lit(1.0) - di)).cast("long"),
            "charge_u" ->
              floor(e * (lit(1.0) - di) * (lit(1.0) + tx)).cast("long"),
            "disc_u" -> floor(e * di).cast("long"))
          val base = Tables.lineitem(s, d).select(
            col("l_returnflag") +: feats.map { case (n2, c) => c.as(n2) }: _*)
          def iSumC(c: Column) = sum(c).cast("double")
          val aggs =
            names.map(a => iSumC(col(a)).as(s"s_$a")) ++
            (for { i <- names.indices; j <- names.indices if i <= j }
              yield { val (a, b) = (names(i), names(j))
                iSumC(col(a) * col(b)).as(s"s_${a}_$b") })
          val sums = base.groupBy("l_returnflag")
            .agg(count(lit(1)).cast("double").as("n"), aggs: _*)
          def rr(a: String, b: String): Column = {
            val (sx, sy) = (col(s"s_$a"), col(s"s_$b"))
            val (sxy, sxx, syy) =
              (col(s"s_${a}_$b"), col(s"s_${a}_$a"), col(s"s_${b}_$b"))
            (sxy - sx * sy / col("n")) /
              (sqrt(sxx - sx * sx / col("n")) * sqrt(syy - sy * sy / col("n")))
          }
          sums.select(col("l_returnflag"),
              explode(array(pairs.map { case (a, b) =>
                struct(lit(a).as("col_a"), lit(b).as("col_b"),
                  rr(a, b).as("r"))
              }: _*)).as("p"))
            .select(col("l_returnflag"), col("p.col_a").as("col_a"),
              col("p.col_b").as("col_b"), col("p.r").as("r"))
            .filter(abs(col("r")) > 0.7)
        })
    },

    // A22: exact multi-quantile (p25/p50/p75/p95) per group via a bounded
    // VALUE-GRID histogram — the distributed-exact-quantile shape. The
    // data carries 2-decimal values, so the cent grid is lossless and the
    // histogram size is bounded by RANGE/resolution, independent of row
    // count: at 100 TB the histogram is still ~10^4-10^5 rows. Quantile
    // definition: lower order statistic — smallest grid value whose
    // cumulative count reaches ceil(q·n), all positions in integer math.
    // The per-group cumulative window runs over the HISTOGRAM (same
    // bounded-domain contract as mlprep's histogramMedian, guard included);
    // the data-sized work is one hash aggregate.
    QueryDef(
      "a22_grid_quantiles",
      Some(Walk.oWalk(s"(SELECT event_type, ${oLq("value")} AS vc FROM events)",
        Seq("event_type"), "vc")("CAST(max(n) AS BIGINT) AS n" +:
        Seq(25, 50, 75, 95).map(p => s"${oCentQuantile(p)} AS p$p"): _*)),
      (s, d) =>
        Walk.walk(Tables.events(s, d)
            .select(col("event_type"), lq(col("value")).as("vc")),
          Seq("event_type"), "vc", "a22_grid_quantiles")(
          ("n" -> max("n")) +:
            Seq(25, 50, 75, 95).map(p => s"p$p" -> centQuantile(p)): _*)),

    // A23: exact per-group mode (most frequent value, deterministic
    // min-value tiebreak) — the categorical summary pandas `.mode()`
    // gives for free and a distributed engine has to earn: one hash
    // aggregate builds the per-(group, value) histogram, then a
    // row_number window over that HISTOGRAM (≤ |value domain| rows per
    // group — bounded, like a22's) picks the winner. No data-sized sort.
    QueryDef(
      "a23_mode",
      Some("""WITH c AS (
             |  SELECT user_id, event_type, count(*) AS cnt
             |  FROM events GROUP BY 1, 2),
             |r AS (
             |  SELECT user_id, event_type, cnt,
             |    row_number() OVER (PARTITION BY user_id
             |      ORDER BY cnt DESC, event_type) AS rn
             |  FROM c)
             |SELECT user_id, event_type AS mode_type, cnt AS mode_count
             |FROM r WHERE rn = 1""".stripMargin),
      (s, d) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("cnt").desc, col("event_type"))
        Tables.events(s, d)
          .groupBy("user_id", "event_type")
          .agg(count(lit(1)).as("cnt"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("event_type").as("mode_type"),
            col("cnt").as("mode_count"))
      }),

    // A24: chi-square contingency audit — the categorical complement of
    // a21's correlation EDA: observed vs expected counts of
    // event_type × value tier (f15's bands), per-cell contribution
    // (o−e)²/e, and the summed statistic carried on every row. One
    // data-sized hash aggregate builds the 25-cell table; the marginal
    // totals and the statistic are windows over THOSE CELLS (bounded —
    // the histogram-first doctrine again). Expected counts and
    // contributions derive from exact integer counts through one IEEE
    // tree, so the oracle matches bitwise.
    QueryDef(
      "a24_chisq",
      Some("""WITH cells AS (
             |  SELECT event_type,
             |    CASE WHEN value < 1.0 THEN 't0' WHEN value < 10.0 THEN 't1'
             |         WHEN value < 50.0 THEN 't2' WHEN value < 200.0 THEN 't3'
             |         ELSE 't4' END AS tier,
             |    count(*) AS o
             |  FROM events GROUP BY 1, 2),
             |m AS (
             |  SELECT event_type, tier, CAST(o AS BIGINT) AS o,
             |    CAST(sum(o) OVER (PARTITION BY event_type) AS DOUBLE) AS rt,
             |    CAST(sum(o) OVER (PARTITION BY tier) AS DOUBLE) AS ct,
             |    CAST(sum(o) OVER () AS DOUBLE) AS n
             |  FROM cells),
             |c AS (
             |  SELECT event_type, tier, o,
             |    rt * ct / n AS e,
             |    (CAST(o AS DOUBLE) - rt * ct / n) *
             |      (CAST(o AS DOUBLE) - rt * ct / n) / (rt * ct / n)
             |      AS contrib
             |  FROM m)
             |SELECT event_type, tier, o, e, contrib,
             |  CAST(sum(CAST(floor(contrib * 1000000000.0 + 0.5) AS BIGINT))
             |    OVER () AS DOUBLE) / 1000000000.0 AS chi2
             |FROM c""".stripMargin),
      (s, d) => {
        val tier = when(col("value") < 1.0, "t0")
          .when(col("value") < 10.0, "t1")
          .when(col("value") < 50.0, "t2")
          .when(col("value") < 200.0, "t3")
          .otherwise("t4")
        val allW = Window.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)
        val rt = sum("o").over(Window.partitionBy("event_type")
          .rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)).cast("double")
        val ct = sum("o").over(Window.partitionBy("tier")
          .rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)).cast("double")
        val n = sum("o").over(allW).cast("double")
        val e = col("rt") * col("ct") / col("n")
        val contrib = (col("o").cast("double") - e) *
          (col("o").cast("double") - e) / e
        Tables.events(s, d)
          .groupBy(col("event_type"), tier.as("tier"))
          .agg(count(lit(1)).as("o"))
          .select(col("event_type"), col("tier"), col("o"),
            rt.as("rt"), ct.as("ct"), n.as("n"))
          .select(col("event_type"), col("tier"), col("o"),
            e.as("e"), contrib.as("contrib"))
          // cross-cell sum of doubles is order-dependent → quantize each
          // contribution to the 1e-9 grid and sum longs (order-free)
          .withColumn("chi2",
            sum(floor(col("contrib") * 1000000000.0 + 0.5).cast("long"))
              .over(allW).cast("double") / 1000000000.0)
      }),

    // A25: KMV (k-minimum-values) cardinality sketch — the distinct-count
    // sketch that, unlike HLL, is DETERMINISTIC given the hash function
    // and therefore oracle-verifiable bit-for-bit: estimate
    // (k−1) / (h_(k) / 2^32) from the k-th smallest distinct 32-bit hash
    // of each source's BIGRAMS (per-source distinct bigrams ≫ k = 64, so
    // the sketch regime — not the exact tail — is what verifies; expected
    // relative error ~1/√(k−2) ≈ 13%). The sketch is what a 100 TB
    // profile job ships between stages — k longs per group instead of the
    // full distinct set. The exact count rides along as the audit column.
    // Shape: grams are hashed per row (no text on any shuffle); one
    // hash-agg collapses the stream to DISTINCT (source, hash) rows —
    // gram-vocabulary-bounded, the only data-sized work; the k-th order
    // statistic is a row_number window over that bounded set.
    QueryDef(
      "a25_kmv_distinct",
      Some(kmvDistinctOracle),
      (s, d) => {
        // the k-th order statistic comes from the native KMV aggregate
        // (functions/KmvSketchAgg): partial state = the ≤64 minima per
        // (source, partition), merged k-small — no per-source whole-set
        // sort (a row_number window here puts ALL of a source's distinct
        // grams through ONE task; the 20× probe flagged that serial
        // n·log n term at 55× before this shape landed)
        val kth = least(lit(64), col("n_exact")).cast("int")
        Tables.fanOut(Tables.documents(s, d))
          .select(col("source"),
            explode(graft.operators.TextOps.shingleHashes(col("text"), 2))
              .as("h"))
          .distinct() // the exact-count audit column needs distinct rows
          .groupBy("source")
          .agg(count(lit(1)).as("n_exact"),
            expr("kmv_sketch_agg(h, 64)").as("mins"))
          .select(col("source"), col("n_exact"),
            kth.cast("long").as("k"),
            Kmv.estimate(kth, element_at(col("mins"), kth))
              .as("kmv_estimate"))
      }),

    // A25B: KMV sketch MERGE — the property that makes the sketch a
    // persistable artifact (a33b's HLL range-merge, for the order-
    // statistic sketch): build an INDEPENDENT sketch per (source, shard)
    // — shards stand in for day partitions / ingestion batches — then
    // re-aggregate the exploded minima through the SAME kmv_sketch_agg,
    // and the merged sketch must equal the direct whole-corpus build
    // (global k smallest ⊆ every containing shard's k smallest, so
    // k-min of the per-shard k-mins IS the global k-min; duplicates
    // across shards die in the buffer's distinct check). The oracle is
    // a25's verbatim — DuckDB computes the direct order statistic, so
    // the hash compare proves merge ≡ direct. At 100 TB this is the
    // plan that never recomputes: per-partition sketches persist at
    // write time; any cross-partition ndv is a 64-longs-per-shard
    // re-aggregation.
    QueryDef(
      "a25b_kmv_merge",
      Some(kmvDistinctOracle),
      (s, d) => {
        val kth = least(lit(64), col("n_exact")).cast("int")
        // ONE gram explode feeds both consumers: the (source, shard, h)
        // DISTINCT is a single exchange whose subtree is plan-identical
        // under the sketch branch and the exact-audit branch, so
        // ReuseExchange materializes the shingle/hash pass once. (r13:
        // the previous shape re-ran the full explode+split per branch —
        // that split/concat expression is the row's hot loop, and on
        // reps where Spark leaves it on the interpreted eval path it
        // dominated the board's noisiest row at 10-30s. A prior round's
        // persisted collect_set vocabulary frame was the GC outlier —
        // this shape shuffles the deduped 8-byte hashes once and caches
        // nothing on the heap.) Semantics unchanged: kmv_sketch_agg's
        // buffer dedupes anyway, and countDistinct over shard-distinct
        // rows is the same per-source distinct count.
        val grams = Tables.fanOut(Tables.documents(s, d))
          .select(col("source"), (col("doc_id") % 7).as("shard"),
            explode(graft.operators.TextOps.shingleHashes(col("text"), 2))
              .as("h"))
          .distinct()
        val perShard = grams
          .groupBy("source", "shard")
          .agg(expr("kmv_sketch_agg(h, 64)").as("mins"))
        val merged = perShard
          .select(col("source"), explode(col("mins")).as("h"))
          .groupBy("source")
          .agg(expr("kmv_sketch_agg(h, 64)").as("mins"))
        // audit branch: exact per-source distinct count over the same
        // deduped exchange (h can recur across shards — countDistinct,
        // not count)
        val nExact = grams.groupBy("source")
          .agg(count_distinct(col("h")).as("n_exact"))
        merged.join(broadcast(nExact), "source")
          .select(col("source"), col("n_exact"),
            kth.cast("long").as("k"),
            Kmv.estimate(kth, element_at(col("mins"), kth))
              .as("kmv_estimate"))
      }),

    // A26: ordered funnel analysis — per user, the earliest
    // view → click-after-view → purchase-after-click chain and the funnel
    // stage reached (the product-analytics sequence-match over the event
    // stream), each step constrained to a 1-day conversion window from
    // the previous step. Each step is ONE conditional min over the SAME user-keyed
    // aggregate shape; the step dependency (click must follow the first
    // view) rides a broadcast join of the previous step's tiny per-user
    // frame — three bounded aggregates, zero windows over raw events.
    // Timestamps are exact (µs), so min/comparison chains are
    // deterministic on both engines.
    QueryDef(
      "a26_funnel",
      Some("""WITH v AS (
             |  SELECT user_id, min(ts) AS first_view
             |  FROM events WHERE event_type = 'view' GROUP BY 1),
             |c AS (
             |  SELECT e.user_id, min(e.ts) AS first_click
             |  FROM events e JOIN v ON e.user_id = v.user_id
             |  WHERE e.event_type = 'click' AND e.ts > v.first_view
             |    AND e.ts <= v.first_view + INTERVAL 1 DAY
             |  GROUP BY 1),
             |p AS (
             |  SELECT e.user_id, min(e.ts) AS first_purchase
             |  FROM events e JOIN c ON e.user_id = c.user_id
             |  WHERE e.event_type = 'purchase' AND e.ts > c.first_click
             |    AND e.ts <= c.first_click + INTERVAL 1 DAY
             |  GROUP BY 1),
             |u AS (SELECT DISTINCT user_id FROM events)
             |SELECT u.user_id, v.first_view, c.first_click,
             |  p.first_purchase,
             |  CAST(CASE WHEN p.user_id IS NOT NULL THEN 3
             |       WHEN c.user_id IS NOT NULL THEN 2
             |       WHEN v.user_id IS NOT NULL THEN 1
             |       ELSE 0 END AS BIGINT) AS funnel_stage
             |FROM u
             |LEFT JOIN v ON u.user_id = v.user_id
             |LEFT JOIN c ON u.user_id = c.user_id
             |LEFT JOIN p ON u.user_id = p.user_id""".stripMargin),
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("user_id"), col("ts"), col("event_type"))
          .persist() // four readers: the user dim + three step aggregates
        val v = ev.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min("ts").as("first_view"))
        val c = ev.filter(col("event_type") === "click")
          .join(broadcast(v), "user_id")
          .filter(col("ts") > col("first_view") &&
            col("ts") <= col("first_view") + expr("INTERVAL 1 DAY"))
          .groupBy("user_id").agg(min("ts").as("first_click"))
        val p = ev.filter(col("event_type") === "purchase")
          .join(broadcast(c), "user_id")
          .filter(col("ts") > col("first_click") &&
            col("ts") <= col("first_click") + expr("INTERVAL 1 DAY"))
          .groupBy("user_id").agg(min("ts").as("first_purchase"))
        ev.select("user_id").distinct()
          .join(broadcast(v), Seq("user_id"), "left")
          .join(broadcast(c), Seq("user_id"), "left")
          .join(broadcast(p), Seq("user_id"), "left")
          .select(col("user_id"), col("first_view"), col("first_click"),
            col("first_purchase"),
            when(col("first_purchase").isNotNull, 3L)
              .when(col("first_click").isNotNull, 2L)
              .when(col("first_view").isNotNull, 1L)
              .otherwise(0L).as("funnel_stage"))
      }),

    // A27: cohort retention matrix — users grouped by first-activity week,
    // then for each later week the fraction of the cohort still active
    // (the product-analytics companion to a26's funnel). Scale shape: the
    // user×week activity grid is ONE hash aggregate over the events (the
    // distinct), the cohort is a second user-keyed aggregate reusing the
    // same user_id exchange, and the retention ratio is a window over the
    // BOUNDED cohort×period table (≤ weeks² rows), never the data.
    // Weeks are Monday-truncated on both engines; counts are exact longs,
    // so the final ratio is one identical IEEE division.
    QueryDef(
      "a27_retention",
      Some("""WITH uw AS (
             |  SELECT DISTINCT user_id,
             |    CAST(date_trunc('week', ts) AS DATE) AS week
             |  FROM events),
             |co AS (
             |  SELECT user_id, min(week) AS cohort_week
             |  FROM uw GROUP BY 1),
             |act AS (
             |  SELECT co.cohort_week,
             |    CAST(date_diff('day', co.cohort_week, uw.week) // 7
             |      AS INT) AS period,
             |    count(*) AS n_active
             |  FROM uw JOIN co ON uw.user_id = co.user_id
             |  GROUP BY 1, 2)
             |SELECT cohort_week, period, n_active,
             |  max(CASE WHEN period = 0 THEN n_active END)
             |    OVER (PARTITION BY cohort_week) AS cohort_size,
             |  CAST(n_active AS DOUBLE) /
             |    CAST(max(CASE WHEN period = 0 THEN n_active END)
             |      OVER (PARTITION BY cohort_week) AS DOUBLE) AS retention
             |FROM act""".stripMargin),
      (s, d) => {
        val uw = Tables.events(s, d)
          .select(col("user_id"),
            date_trunc("week", col("ts")).cast("date").as("week"))
          .distinct()
        val co = uw.groupBy("user_id").agg(min("week").as("cohort_week"))
        val act = uw.join(co, "user_id")
          .groupBy(col("cohort_week"),
            (datediff(col("week"), col("cohort_week")) / 7)
              .cast("int").as("period"))
          .agg(count(lit(1)).as("n_active"))
        val wCo = Window.partitionBy("cohort_week")
        val size0 =
          max(when(col("period") === 0, col("n_active"))).over(wCo)
        act.select(col("cohort_week"), col("period"), col("n_active"),
          size0.as("cohort_size"),
          (col("n_active").cast("double") / size0.cast("double"))
            .as("retention"))
      }),

    // A28: count-min-sketch heavy hitters — frequency estimation from a
    // FIXED d×w=4×64 counter grid instead of a per-key table (Cormode &
    // Muthukrishnan 2005). Like a25's KMV, the sketch is DETERMINISTIC
    // given the (portable md5-prefix) hash functions, so the estimates
    // themselves hash-verify against the oracle. The exact count rides
    // along as the audit column — est ≥ exact always (CMS never
    // undercounts; overshoot = colliding keys' mass), which the spec
    // asserts and the output exhibits; a real 100 TB deployment keeps
    // only the 256-cell sketch and drops the exact branch — that is the
    // point of the operator.
    //
    // Scale shape: the sketch build is ONE hash aggregate to a 256-row
    // table (d per-row expressions, no shuffle wider than 256 cells);
    // point queries join the broadcast sketch. Nothing data-sized ever
    // sorts or shuffles beyond the one aggregate exchange.
    QueryDef(
      "a28_cms_topk",
      Some("""WITH probes AS (SELECT unnest([0, 1, 2, 3]) AS ri),
             |cells AS (
             |  SELECT ri,
             |    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR) || '#'
             |      || CAST(ri AS VARCHAR)), 1, 8) AS BIGINT) % 64
             |      AS bucket,
             |    count(*) AS cnt
             |  FROM events CROSS JOIN probes GROUP BY 1, 2),
             |users AS (SELECT DISTINCT user_id FROM events),
             |est AS (
             |  SELECT u.user_id, min(c.cnt) AS cms_count
             |  FROM users u CROSS JOIN probes p
             |  JOIN cells c ON c.ri = p.ri AND c.bucket =
             |    CAST('0x' || substr(md5(CAST(u.user_id AS VARCHAR) || '#'
             |      || CAST(p.ri AS VARCHAR)), 1, 8) AS BIGINT) % 64
             |  GROUP BY 1),
             |exact AS (
             |  SELECT user_id, count(*) AS exact_count
             |  FROM events GROUP BY 1)
             |SELECT est.user_id, est.cms_count, exact.exact_count
             |FROM est JOIN exact USING (user_id)
             |ORDER BY est.cms_count DESC, est.user_id
             |LIMIT 20""".stripMargin),
      (s, d) => {
        val w = 64
        def bucketOf(u: Column, ri: Column): Column =
          hash32(concat(u.cast("string"), lit("#"), ri.cast("string"))) % w
        val ev = Tables.events(s, d).select("user_id")
        val cells = ev
          .select(col("user_id"),
            explode(sequence(lit(0), lit(3))).as("ri"))
          .select(col("ri"),
            bucketOf(col("user_id"), col("ri")).as("bucket"))
          .groupBy("ri", "bucket").agg(count(lit(1)).as("cnt"))
        // The exact-count aggregate IS the distinct-user table — probing
        // the sketch from it (exact_count riding along as the audit
        // column) folds what used to be a separate distinct() + final
        // re-join into one aggregate: two scans of `ev` total, one
        // broadcast consumer, same oracle. (r6 flagged a28's sample
        // spread; per-sample GC forensics showed the stalls were not
        // heap — shrinking the number of jobs/exchanges shrinks the
        // surface an environmental stall can land on.)
        val exact = ev.groupBy("user_id")
          .agg(count(lit(1)).as("exact_count"))
        exact
          .select(col("user_id"), col("exact_count"),
            explode(sequence(lit(0), lit(3))).as("ri"))
          .select(col("user_id"), col("exact_count"), col("ri"),
            bucketOf(col("user_id"), col("ri")).as("bucket"))
          .join(broadcast(cells), Seq("ri", "bucket"))
          .groupBy("user_id")
          .agg(min("cnt").as("cms_count"), max("exact_count").as("exact_count"))
          .orderBy(col("cms_count").desc, col("user_id"))
          .limit(20)
          .select("user_id", "cms_count", "exact_count")
      }),

    // A29: Gini coefficient per group — the inequality audit next to the
    // HHI concentration index (a6), via the rank-weighted form
    // G = Σ(2r−n−1)x / (n·Σx) computed HISTOGRAM-FIRST: per distinct
    // cent value the tie block's rank sum is closed-form
    // (2(cR + c(c+1)/2) − c(n+1), ranks R+1..R+c), so the only data-sized
    // work is one hash aggregate to the (group, cent) histogram; the
    // rank windows run over the BOUNDED histogram, never the data (the
    // a22/a23 pattern). All integer until one final IEEE division —
    // long-safe while x·2n² < 2^63 (n ≈ 2e6 rows/group at cent values
    // ≤1e5; switch the contribution sum to DECIMAL(38,0) beyond).
    QueryDef(
      "a29_gini",
      Some(Walk.oWalk(s"(SELECT event_type, ${oLq("value")} AS vc " +
          "FROM events WHERE value IS NOT NULL)", Seq("event_type"), "vc")(
        "CAST(min(n) AS BIGINT) AS n",
        """CAST(sum(vc * (2 * (cnt * (cum - cnt) + cnt * (cnt + 1) // 2)
          |    - cnt * (n + 1))) AS DOUBLE) /
          |  (CAST(min(n) AS DOUBLE) * CAST(sum(vc * cnt) AS DOUBLE))
          |    AS gini""".stripMargin)),
      (s, d) =>
        // DIV: exact integer division (Column `/` would go through
        // double); cnt·(cnt+1) is even so the halving is lossless
        Walk.walk(Tables.events(s, d).filter(col("value").isNotNull)
            .select(col("event_type"), lq(col("value")).as("vc")),
          Seq("event_type"), "vc", "a29_gini")(
          "n" -> min("n"),
          "gini" -> (sum(expr("vc * (2 * (cnt * (cum - cnt) + " +
              "cnt * (cnt + 1) DIV 2) - cnt * (n + 1))")).cast("double") /
            (min("n").cast("double") *
             sum(col("vc") * col("cnt")).cast("double"))))),

    // A30: robust outlier detection per group — median absolute deviation
    // (MAD), the data-quality screen that, unlike mean/std z-scores,
    // outliers can't poison. Everything runs on the INTEGER cent grid:
    // med2 = sum of the two middle cent order statistics (2×median, so an
    // even-count .5-cent median needs no fraction), deviations in
    // half-cents dev = |2·vc − med2|, mad2 = the two middle deviation
    // order statistics summed (4×MAD·100), and the 3-MAD flag is the pure
    // integer comparison 2·dev > 3·mad2 — no float enters ANY decision;
    // the reported median/mad de-scale once at the output.
    //
    // Scale shape: two grouped histogram passes (the a22/a23/a29 grid
    // pattern — windows over the bounded (group, cent) table, never the
    // data) + two broadcast dims joined back; the data-sized work is two
    // hash aggregates and one scan.
    QueryDef(
      "a30_mad_outliers",
      Some(s"""WITH ev AS (
             |  SELECT event_id, event_type, value,
             |    ${oLq("value")} AS vc
             |  FROM events WHERE value IS NOT NULL),
             |m1 AS (
             |  ${Walk.oWalk("ev", Seq("event_type"), "vc")(
                    s"${Walk.oMedian2("vc")} AS med2")}),
             |dv AS (
             |  SELECT ev.*, m1.med2, abs(2 * ev.vc - m1.med2) AS dev
             |  FROM ev JOIN m1 USING (event_type)),
             |m2 AS (
             |  ${Walk.oWalk("dv", Seq("event_type"), "dev")(
                    s"${Walk.oMedian2("dev")} AS mad2")})
             |SELECT dv.event_id, dv.event_type, dv.value,
             |  CAST(dv.med2 AS DOUBLE) / 200.0 AS med,
             |  CAST(m2.mad2 AS DOUBLE) / 400.0 AS mad,
             |  2 * dv.dev > 3 * m2.mad2 AS is_outlier
             |FROM dv JOIN m2 USING (event_type)""".stripMargin),
      (s, d) => {
        def med2(df: DataFrame, v: String, as: String): DataFrame =
          Walk.walk(df, Seq("event_type"), v, "a30_mad_outliers")(
            as -> Walk.median2(v))
        val ev = Tables.events(s, d)
          .filter(col("value").isNotNull)
          .select(col("event_id"), col("event_type"), col("value"),
            lq(col("value")).as("vc"))
        val dv = ev.join(broadcast(med2(ev, "vc", "med2")), "event_type")
          .withColumn("dev", abs(lit(2) * col("vc") - col("med2")))
        dv.join(broadcast(med2(dv, "dev", "mad2")), "event_type")
          .select(col("event_id"), col("event_type"), col("value"),
            (col("med2").cast("double") / 200.0).as("med"),
            (col("mad2").cast("double") / 400.0).as("mad"),
            (lit(2) * col("dev") > lit(3) * col("mad2")).as("is_outlier"))
      }),

    // A31: Shannon entropy of each user's event-type mix — the
    // behavioral-diversity metric (0 = single-type user, ln 5 ≈ 1.609 =
    // uniform over the 5 types), the information-theoretic sibling of
    // a6's HHI, via H = ln n − (Σ c·ln c)/n. One hash aggregate to the
    // (user, type) count table; the per-user total is a window over that
    // table (≤ |types| rows per partition).
    //
    // Parity is double-layered here because ln itself is the hazard:
    // JVM Math.log and DuckDB's libm CAN differ by one ulp on rare
    // inputs (observed at sf0.001), so (1) the c·ln c terms are
    // quantized to the COARSE 1e-6 grid before the long sum — an ulp of
    // ln moves the scaled term by ~1e-8 of a quantum, so a floor flip is
    // vanishingly rare (the tx10/tx12 surprisal regime; a fine 1e-15
    // grid amplified exactly such a flip into a mismatch) — and (2) the
    // final entropy is rounded to the 1e-9 grid so the bare ln(n)
    // factor's possible last-ulp wobble can't surface in the hash.
    QueryDef(
      "a31_entropy",
      Some("""WITH c AS (
             |  SELECT user_id, event_type, count(*) AS c
             |  FROM events GROUP BY 1, 2),
             |q AS (
             |  SELECT user_id,
             |    CAST(sum(c) OVER (PARTITION BY user_id) AS BIGINT) AS n,
             |    CAST(floor(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))
             |      * 1000000.0 + 0.5) AS BIGINT) AS sq
             |  FROM c)
             |SELECT user_id, min(n) AS n_events, count(*) AS n_types,
             |  round(ln(CAST(min(n) AS DOUBLE)) -
             |    (CAST(sum(sq) AS DOUBLE) / 1000000.0) /
             |      CAST(min(n) AS DOUBLE), 9) AS entropy
             |FROM q GROUP BY user_id""".stripMargin),
      (s, d) => {
        val c = Tables.events(s, d)
          .groupBy("user_id", "event_type").agg(count(lit(1)).as("c"))
        val cd = col("c").cast("double")
        val q = c.select(col("user_id"),
          sum("c").over(Window.partitionBy("user_id")).as("n"),
          floor(cd * log(cd) * 1000000.0 + 0.5).cast("long").as("sq"))
        q.groupBy("user_id")
          .agg(min("n").as("n_events"), count(lit(1)).as("n_types"),
            round(log(min("n").cast("double")) -
              (sum("sq").cast("double") / 1000000.0) /
                min("n").cast("double"), 9).as("entropy"))
      }),

    // A32: EXACT median over an UNBOUNDED value domain — the two-pass
    // bucket-locate algorithm that removes histogramMedian's
    // bounded-domain contract: (1) min/max/count bounds, (2) a 4096-cell
    // range-bucket histogram locates which bucket holds each middle
    // order statistic and its rank offset inside it, (3) only that
    // bucket's rows (~n/4096) are sorted — the full data never passes
    // through one partition at any domain. Order statistics on a
    // multiset are tie-insensitive, so the within-bucket row_number
    // needs no tiebreak. Median = mean of the two middle statistics,
    // identical IEEE tree both engines; the oracle picks the same order
    // statistics directly (ORDER BY ... OFFSET k). Degenerate input
    // (zero non-null values): the Spark plan's joins yield ZERO rows, so
    // the oracle's global aggregate carries a HAVING count(*) > 0 guard
    // to return zero rows too instead of one all-NULL row.
    QueryDef(
      "a32_median_2pass",
      Some("""WITH v AS (
             |  SELECT value,
             |    row_number() OVER (ORDER BY value) AS rn,
             |    count(*) OVER () AS n
             |  FROM events WHERE value IS NOT NULL)
             |SELECT CAST(min(n) AS BIGINT) AS n,
             |  (min(CASE WHEN rn = (n + 1) // 2 THEN value END) +
             |   min(CASE WHEN rn = (n + 2) // 2 THEN value END)) / 2.0
             |    AS median
             |FROM v
             |HAVING count(*) > 0""".stripMargin),
      (s, d) => {
        val B = 4096
        val ev = Tables.events(s, d)
          .filter(col("value").isNotNull).select("value")
          .persist() // three passes: bounds, bucket histogram, pick
        val bounds = ev.agg(min("value").as("lo"), max("value").as("hi"),
          count(lit(1)).as("n"))
        val span = col("hi") - col("lo")
        val idx = when(span > 0, least(
            floor((col("value") - col("lo")) / span * B).cast("long"),
            lit(B - 1L)))
          .otherwise(lit(0L))
        val bucketed = ev.crossJoin(broadcast(bounds))
          .select(col("value"), idx.as("bk"), col("n"))
        val cumW = Window.orderBy("bk")
          .rowsBetween(Window.unboundedPreceding, 0)
        // ≤4096-row histogram; ranks of the two middle order statistics
        val hist = bucketed.groupBy("bk")
          .agg(count(lit(1)).as("c"), min("n").as("n"))
          .withColumn("cum", sum("c").over(cumW))
          .withColumn("before", col("cum") - col("c"))
        // the bucket holding rank r, and r's offset within it (1-based)
        def pick(rank: Column, tag: String) = hist
          .filter(col("before") < rank && rank <= col("cum"))
          .select(col("bk").as(s"bk_$tag"),
            (rank - col("before")).as(s"off_$tag"))
        val rLo = expr("(n + 1) DIV 2"); val rHi = expr("(n + 2) DIV 2")
        val picks = broadcast(pick(rLo, "lo").crossJoin(pick(rHi, "hi")))
        val wIn = (t: String) => Window.partitionBy(s"bk_$t")
          .orderBy("value")
        val vLo = bucketed.join(picks, col("bk") === col("bk_lo"))
          .withColumn("rn", row_number().over(wIn("lo")))
          .filter(col("rn") === col("off_lo"))
          .select(col("value").as("v_lo"), col("n"))
        val vHi = bucketed.join(picks, col("bk") === col("bk_hi"))
          .withColumn("rn", row_number().over(wIn("hi")))
          .filter(col("rn") === col("off_hi"))
          .select(col("value").as("v_hi"))
        vLo.crossJoin(broadcast(vHi))
          .select(col("n"), ((col("v_lo") + col("v_hi")) / 2.0)
            .as("median"))
      }),

    // A33: HyperLogLog distinct-count sketch (Flajolet et al. 2007) —
    // the register-based, streaming-mergeable distinct estimator that
    // completes the sketch family next to KMV order statistics (a25) and
    // Count-Min heavy hitters (a28). m=256 registers (p=8, ~6.5% rse):
    // bucket = low 8 bits of the portable hash, rho = leading-zero rank
    // of the remaining 24 bits, register = max(rho) per bucket.
    //
    // PORTABILITY: bucket/rho are pure integer arithmetic over hash32 —
    // bit length is a 24-term comparison sum (no engine-specific bin()/
    // log2 whose string/float behavior could diverge); the harmonic-sum
    // terms 2^(25-M_j) are EXACT longs so both engines sum identical
    // integers; alpha_256 enters as division expressions (never printed
    // decimals, per the oracle-literal rule); the linear-counting ln is
    // rounded at 9 per the log-parity doctrine.
    //
    // Scale shape: NO distinct shuffle — the map-side partial aggregate
    // folds every partition down to ≤ m register maxima per group before
    // the exchange, so the shuffle carries |groups|·256 fixed-width rows
    // REGARDLESS of input size; that is the whole point of HLL at 100 TB
    // (exact count-distinct shuffles every distinct key). The n_exact
    // branch here is the accuracy audit (a real count-distinct, like
    // sim8's recall audit) — production drops it and keeps the sketch.
    QueryDef(
      "a33_hll_distinct",
      Some(hllDistinctOracle),
      (s, d) => {
        val ev = Tables.events(s, d)
        val regs = Hll.registers(ev.select(col("event_type"),
          hash32(col("user_id").cast("string")).as("h")), "event_type")
        val est = Hll.estimates(ev.select("event_type").distinct(), regs,
          "hll_estimate")
        val exact = ev.groupBy("event_type")
          .agg(countDistinct("user_id").as("n_exact"))
        exact.join(broadcast(est), "event_type")
          .select(col("event_type"), col("n_exact"), col("hll_estimate"),
            round((col("hll_estimate") - col("n_exact").cast("double")) /
                  col("n_exact").cast("double"), 9).as("rel_err"))
      }),

    // A33b: HLL sketch MERGE — the property that makes the sketch the
    // 100 TB answer: per-day register tables (event_type, day, bucket,
    // max-rho — 256 longs per group per day) are what a warehouse
    // persists, and ANY date-range distinct-count query is then a
    // register-wise max-merge over the matching days, never a raw-data
    // rescan. Because max is associative/commutative, the merged sketch
    // is EXACTLY the sketch of the union (HllMergeSpec proves merged ≡
    // a33's direct global estimate bit-for-bit). The per-day estimate
    // sum alongside it prices cross-day repeat visitors:
    // repeat_ratio = Σ daily_est / merged_est ≈ mean days-active per
    // distinct user. Daily estimates are quantized to a 1e-6 long grid
    // before the cross-day sum (never sum raw doubles — the a31 rule).
    QueryDef(
      "a33b_hll_merge",
      Some {
        s"""WITH h AS (
           |  SELECT event_type, CAST(ts AS DATE) AS day,
           |    ${oHash32("CAST(user_id AS VARCHAR)")} AS h
           |  FROM events),
           |${Hll.oRegisters("d", "h", "event_type", "day")},
           |${Hll.oEstimates("d", "SELECT DISTINCT event_type, day FROM h",
               "dregs", "event_type", "day")},
           |dsum AS (
           |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
           |    CAST(CAST(sum(CAST(floor(est * 1000000.0 + 0.5) AS BIGINT))
           |              AS BIGINT) AS DOUBLE) / 1000000.0
           |      AS sum_daily_estimates
           |  FROM dest GROUP BY 1),
           |mregs AS (
           |  SELECT event_type, bucket, max(mj) AS mj
           |  FROM dregs GROUP BY 1, 2),
           |${Hll.oEstimates("m", "SELECT DISTINCT event_type FROM events",
               "mregs", "event_type")}
           |SELECT d.event_type, d.n_days, m.est AS merged_estimate,
           |  d.sum_daily_estimates,
           |  round(d.sum_daily_estimates / m.est, 9) AS repeat_ratio
           |FROM dsum d JOIN mest m ON d.event_type = m.event_type""".stripMargin
      },
      (s, d) => {
        val ev = Tables.events(s, d)
        val hashed = ev.select(col("event_type"),
          to_date(col("ts")).as("day"),
          hash32(col("user_id").cast("string")).as("h"))
        // the persisted artifact at scale: per-day register tables
        val dregs = Hll.registers(hashed, "event_type", "day")
          .persist() // daily-estimate and merge branches both read it
        val dest = Hll.estimates(
          hashed.select("event_type", "day").distinct(), dregs, "est")
        val dsum = dest.groupBy("event_type")
          .agg(count(lit(1)).as("n_days"),
            (sum(floor(col("est") * 1000000.0 + 0.5).cast("long"))
              .cast("double") / 1000000.0).as("sum_daily_estimates"))
        // the range query: register-wise max over the day sketches
        val mregs = dregs.groupBy("event_type", "bucket")
          .agg(max("mj").as("mj"))
        val mest = Hll.estimates(ev.select("event_type").distinct(), mregs,
          "merged_estimate")
        dsum.join(broadcast(mest), "event_type")
          .select(col("event_type"), col("n_days"), col("merged_estimate"),
            col("sum_daily_estimates"),
            round(col("sum_daily_estimates") / col("merged_estimate"), 9)
              .as("repeat_ratio"))
      }),

    // A34: KMV SET ALGEBRA — audience overlap between event types from
    // bottom-64 sketches alone (Beyer et al. 2007): union estimate from
    // the merged sketch's k-th order statistic (the a25 estimator),
    // Jaccard from the fraction of the merged bottom-k present in BOTH
    // sides' sketches, intersection = J × union. This is the set
    // operation HLL structurally cannot do (registers max-merge into
    // unions only), and the reason warehouses persist KMV/theta sketches
    // next to HLL: any pairwise audience overlap then costs k log k per
    // pair, never a re-scan. The exact overlap column is the audit.
    //
    // Portability: hashes are the portable hash32; everything downstream
    // of the per-type bottom-64 is windows/joins over ≤ 64·|types| rows
    // with integer comparisons; the only floats are the two final
    // divisions, mirrored expression-for-expression and rounded at 9.
    // Scale shape: one distinct shuffle of (type, 8-byte hash) for the
    // sketch build (identical to a25), then everything is driver-scale
    // frames — |types|²/2 pairs × 128 sketch rows. The bottom-64 comes
    // from the native KMV aggregate (functions/KmvSketchAgg, a25's
    // build): ≤64-long partial states merged k-small, so no task ever
    // sorts a type's whole distinct-hash set — the windowed first cut
    // put each type through ONE serial sort task.
    QueryDef(
      "a34_kmv_overlap",
      Some {
        s"""WITH dh AS (
           |  SELECT DISTINCT event_type,
           |    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)),1,8)
           |         AS BIGINT) AS h
           |  FROM events),
           |bk AS (
           |  SELECT event_type, h,
           |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
           |  FROM dh),
           |sk AS (SELECT event_type, h FROM bk WHERE rn <= 64),
           |et AS (SELECT DISTINCT event_type FROM events),
           |pairs AS (
           |  SELECT a.event_type AS type_a, b.event_type AS type_b
           |  FROM et a JOIN et b ON a.event_type < b.event_type),
           |su AS (
           |  SELECT p.type_a, p.type_b, s.h, 1 AS ia, 0 AS ib
           |  FROM pairs p JOIN sk s ON s.event_type = p.type_a
           |  UNION ALL
           |  SELECT p.type_a, p.type_b, s.h, 0 AS ia, 1 AS ib
           |  FROM pairs p JOIN sk s ON s.event_type = p.type_b),
           |u AS (
           |  SELECT type_a, type_b, h,
           |    max(ia) AS ia, max(ib) AS ib
           |  FROM su GROUP BY 1, 2, 3),
           |ur AS (
           |  SELECT type_a, type_b, h, ia, ib,
           |    row_number() OVER (PARTITION BY type_a, type_b
           |                       ORDER BY h) AS rn,
           |    count(*) OVER (PARTITION BY type_a, type_b) AS nu
           |  FROM u),
           |agg AS (
           |  SELECT type_a, type_b,
           |    CAST(max(CASE WHEN rn = least(64, nu) THEN h END) AS DOUBLE)
           |      AS hk,
           |    CAST(least(64, max(nu)) AS BIGINT) AS m,
           |    CAST(sum(CASE WHEN ia = 1 AND ib = 1 THEN 1 ELSE 0 END)
           |         AS BIGINT) AS both_cnt,
           |    CAST(max(nu) AS BIGINT) AS nu
           |  FROM ur WHERE rn <= least(64, nu) GROUP BY 1, 2),
           |est AS (
           |  SELECT type_a, type_b, m, both_cnt,
           |    CASE WHEN nu < 64 THEN CAST(nu AS DOUBLE)
           |         ELSE round(${Kmv.oEstimate("m", "hk")}, 9) END
           |      AS kmv_union,
           |    round(CAST(both_cnt AS DOUBLE) / CAST(m AS DOUBLE), 9)
           |      AS kmv_jaccard
           |  FROM agg),
           |du AS (SELECT DISTINCT event_type, user_id FROM events),
           |ex AS (
           |  SELECT a.event_type AS type_a, b.event_type AS type_b,
           |    CAST(count(*) AS BIGINT) AS exact_intersection
           |  FROM du a JOIN du b
           |    ON a.user_id = b.user_id AND a.event_type < b.event_type
           |  GROUP BY 1, 2)
           |SELECT e.type_a, e.type_b, e.kmv_union, e.kmv_jaccard,
           |  round(e.kmv_jaccard * e.kmv_union, 9) AS kmv_intersection,
           |  coalesce(x.exact_intersection, 0) AS exact_intersection
           |FROM est e LEFT JOIN ex x
           |  ON e.type_a = x.type_a AND e.type_b = x.type_b""".stripMargin
      },
      (s, d) => {
        val ev = Tables.events(s, d)
        // sketch build: the only data-sized stage (distinct 8-byte hashes)
        val dh = ev.select(col("event_type"),
            hash32(col("user_id").cast("string")).as("h"))
          .distinct()
        val sk = dh.groupBy("event_type")
          .agg(expr("kmv_sketch_agg(h, 64)").as("mins"))
          .select(col("event_type"), explode(col("mins")).as("h"))
          .persist() // both pair sides read the 64·|types|-row sketch
        val et = ev.select("event_type").distinct()
        val pairs = et.select(col("event_type").as("type_a"))
          .join(et.select(col("event_type").as("type_b")),
            col("type_a") < col("type_b"))
        val su = pairs.join(sk.withColumnRenamed("event_type", "type_a"),
            Seq("type_a"))
          .select(col("type_a"), col("type_b"), col("h"),
            lit(1).as("ia"), lit(0).as("ib"))
          .unionByName(
            pairs.join(sk.withColumnRenamed("event_type", "type_b"),
              Seq("type_b"))
            .select(col("type_a"), col("type_b"), col("h"),
              lit(0).as("ia"), lit(1).as("ib")))
        val u = su.groupBy("type_a", "type_b", "h")
          .agg(max("ia").as("ia"), max("ib").as("ib"))
        val wU = Window.partitionBy("type_a", "type_b").orderBy("h")
        val wAll = Window.partitionBy("type_a", "type_b")
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        val agg = u.withColumn("rn", row_number().over(wU))
          .withColumn("nu", count(lit(1)).over(wAll))
          .filter(col("rn") <= least(lit(64), col("nu")))
          .groupBy("type_a", "type_b")
          .agg(
            max(when(col("rn") === least(lit(64), col("nu")), col("h")))
              .cast("double").as("hk"),
            least(lit(64), max("nu")).cast("long").as("m"),
            sum(when(col("ia") === 1 && col("ib") === 1, 1).otherwise(0))
              .cast("long").as("both_cnt"),
            max("nu").cast("long").as("nu"))
        val est = agg.select(col("type_a"), col("type_b"), col("m"),
          col("both_cnt"),
          when(col("nu") < 64, col("nu").cast("double"))
            .otherwise(round(Kmv.estimate(col("m"), col("hk")), 9))
            .as("kmv_union"),
          round(col("both_cnt").cast("double") / col("m").cast("double"), 9)
            .as("kmv_jaccard"))
        val du = ev.select("event_type", "user_id").distinct()
        val ex = du.select(col("event_type").as("type_a"),
            col("user_id"))
          .join(du.select(col("event_type").as("type_b"), col("user_id")),
            "user_id")
          .filter(col("type_a") < col("type_b"))
          .groupBy("type_a", "type_b")
          .agg(count(lit(1)).as("exact_intersection"))
        est.join(ex, Seq("type_a", "type_b"), "left")
          .select(col("type_a"), col("type_b"), col("kmv_union"),
            col("kmv_jaccard"),
            round(col("kmv_jaccard") * col("kmv_union"), 9)
              .as("kmv_intersection"),
            coalesce(col("exact_intersection"), lit(0L))
              .as("exact_intersection"))
      }),

    // A35: CUBE marginals — all four grouping sets of (user, type) in
    // ONE pass: per-cell, per-user, per-type, and grand totals, with the
    // grouping id distinguishing subtotal NULLs from data NULLs. Beyond
    // the reference (SURVEY notes it has no grouping sets), but core
    // OLAP surface for any engine claiming the reference's analytics
    // workloads. Sums ride the whole-unit long grid (the a4 pattern).
    //
    // Scale shape: Spark's Expand duplicates each input row once per
    // grouping set BEFORE the exchange, but partial aggregation collapses
    // the expansion map-side, so the shuffle carries ~Σ|grouping-set
    // cardinalities| rows — the marginals come for ONE extra shuffle row
    // per subtotal cell, not one pass per set (what four separate
    // groupBys would cost).
    QueryDef(
      "a35_cube",
      Some(s"""SELECT user_id, event_type,
              |  CAST(GROUPING(user_id) * 2 + GROUPING(event_type)
              |       AS BIGINT) AS gid,
              |  count(*) AS n,
              |  CAST(SUM(${oLq("value")}) AS DOUBLE) / 100.0 AS total
              |FROM events
              |GROUP BY CUBE (user_id, event_type)""".stripMargin),
      (s, d) => {
        Tables.events(s, d)
          .cube(col("user_id"), col("event_type"))
          .agg(
            (grouping(col("user_id")) * 2 + grouping(col("event_type")))
              .cast("long").as("gid"),
            count(lit(1)).as("n"),
            (sum(lq(col("value"))).cast("double") / 100.0).as("total"))
          .select("user_id", "event_type", "gid", "n", "total")
      }),

    // A36: mergeable HISTOGRAM-QUANTILE sketch — the quantile member of
    // the sketch warehouse (distinct → HLL a33, set algebra → KMV a34,
    // heavy hitters → CMS a28, quantiles → this). Per-day fixed-width
    // histograms (event_type, day, bin, cnt — the persisted artifact,
    // exactly a33b's per-day register tables) merge over any date range
    // by SUMMING counts — associative, so range quantiles never rescan
    // raw rows; the estimate interpolates linearly inside the crossing
    // bin, and the exact two-pass quantile (the a22/a32 machinery) rides
    // along as the error audit. At 100 TB the exact leg runs on sampled
    // groups; the sketch leg reads |days|×|bins| rows per group, full
    // stop.
    //
    // Parity: bins/counts/cumulative sums are pure longs; the crossing
    // bin is unique (previous cumulative below target, current at or
    // above), and the only floats are one division of exact integers and
    // two correctly-rounded IEEE ops, mirrored expression-for-expression.
    // Bin width 10.00 units = 1000 on the hundredth grid.
    QueryDef(
      "a36_hist_quantile_merge",
      Some {
        def estq(q: Int): String =
          s"""max(CASE WHEN 100 * cum >= $q * n
             |      AND 100 * (cum - cnt) < $q * n THEN
             |    CAST(bin * 1000 AS DOUBLE) / 100.0 +
             |    10.0 * (CAST($q * n - 100 * (cum - cnt) AS DOUBLE) /
             |            CAST(100 * cnt AS DOUBLE)) END)""".stripMargin
        s"""WITH d AS (
           |  SELECT event_type, CAST(ts AS DATE) AS day,
           |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS vc
           |  FROM events
           |  WHERE CAST(ts AS DATE)
           |    BETWEEN DATE '2024-01-08' AND DATE '2024-01-22'),
           |dh AS (
           |  SELECT event_type, day, vc // 1000 AS bin, count(*) AS cnt
           |  FROM d GROUP BY 1, 2, 3),
           |mh AS (
           |  SELECT event_type, bin, CAST(sum(cnt) AS BIGINT) AS cnt
           |  FROM dh GROUP BY 1, 2),
           |c AS (
           |  ${Walk.oRunning("mh", Seq("event_type"), "bin")}),
           |est AS (
           |  SELECT event_type, max(n) AS n,
           |    ${estq(50)} AS est_p50,
           |    ${estq(90)} AS est_p90,
           |    ${estq(99)} AS est_p99
           |  FROM c GROUP BY 1),
           |ex AS (
           |  ${Walk.oWalk("d", Seq("event_type"), "vc")(
                  Seq(50, 90, 99).map(p =>
                    s"${oCentQuantile(p)} AS exact_p$p"): _*)})
           |SELECT e.event_type, CAST(e.n AS BIGINT) AS n,
           |  e.est_p50, x.exact_p50,
           |  abs(e.est_p50 - x.exact_p50) AS err_p50,
           |  e.est_p90, x.exact_p90,
           |  abs(e.est_p90 - x.exact_p90) AS err_p90,
           |  e.est_p99, x.exact_p99,
           |  abs(e.est_p99 - x.exact_p99) AS err_p99
           |FROM est e JOIN ex x USING (event_type)""".stripMargin
      },
      (s, d) => {
        val d0 = Tables.events(s, d)
          .select(col("event_type"), to_date(col("ts")).as("day"),
            lq(col("value")).as("vc"))
          .filter(col("day").between(lit("2024-01-08"), lit("2024-01-22")))
          .persist() // sketch build and exact audit both scan it
        // the persisted artifact at scale: per-day histogram tables
        val dh = d0.groupBy(col("event_type"), col("day"),
            expr("vc DIV 1000").as("bin"))
          .agg(count(lit(1)).as("cnt"))
        // the range query: count-sum merge of the day histograms
        val mh = dh.groupBy("event_type", "bin").agg(sum("cnt").as("cnt"))
        val c = Walk.running(mh, Seq("event_type"), "bin")
        def estq(q: Int): Column = {
          val t = col("n") * q
          val cb = (col("cum") - col("cnt")) * 100
          max(when(col("cum") * 100 >= t && cb < t,
            (col("bin") * 1000).cast("double") / 100.0 +
              lit(10.0) * ((t - cb).cast("double") /
                (col("cnt") * 100).cast("double"))))
        }
        val est = c.groupBy("event_type")
          .agg(max("n").as("n"), estq(50).as("est_p50"),
            estq(90).as("est_p90"), estq(99).as("est_p99"))
        // exact audit leg — a22's discrete-quantile histogram walk
        val ex = Walk.walk(d0, Seq("event_type"), "vc",
          "a36_hist_quantile_merge")(
          Seq(50, 90, 99).map(p => s"exact_p$p" -> centQuantile(p)): _*)
        est.join(ex, "event_type")
          .select(col("event_type"), col("n"),
            col("est_p50"), col("exact_p50"),
            abs(col("est_p50") - col("exact_p50")).as("err_p50"),
            col("est_p90"), col("exact_p90"),
            abs(col("est_p90") - col("exact_p90")).as("err_p90"),
            col("est_p99"), col("exact_p99"),
            abs(col("est_p99") - col("exact_p99")).as("err_p99"))
      }),

    // A37: time-weighted average price (TWAP) — the execution-quality
    // benchmark next to VWAP (a7): each observation is weighted by how
    // long it REMAINED the last print (lead-ts interval), so sparse
    // overnight quotes don't get equal votes with a burst of ticks. The
    // day's final print carries zero forward interval by convention
    // (next-day state belongs to the next day's row).
    //
    // Parity: price rides the lq cent grid and intervals are exact
    // epoch-microsecond longs, so the weighted numerator is a pure long
    // sum — Σ(cents·Δμs) ≤ 4.9e4·8.64e10 < 2^63 per (type, day) — and
    // TWAP is two divisions of exact longs. Lead tiebreaks on the unique
    // event_id (doctrine: every order-sensitive pick is deterministic).
    QueryDef(
      "a37_twap",
      Some(s"""WITH e AS (
              |  SELECT event_type, CAST(ts AS DATE) AS day,
              |    epoch_us(ts) AS tu, event_id,
              |    ${oLq("value")} AS vc
              |  FROM events),
              |w AS (
              |  SELECT event_type, day, vc,
              |    lead(tu) OVER (PARTITION BY event_type, day
              |      ORDER BY tu, event_id) - tu AS dt
              |  FROM e),
              |f AS (
              |  SELECT event_type, day,
              |    CAST(sum(CASE WHEN dt IS NULL THEN 0 ELSE vc * dt END)
              |      AS BIGINT) AS num,
              |    CAST(sum(CASE WHEN dt IS NULL THEN 0 ELSE dt END)
              |      AS BIGINT) AS den,
              |    count(*) AS n
              |  FROM w GROUP BY 1, 2)
              |SELECT event_type, day, CAST(n AS BIGINT) AS n_events,
              |  CAST(num AS DOUBLE) / CAST(den AS DOUBLE) / 100.0 AS twap
              |FROM f WHERE den > 0""".stripMargin),
      (s, d) => {
        val w = Window.partitionBy("event_type", "day")
          .orderBy("tu", "event_id")
        Tables.events(s, d)
          .select(col("event_type"), to_date(col("ts")).as("day"),
            unix_micros(col("ts")).as("tu"), col("event_id"),
            lq(col("value")).as("vc"))
          .withColumn("dt", lead("tu", 1).over(w) - col("tu"))
          .groupBy("event_type", "day")
          .agg(sum(when(col("dt").isNull, 0L)
              .otherwise(col("vc") * col("dt"))).as("num"),
            sum(when(col("dt").isNull, 0L).otherwise(col("dt")))
              .as("den"),
            count(lit(1)).as("n_events"))
          .filter(col("den") > 0)
          .select(col("event_type"), col("day"), col("n_events"),
            (col("num").cast("double") / col("den").cast("double") /
              100.0).as("twap"))
      }),

    // A38: Garman-Klass + Parkinson daily volatility estimators — the
    // range-based estimators the reference's equity-volatility domain is
    // named for (5-8× more statistically efficient than close-to-close):
    // gk = 0.5·ln(h/l)² − (2ln2−1)·ln(c/o)², park = ln(h/l)²/(4ln2).
    // One OHLC rollup (a2's machinery) then pure per-row scalar math.
    //
    // Parity: o/h/l/c are exact cent longs (min/max/min_by/max_by keyed
    // on the µs timestamp — globally unique in events, the a2
    // precedent), ratios are divisions of exact doubles, and EVERY ln is
    // rounded at 9 decimals on both engines before use — including the
    // 2ln2−1 and 4ln2 constants — per the tx7/a31 doctrine (a last-ulp
    // libm divergence must not reach a product).
    QueryDef(
      "a38_garman_klass",
      Some {
        val lnHl = "round(ln(CAST(h AS DOUBLE) / CAST(l AS DOUBLE)), 9)"
        val lnCo = "round(ln(CAST(c AS DOUBLE) / CAST(o AS DOUBLE)), 9)"
        val k = "round(2.0 * ln(2.0) - 1.0, 9)"
        val k4 = "round(4.0 * ln(2.0), 9)"
        s"""WITH e AS (
           |  SELECT user_id, CAST(ts AS DATE) AS day, epoch_us(ts) AS tu,
           |    ${oLq("value")} AS vc
           |  FROM events WHERE value > 0.0),
           |o AS (
           |  SELECT user_id, day,
           |    arg_min(vc, tu) AS o, max(vc) AS h,
           |    min(vc) AS l, arg_max(vc, tu) AS c,
           |    count(*) AS n
           |  FROM e GROUP BY 1, 2)
           |SELECT user_id, day, CAST(n AS BIGINT) AS n_events,
           |  CAST(o AS DOUBLE) / 100.0 AS open,
           |  CAST(h AS DOUBLE) / 100.0 AS high,
           |  CAST(l AS DOUBLE) / 100.0 AS low,
           |  CAST(c AS DOUBLE) / 100.0 AS close,
           |  round(0.5 * $lnHl * $lnHl - $k * $lnCo * $lnCo, 9) AS gk,
           |  round($lnHl * $lnHl / $k4, 9) AS parkinson
           |FROM o""".stripMargin
      },
      (s, d) => {
        val lnHl = round(log(col("h").cast("double") /
          col("l").cast("double")), 9)
        val lnCo = round(log(col("c").cast("double") /
          col("o").cast("double")), 9)
        val k = round(lit(2.0) * log(lit(2.0)) - 1.0, 9)
        val k4 = round(lit(4.0) * log(lit(2.0)), 9)
        Tables.events(s, d)
          // a zero print is a bad tick: degenerate for log-range
          // estimators (ln(h/0), ln(c/0)) — excluded on BOTH engines
          .filter(col("value") > 0.0)
          .select(col("user_id"), to_date(col("ts")).as("day"),
            unix_micros(col("ts")).as("tu"), lq(col("value")).as("vc"))
          .groupBy("user_id", "day")
          .agg(min_by(col("vc"), col("tu")).as("o"),
            max("vc").as("h"), min("vc").as("l"),
            max_by(col("vc"), col("tu")).as("c"),
            count(lit(1)).as("n_events"))
          .select(col("user_id"), col("day"), col("n_events"),
            (col("o").cast("double") / 100.0).as("open"),
            (col("h").cast("double") / 100.0).as("high"),
            (col("l").cast("double") / 100.0).as("low"),
            (col("c").cast("double") / 100.0).as("close"),
            round(lit(0.5) * lnHl * lnHl - k * lnCo * lnCo, 9).as("gk"),
            round(lnHl * lnHl / k4, 9).as("parkinson"))
      }),

    // A39: Yang-Zhang volatility — the drift-independent estimator that
    // combines overnight variance, open-to-close variance and the
    // Rogers-Satchell term: σ²_yz = σ²_on + k·σ²_oc + (1−k)·σ²_rs with
    // k = 0.34/(1.34 + (n+1)/(n−1)). Completes the a38/w25 estimator
    // family with the one the reference domain actually publishes.
    // Shape: one daily OHLC rollup (a2's machinery), one lag window for
    // the previous close, one per-user hash aggregate — the user_id
    // exchange is shared by the window and the final agg.
    //
    // Parity: o/h/l/c are exact cent longs; every ln is rounded at 9 on
    // both engines (tx7/a31 doctrine); the overnight/open-close terms
    // and the RS product sum are then quantized onto a COARSE 1e-6 grid
    // and all variance moments are order-free LONG sums (qon ≤ 1.1e7,
    // qon² ≤ 1.3e14 — ~7e4 days of headroom per user). Variances are
    // computed from the long moments with the w23 all-double tree, and
    // the 0.34/1.34 constants are division expressions (the w20 rule:
    // DuckDB types bare decimal literals DECIMAL, not DOUBLE).
    QueryDef(
      "a39_yang_zhang",
      Some {
        def lnr(a: String, b: String) =
          s"round(ln(CAST($a AS DOUBLE) / CAST($b AS DOUBLE)), 9)"
        def q(x: String) = s"CAST(floor(($x) * 1000000.0 + 0.5) AS BIGINT)"
        def vvar(s2: String, s1: String) =
          s"""(CAST(n AS DOUBLE) * CAST($s2 AS DOUBLE)
             |     - CAST($s1 AS DOUBLE) * CAST($s1 AS DOUBLE))
             |   / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))
             |   / 1000000000000.0""".stripMargin
        s"""WITH e AS (
           |  SELECT user_id, CAST(ts AS DATE) AS day, epoch_us(ts) AS tu,
           |    ${oLq("value")} AS vc
           |  FROM events WHERE value > 0.0),
           |o AS (
           |  SELECT user_id, day,
           |    arg_min(vc, tu) AS o, max(vc) AS h,
           |    min(vc) AS l, arg_max(vc, tu) AS c
           |  FROM e GROUP BY 1, 2),
           |t AS (
           |  SELECT user_id, day, o, h, l, c,
           |    lag(c, 1) OVER (PARTITION BY user_id ORDER BY day) AS pc
           |  FROM o),
           |q AS (
           |  SELECT user_id,
           |    ${q(lnr("o", "pc"))} AS qon,
           |    ${q(lnr("c", "o"))} AS qoc,
           |    ${q(s"${lnr("h", "c")} * ${lnr("h", "o")} + " +
                    s"${lnr("l", "c")} * ${lnr("l", "o")}")} AS qrs
           |  FROM t WHERE pc IS NOT NULL),
           |m AS (
           |  SELECT user_id, count(*) AS n,
           |    CAST(sum(qon) AS BIGINT) AS son,
           |    CAST(sum(qon * qon) AS BIGINT) AS son2,
           |    CAST(sum(qoc) AS BIGINT) AS soc,
           |    CAST(sum(qoc * qoc) AS BIGINT) AS soc2,
           |    CAST(sum(qrs) AS BIGINT) AS srs
           |  FROM q GROUP BY 1
           |  HAVING count(*) >= 2),
           |v AS (
           |  SELECT user_id, n,
           |    ${vvar("son2", "son")} AS var_on,
           |    ${vvar("soc2", "soc")} AS var_oc,
           |    CAST(srs AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0
           |      AS var_rs,
           |    (34.0 / 100.0) / ((134.0 / 100.0)
           |      + (CAST(n AS DOUBLE) + 1.0) / (CAST(n AS DOUBLE) - 1.0))
           |      AS kc
           |  FROM m)
           |SELECT user_id, CAST(n AS BIGINT) AS n_days,
           |  round(var_on, 9) AS var_overnight,
           |  round(var_oc, 9) AS var_openclose,
           |  round(var_rs, 9) AS var_rs,
           |  round(sqrt(var_on + kc * var_oc + (1.0 - kc) * var_rs), 9)
           |    AS sigma_yz
           |FROM v""".stripMargin
      },
      (s, d) => {
        def lnr(a: Column, b: Column) =
          round(log(a.cast("double") / b.cast("double")), 9)
        def q(x: Column) = floor(x * 1000000.0 + 0.5).cast("long")
        val daily = Tables.events(s, d)
          .filter(col("value") > 0.0)
          .select(col("user_id"), to_date(col("ts")).as("day"),
            unix_micros(col("ts")).as("tu"), lq(col("value")).as("vc"))
          .groupBy("user_id", "day")
          .agg(min_by(col("vc"), col("tu")).as("o"),
            max("vc").as("h"), min("vc").as("l"),
            max_by(col("vc"), col("tu")).as("c"))
        val w = Window.partitionBy("user_id").orderBy("day")
        val t = daily.withColumn("pc", lag("c", 1).over(w))
          .filter(col("pc").isNotNull)
          .select(col("user_id"),
            q(lnr(col("o"), col("pc"))).as("qon"),
            q(lnr(col("c"), col("o"))).as("qoc"),
            q(lnr(col("h"), col("c")) * lnr(col("h"), col("o")) +
              lnr(col("l"), col("c")) * lnr(col("l"), col("o"))).as("qrs"))
        val m = t.groupBy("user_id")
          .agg(count(lit(1)).as("n"),
            sum("qon").as("son"), sum(col("qon") * col("qon")).as("son2"),
            sum("qoc").as("soc"), sum(col("qoc") * col("qoc")).as("soc2"),
            sum("qrs").as("srs"))
          .filter(col("n") >= 2)
        def dbl(c: String) = col(c).cast("double")
        def vvar(s2: String, s1: String) =
          (dbl("n") * dbl(s2) - dbl(s1) * dbl(s1)) /
            (dbl("n") * (dbl("n") - 1.0)) / 1000000000000.0
        val kc = (lit(34.0) / 100.0) / ((lit(134.0) / 100.0) +
          (dbl("n") + 1.0) / (dbl("n") - 1.0))
        m.select(col("user_id"), col("n").as("n_days"),
            vvar("son2", "son").as("var_on"),
            vvar("soc2", "soc").as("var_oc"),
            (dbl("srs") / dbl("n") / 1000000.0).as("var_rs"),
            kc.as("kc"))
          .select(col("user_id"), col("n_days"),
            round(col("var_on"), 9).as("var_overnight"),
            round(col("var_oc"), 9).as("var_openclose"),
            round(col("var_rs"), 9).as("var_rs"),
            round(sqrt(col("var_on") + col("kc") * col("var_oc") +
              (lit(1.0) - col("kc")) * col("var_rs")), 9).as("sigma_yz"))
      }),

    // A40: historical VaR / CVaR — the 5% value-at-risk as an EXACT
    // order statistic of each user's log-return series (k = ⌈0.05·n⌉-th
    // smallest, integer ceiling division — no interpolation ambiguity
    // between engines) and CVaR/expected shortfall as the mean of the k
    // tail returns. One lag window + one rank window (same user_id
    // exchange) + one hash aggregate; nothing driver-side, no sort of
    // the full data — the rank window sorts within user partitions only.
    //
    // Parity: returns are round(ln, 9) over exact cent ratios, so both
    // engines rank IDENTICAL doubles (ties broken by the unique
    // event_id); the tail mean rides a coarse 1e-6 long grid (a31) and
    // k is pure integer arithmetic ((n+19) div 20 — floor = ceil(n/20)
    // for positive n on both engines).
    QueryDef(
      "a40_var_cvar",
      Some {
        val r = "round(ln(CAST(vc AS DOUBLE) / CAST(pv AS DOUBLE)), 9)"
        s"""WITH e AS (
           |  SELECT user_id, event_id,
           |    ${oLq("value")} AS vc,
           |    lag(${oLq("value")}, 1) OVER (PARTITION BY user_id
           |      ORDER BY ts, event_id) AS pv
           |  FROM events WHERE value > 0.0),
           |r AS (
           |  SELECT user_id, event_id, $r AS r,
           |    CAST(floor($r * 1000000.0 + 0.5) AS BIGINT) AS qr
           |  FROM e WHERE pv IS NOT NULL),
           |k AS (
           |  SELECT user_id, r, qr,
           |    row_number() OVER (PARTITION BY user_id
           |      ORDER BY r, event_id) AS rn,
           |    count(*) OVER (PARTITION BY user_id) AS n
           |  FROM r),
           |g AS (SELECT user_id, r, qr, rn, n, (n + 19) // 20 AS kk
           |      FROM k)
           |SELECT user_id,
           |  CAST(max(n) AS BIGINT) AS n_returns,
           |  CAST(max(kk) AS BIGINT) AS k_tail,
           |  max(CASE WHEN rn = kk THEN r END) AS var5,
           |  CAST(CAST(sum(CASE WHEN rn <= kk THEN qr END) AS BIGINT)
           |      AS DOUBLE) / CAST(max(kk) AS DOUBLE) / 1000000.0
           |    AS cvar5
           |FROM g GROUP BY user_id""".stripMargin
      },
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val rankW = Window.partitionBy("user_id").orderBy("r", "event_id")
        val cntW = Window.partitionBy("user_id")
        val r = round(log(col("vc").cast("double") /
          col("pv").cast("double")), 9)
        Tables.events(s, d)
          .filter(col("value") > 0.0)
          .select(col("user_id"), col("event_id"), col("ts"),
            lq(col("value")).as("vc"))
          .withColumn("pv", lag("vc", 1).over(w))
          .filter(col("pv").isNotNull)
          .select(col("user_id"), col("event_id"), r.as("r"),
            floor(r * 1000000.0 + 0.5).cast("long").as("qr"))
          .select(col("user_id"), col("r"), col("qr"),
            row_number().over(rankW).as("rn"),
            count(lit(1)).over(cntW).as("n"))
          .withColumn("kk", expr("(n + 19) div 20"))
          .groupBy("user_id")
          .agg(max("n").as("n_returns"), max("kk").as("k_tail"),
            max(when(col("rn") === col("kk"), col("r"))).as("var5"),
            (sum(when(col("rn") <= col("kk"), col("qr"))).cast("double") /
              max("kk").cast("double") / 1000000.0).as("cvar5"))
      }),

    // A41: Lo-MacKinlay VARIANCE RATIO per user — the classic
    // mean-reversion / momentum diagnostic: Var(k-period diff) /
    // (k · Var(1-period diff)); ≈1 for a random walk, <1 mean-reverting,
    // >1 trending. Simple (non-overlap-corrected) population estimator
    // over each user's event-ordered series; k = 5.
    //
    // Parity: price diffs are exact hundredths ([[Parity.lq]] — values
    // carry 2 decimals), both moment sums are exact longs, and the
    // variances/ratio derive through one identical IEEE tree, reported
    // 1e9-quantized. Scale shape: one windowed lag pass per user (one
    // hash exchange) + one per-user aggregate — the w-family shape.
    QueryDef(
      "a41_variance_ratio",
      Some(s"""WITH d AS (
              |  SELECT user_id,
              |    ${oLq("(value - lag(value, 1) OVER w)")} AS q1,
              |    ${oLq("(value - lag(value, 5) OVER w)")} AS q5
              |  FROM events
              |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
              |a AS (
              |  SELECT user_id,
              |    CAST(count(q1) AS BIGINT) AS n1,
              |    CAST(sum(q1) AS BIGINT) AS s1,
              |    CAST(sum(q1 * q1) AS BIGINT) AS ss1,
              |    CAST(count(q5) AS BIGINT) AS n5,
              |    CAST(sum(q5) AS BIGINT) AS s5,
              |    CAST(sum(q5 * q5) AS BIGINT) AS ss5
              |  FROM d GROUP BY 1),
              |v AS (
              |  SELECT user_id, n1, n5,
              |    (CAST(ss1 AS DOUBLE) / 10000.0 -
              |      (CAST(s1 AS DOUBLE) / 100.0) *
              |      (CAST(s1 AS DOUBLE) / 100.0) / CAST(n1 AS DOUBLE))
              |      / CAST(n1 AS DOUBLE) AS var1,
              |    (CAST(ss5 AS DOUBLE) / 10000.0 -
              |      (CAST(s5 AS DOUBLE) / 100.0) *
              |      (CAST(s5 AS DOUBLE) / 100.0) / CAST(n5 AS DOUBLE))
              |      / CAST(n5 AS DOUBLE) AS var5
              |  FROM a WHERE n5 >= 2)
              |SELECT user_id, n1, n5,
              |  CAST(floor(var5 / (5.0 * var1) * 1.0E9 + 0.5) AS BIGINT)
              |    AS vr5_q
              |FROM v WHERE var1 > 0.0""".stripMargin),
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val dd = Tables.events(s, d).select(col("user_id"),
          lq(col("value") - lag("value", 1).over(w)).as("q1"),
          lq(col("value") - lag("value", 5).over(w)).as("q5"))
        def popVar(ss: Column, sm: Column, n: Column): Column =
          (ss.cast("double") / 10000.0 -
            (sm.cast("double") / 100.0) * (sm.cast("double") / 100.0) /
              n.cast("double")) / n.cast("double")
        val a = dd.groupBy("user_id").agg(
          count("q1").as("n1"), sum("q1").as("s1"),
          sum(col("q1") * col("q1")).as("ss1"),
          count("q5").as("n5"), sum("q5").as("s5"),
          sum(col("q5") * col("q5")).as("ss5"))
          .filter(col("n5") >= 2)
        val var1 = popVar(col("ss1"), col("s1"), col("n1"))
        val var5 = popVar(col("ss5"), col("s5"), col("n5"))
        a.select(col("user_id"), col("n1"), col("n5"),
            var1.as("var1"),
            floor(var5 / (lit(5.0) * var1) * 1.0e9 + 0.5).cast("long")
              .as("vr5_q"))
          .filter(col("var1") > 0.0)
          .select("user_id", "n1", "n5", "vr5_q")
      }),

    // A42: exact two-sample Kolmogorov–Smirnov statistic per user — the
    // distribution-drift test an ML platform runs between cohorts (here:
    // 'view' vs 'click' event values). D = max_x |F1(x) − F2(x)| computed
    // EXACTLY, no sampling: values land on the lq hundredths grid, one
    // hash-aggregate counts each (user, value) cell per sample, and the
    // two empirical CDFs advance together down ONE sorted pass over the
    // cell table (window cumsums). Right-continuity is free: evaluating at
    // every observed support point after both step functions have stepped
    // is exactly where the sup of the difference lives.
    //
    // Scale shape: the data-sized work is the single (user, vc) hash-agg —
    // map-side combinable, one shuffle; the window runs over the BOUNDED
    // cell table (≤ distinct values per user), not the events. Parity:
    // counts are exact longs, both CDFs and their difference are identical
    // int→double division trees, and D is emitted floor-quantized at 1e9.
    QueryDef(
      "a42_ks_drift",
      Some(s"""WITH cells AS (
              |  SELECT user_id, ${oLq("value")} AS vc,
              |    CAST(count(CASE WHEN event_type = 'view' THEN 1 END)
              |      AS BIGINT) AS c1,
              |    CAST(count(CASE WHEN event_type = 'click' THEN 1 END)
              |      AS BIGINT) AS c2
              |  FROM events WHERE event_type IN ('view', 'click')
              |  GROUP BY 1, 2),
              |cdf AS (
              |  SELECT user_id,
              |    sum(c1) OVER w AS f1, sum(c2) OVER w AS f2,
              |    sum(c1) OVER u AS n_view, sum(c2) OVER u AS n_click
              |  FROM cells
              |  WINDOW w AS (PARTITION BY user_id ORDER BY vc
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
              |  u AS (PARTITION BY user_id)),
              |ks AS (
              |  SELECT user_id,
              |    CAST(min(n_view) AS BIGINT) AS n_view,
              |    CAST(min(n_click) AS BIGINT) AS n_click,
              |    max(abs(CAST(f1 AS DOUBLE) / CAST(n_view AS DOUBLE) -
              |            CAST(f2 AS DOUBLE) / CAST(n_click AS DOUBLE)))
              |      AS d
              |  FROM cdf GROUP BY user_id)
              |SELECT user_id, n_view, n_click,
              |  CAST(floor(d * 1.0e9 + 0.5e0) AS BIGINT) AS ks_q
              |FROM ks WHERE n_view > 0 AND n_click > 0""".stripMargin),
      (s, d) => {
        val cells = Tables.events(s, d)
          .filter(col("event_type").isin("view", "click"))
          .groupBy(col("user_id"), lq(col("value")).as("vc"))
          .agg(count(when(col("event_type") === "view", 1)).as("c1"),
               count(when(col("event_type") === "click", 1)).as("c2"))
        val w = Window.partitionBy("user_id").orderBy("vc")
          .rowsBetween(Window.unboundedPreceding, 0)
        val u = Window.partitionBy("user_id")
        val cdf = cells
          .withColumn("f1", sum("c1").over(w))
          .withColumn("f2", sum("c2").over(w))
          .withColumn("n_view", sum("c1").over(u))
          .withColumn("n_click", sum("c2").over(u))
        cdf.groupBy("user_id")
          .agg(min("n_view").as("n_view"), min("n_click").as("n_click"),
            max(abs(col("f1").cast("double") / col("n_view").cast("double") -
                    col("f2").cast("double") / col("n_click").cast("double")))
              .as("d"))
          .filter(col("n_view") > 0 && col("n_click") > 0)
          .select(col("user_id"), col("n_view"), col("n_click"),
            floor(col("d") * lit(1e9) + lit(0.5)).cast("long").as("ks_q"))
      }),

    // A43: ANALYZE-TABLE statistics collection — the per-column stats
    // pass every CBO and table format runs (row/null counts, min/max,
    // and ndv via the a33 HLL-256 sketch, since an exact count-distinct
    // per column shuffles every distinct key). ONE scan, ONE aggregate:
    // every column's count/min/max and its native register sketch
    // ([[graft.functions.HllSketchAgg]]) are independent aggregate
    // expressions over the same pass, so the shuffle carries one
    // fixed-width partial row (5×256 register bytes + a few longs) per
    // map task REGARDLESS of input size, and nothing is exploded,
    // persisted, or joined. (The first cut melted the table to
    // 5×|rows| long-format rows, persisted them, and ran three
    // column-grouped aggregations — correct, but a 5× row expansion
    // plus a materialization that ANALYZE over 100 TB cannot afford.)
    // The register→estimate fold runs as `aggregate()` over each
    // 256-slot array on the single aggregated row — integer adds,
    // order-free, driver-sized.
    //
    // Parity: numerics hash their EXACT integer form (ids raw, value on
    // the lq hundredths grid — never a float→string cast, whose
    // formatting is engine-specific); min/max live on the same integer
    // grid (null for string columns on both sides); the sketch replays
    // a33's engine-identical register/estimate trees (HllAggSpec pins
    // the native registers bit-identical to the declarative pipeline).
    // The oracle is unchanged from the melt formulation — two plan
    // generations, one truth.
    QueryDef(
      "a43_analyze_stats",
      Some {
        s"""WITH m AS (
           |  SELECT 'event_id' AS c, CAST(event_id AS VARCHAR) AS hv,
           |    event_id AS q FROM events
           |  UNION ALL SELECT 'user_id', CAST(user_id AS VARCHAR),
           |    user_id FROM events
           |  UNION ALL SELECT 'event_type', event_type,
           |    CAST(NULL AS BIGINT) FROM events
           |  UNION ALL SELECT 'value',
           |    CAST(${oLq("value")} AS VARCHAR), ${oLq("value")}
           |    FROM events
           |  UNION ALL SELECT 'props', props, CAST(NULL AS BIGINT)
           |    FROM events),
           |base AS (
           |  SELECT c, CAST(count(*) AS BIGINT) AS n_rows,
           |    CAST(count(*) - count(hv) AS BIGINT) AS n_nulls,
           |    min(q) AS min_q, max(q) AS max_q
           |  FROM m GROUP BY 1),
           |h AS (
           |  SELECT c, ${oHash32("hv")} AS h FROM m WHERE hv IS NOT NULL),
           |${Hll.oRegisters("", "h", "c")},
           |${Hll.oEstimates("", "SELECT DISTINCT c FROM m", "regs", "c")}
           |SELECT base.c AS col_name, base.n_rows, base.n_nulls,
           |  est.est AS ndv_hll, base.min_q, base.max_q
           |FROM base JOIN est ON base.c = est.c""".stripMargin
      },
      (s, d) => {
        val nullQ = lit(null).cast("long")
        // (name, hash-input string, numeric-grid value) per column
        val specs = Seq(
          ("event_id", col("event_id").cast("string"), col("event_id")),
          ("user_id", col("user_id").cast("string"), col("user_id")),
          ("event_type", col("event_type"), nullQ),
          ("value", lq(col("value")).cast("string"), lq(col("value"))),
          ("props", col("props"), nullQ))
        val prepared = Tables.events(s, d).select(specs.flatMap {
          case (n, hv, q) => Seq(hv.as(s"hv_$n"), q.as(s"q_$n"),
            hash32(hv).as(s"h_$n"))
        }: _*)
        val aggs = count(lit(1)).as("n_rows") +: specs.flatMap {
          case (n, _, _) => Seq(
            count(col(s"hv_$n")).as(s"nn_$n"),
            min(col(s"q_$n")).as(s"min_$n"),
            max(col(s"q_$n")).as(s"max_$n"),
            expr(s"hll_sketch_agg(h_$n)").as(s"regs_$n"))
        }
        // one aggregated row (events is never empty at any fixture SF —
        // a global agg over an empty scan would emit a zero-count row
        // where the melt-shaped oracle emits none)
        val one = prepared.agg(aggs.head, aggs.tail: _*)
        one.select(explode(array(specs.map { case (n, _, _) =>
            struct(Seq(lit(n).as("col_name"), col("n_rows").as("n_rows"),
              (col("n_rows") - col(s"nn_$n")).as("n_nulls")) ++
              Hll.foldArray(s"regs_$n") ++
              Seq(col(s"min_$n").as("min_q"), col(s"max_$n").as("max_q")): _*)
          }: _*)).as("r"))
          .select(col("r.col_name").as("col_name"),
            col("r.n_rows").as("n_rows"), col("r.n_nulls").as("n_nulls"),
            Hll.estimate(col("r.s"), col("r.v0")).as("ndv_hll"),
            col("r.min_q").as("min_q"), col("r.max_q").as("max_q"))
      }),

    // A44: THEIL–SEN robust trend — the median of pairwise slopes over
    // each user's last-20 points (up to 29% outlier breakdown vs OLS's
    // zero; the robust-regression primitive a monitoring pipeline runs on
    // contaminated series). Pair space is windowed: K(K−1)/2 ≤ 190 pairs
    // per user REGARDLESS of history length — the self-join rides the
    // user key and the bounded tail, never the table against itself.
    //
    // Parity: slopes are value-per-day doubles from one identical
    // ((Δv·86400e6)/Δt_micros) tree, floor-quantized to a 1e-6 long
    // grid; the median then avoids interpolation entirely by emitting
    // 2·median as an EXACT long — the sum of the two middle positions
    // of the sorted slope multiset (odd n: both positions coincide, the
    // value doubles). Position selection over a sorted multiset is
    // tie-order-independent.
    QueryDef(
      "a44_theil_sen",
      Some("""WITH t AS (
             |  SELECT user_id, event_id, epoch_us(ts) AS tm, value,
             |    row_number() OVER (PARTITION BY user_id
             |      ORDER BY ts DESC, event_id DESC) AS rn
             |  FROM events),
             |tail20 AS (SELECT * FROM t WHERE rn <= 20),
             |pairs AS (
             |  SELECT a.user_id,
             |    CAST(floor((b.value - a.value) * 86400000000.0e0 /
             |      CAST(b.tm - a.tm AS DOUBLE) * 1.0e6 + 0.5e0)
             |      AS BIGINT) AS sq
             |  FROM tail20 a JOIN tail20 b
             |    ON a.user_id = b.user_id AND a.tm < b.tm),
             |ranked AS (
             |  SELECT user_id, sq,
             |    row_number() OVER (PARTITION BY user_id ORDER BY sq)
             |      AS r,
             |    count(*) OVER (PARTITION BY user_id) AS n
             |  FROM pairs)
             |SELECT user_id, CAST(min(n) AS BIGINT) AS n_pairs,
             |  CAST(sum(sq * (CASE WHEN r = (n + 1) // 2 THEN 1 ELSE 0 END
             |    + CASE WHEN r = n // 2 + 1 THEN 1 ELSE 0 END)) AS BIGINT)
             |    AS med2_q
             |FROM ranked GROUP BY user_id""".stripMargin),
      (s, d) => {
        val wDesc = Window.partitionBy("user_id")
          .orderBy(col("tm").desc, col("event_id").desc)
        val tail20 = Tables.events(s, d)
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts")).as("tm"), col("value"))
          .withColumn("rn", row_number().over(wDesc))
          .filter(col("rn") <= 20)
        val a = tail20.select(col("user_id"), col("tm").as("tm_a"),
          col("value").as("v_a"))
        val b = tail20.select(col("user_id"), col("tm").as("tm_b"),
          col("value").as("v_b"))
        val slope = (col("v_b") - col("v_a")) * lit(86400000000.0) /
          (col("tm_b") - col("tm_a")).cast("double")
        val pairs = a.join(b, "user_id")
          .filter(col("tm_a") < col("tm_b"))
          .select(col("user_id"),
            floor(slope * lit(1e6) + lit(0.5)).cast("long").as("sq"))
        val wRank = Window.partitionBy("user_id").orderBy("sq")
        val wAll = Window.partitionBy("user_id")
        val ranked = pairs
          .withColumn("r", row_number().over(wRank))
          .withColumn("n", count(lit(1)).over(wAll))
        val weight =
          when(col("r") === expr("(n + 1) DIV 2"), 1).otherwise(0) +
          when(col("r") === expr("n DIV 2 + 1"), 1).otherwise(0)
        ranked.groupBy("user_id")
          .agg(min("n").cast("long").as("n_pairs"),
            sum(col("sq") * weight).cast("long").as("med2_q"))
      }),

    // A45: first-order Markov transition matrix over per-user event
    // sequences — the sequence-mining primitive behind next-event
    // prediction and session-flow analysis (the reference's per-symbol
    // ordered scans, my_alpaca.py's state machine, generalized to
    // empirical transition probabilities). Scale shape: the lead()
    // window partitions by user (bounded per key, one exchange); the
    // transition counts collapse to event_type² rows (a handful), so
    // the row-normalizing join is a broadcast of KBs no matter the
    // input size. Ordering is fully deterministic: (ts, event_id)
    // with event_id unique. P(nxt|cur) is one double division of two
    // exact longs — identical IEEE tree both engines — at 1e9.
    QueryDef(
      "a45_markov_transitions",
      Some("""WITH seq AS (
             |  SELECT event_type AS cur,
             |    lead(event_type) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS nxt
             |  FROM events),
             |t AS (
             |  SELECT cur, nxt, count(*) AS n FROM seq
             |  WHERE nxt IS NOT NULL GROUP BY 1, 2),
             |r AS (SELECT cur, CAST(SUM(n) AS BIGINT) AS tot
             |  FROM t GROUP BY 1)
             |SELECT t.cur, t.nxt, t.n, r.tot,
             |  CAST(floor(CAST(t.n AS DOUBLE) / CAST(r.tot AS DOUBLE)
             |    * 1.0e9 + 0.5e0) AS BIGINT) AS p_q
             |FROM t JOIN r ON t.cur = r.cur""".stripMargin),
      (s, d) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id"))
        val t = Tables.events(s, d)
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type").as("cur"))
          .withColumn("nxt", lead("cur", 1).over(w))
          .filter(col("nxt").isNotNull)
          .groupBy("cur", "nxt").agg(count(lit(1)).as("n"))
        val r = broadcast(t.groupBy("cur").agg(sum("n").as("tot")))
        t.join(r, "cur").select(col("cur"), col("nxt"), col("n"),
          col("tot"),
          floor(col("n").cast("double") / col("tot").cast("double")
            * 1.0e9 + 0.5).cast("long").as("p_q"))
      }),

    // A46: GROUPING SETS — the multi-grain report a35's CUBE cannot
    // express (CUBE/ROLLUP are fixed lattices; sets pick exactly the
    // grains wanted: by-type, by-day, and the grand total — NOT the
    // (type, day) cross grain, which a dashboard rollup rarely needs
    // and which dominates the output row count at scale). One pass,
    // one Expand+hash-agg; grouping() flags disambiguate real NULLs
    // from placeholder NULLs, exactly the Spark SQL surface an analyst
    // writes. Runs as SQL text over a temp view (session-scoped name,
    // Verify/Bench run queries sequentially in one session).
    QueryDef(
      "a46_grouping_sets",
      Some(s"""SELECT event_type, CAST(ts AS DATE) AS day,
             |  count(*) AS n,
             |  CAST(GROUPING(event_type) AS BIGINT) AS g_et,
             |  CAST(GROUPING(CAST(ts AS DATE)) AS BIGINT) AS g_day,
             |  CAST(SUM(${oLq("value")}) AS DOUBLE) / 100.0 AS total
             |FROM events
             |GROUP BY GROUPING SETS ((event_type), (CAST(ts AS DATE)),
             |  ())""".stripMargin),
      (s, d) => {
        Tables.events(s, d)
          .select(col("event_type"), to_date(col("ts")).as("day"),
            lq(col("value")).as("vq"))
          .createOrReplaceTempView("graft_a46_ev")
        s.sql("""SELECT event_type, day, count(*) AS n,
                |  CAST(grouping(event_type) AS BIGINT) AS g_et,
                |  CAST(grouping(day) AS BIGINT) AS g_day,
                |  CAST(SUM(vq) AS DOUBLE) / 100.0 AS total
                |FROM graft_a46_ev
                |GROUP BY GROUPING SETS ((event_type), (day), ())"""
          .stripMargin)
      }),

    // A47: one-way ANOVA F statistic per day (does event_type explain
    // the value variance?) — completing the classical-test family
    // beside chi-square (a24, categorical×categorical) and KS (a42,
    // distribution drift): this is the categorical×numeric cell. The
    // histogram-first doctrine again: ONE data-sized hash aggregate
    // collects exact per-(day, type) moment longs on the lq grid (F is
    // scale-invariant, so the 0.01-unit grid needs no de-scale);
    // sums-of-squares are windows over those ≤ types-per-day cells.
    // The only order-sensitive float reduction — Σ_g s1_g²/n_g — rides
    // the a24 trick: each group's term is quantized to a 1e3-grid long
    // (≈6.7e15 max, inside 2^63) and the integer sum is order-free;
    // every other float op is one shared IEEE tree.
    QueryDef(
      "a47_anova_f",
      Some(s"""WITH g AS (
             |  SELECT CAST(ts AS DATE) AS day, event_type,
             |    count(*) AS n, SUM(${oLq("value")}) AS s1,
             |    SUM(${oLq("value")} * ${oLq("value")}) AS s2
             |  FROM events GROUP BY 1, 2),
             |w AS (
             |  SELECT day,
             |    CAST(count(*) OVER d AS BIGINT) AS k,
             |    CAST(SUM(n) OVER d AS BIGINT) AS nn,
             |    CAST(SUM(s1) OVER d AS BIGINT) AS ss1,
             |    CAST(SUM(s2) OVER d AS BIGINT) AS ss2,
             |    CAST(SUM(CAST(floor(CAST(s1 AS DOUBLE) *
             |        CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) * 1000.0
             |        + 0.5e0) AS BIGINT)) OVER d AS BIGINT) AS tq
             |  FROM g
             |  WINDOW d AS (PARTITION BY day)),
             |c AS (SELECT DISTINCT * FROM w),
             |f AS (
             |  SELECT day, k, nn,
             |    CAST(tq AS DOUBLE) / 1000.0 -
             |      CAST(ss1 AS DOUBLE) * CAST(ss1 AS DOUBLE) /
             |      CAST(nn AS DOUBLE) AS ssb,
             |    CAST(ss2 AS DOUBLE) - CAST(tq AS DOUBLE) / 1000.0 AS ssw
             |  FROM c WHERE k >= 2 AND nn > k)
             |SELECT day, k, nn,
             |  CAST(floor(ssb * 1.0e3 + 0.5e0) AS BIGINT) AS ssb_q,
             |  CAST(floor(ssw * 1.0e3 + 0.5e0) AS BIGINT) AS ssw_q,
             |  CAST(floor((ssb / CAST(k - 1 AS DOUBLE)) /
             |    (ssw / CAST(nn - k AS DOUBLE)) * 1.0e6 + 0.5e0)
             |    AS BIGINT) AS f_q
             |FROM f""".stripMargin),
      (s, d) => {
        val g = Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"), col("event_type"))
          .agg(count(lit(1)).as("n"), sum(lq(col("value"))).as("s1"),
            sum(lq(col("value")) * lq(col("value"))).as("s2"))
        val dw = Window.partitionBy("day")
          .rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)
        val term = floor(col("s1").cast("double") *
          col("s1").cast("double") / col("n").cast("double") * 1000.0
          + 0.5).cast("long")
        val c = g.select(col("day"),
            count(lit(1)).over(dw).as("k"),
            sum("n").over(dw).as("nn"),
            sum("s1").over(dw).as("ss1"),
            sum("s2").over(dw).as("ss2"),
            sum(term).over(dw).as("tq"))
          .distinct()
          .filter(col("k") >= 2 && col("nn") > col("k"))
        val td = col("tq").cast("double") / 1000.0
        val ssb = td - col("ss1").cast("double") *
          col("ss1").cast("double") / col("nn").cast("double")
        val ssw = col("ss2").cast("double") - td
        c.select(col("day"), col("k"), col("nn"),
          floor(ssb * 1.0e3 + 0.5).cast("long").as("ssb_q"),
          floor(ssw * 1.0e3 + 0.5).cast("long").as("ssw_q"),
          floor((ssb / (col("k") - 1).cast("double")) /
            (ssw / (col("nn") - col("k")).cast("double")) * 1.0e6 + 0.5)
            .cast("long").as("f_q"))
      }),

    // A48: Benford first-digit audit — the fraud/data-forensics scan a
    // finance lakehouse runs over freshly ingested numeric columns
    // (fabricated or unit-mangled values break the log-uniform
    // first-digit law long before any semantic check can). The first
    // significant digit is extracted WITHOUT libm (no runtime log10 —
    // 1-ulp divergence territory): the value's exact hundredth-grid
    // long renders as a decimal string on both engines, and its first
    // character IS the digit. The nine Benford expectations are
    // COMPILE-TIME constants on the 1e-9 grid, shared by literal value
    // with the oracle; the deviation is one identical IEEE tree per
    // digit row (9 rows — the histogram-first doctrine at its
    // smallest).
    QueryDef(
      "a48_benford",
      Some {
        val probs = (1 to 9).map(dd =>
          s"($dd, ${BenfordQ(dd - 1)})").mkString(", ")
        s"""WITH pos AS (
           |  SELECT ${oLq("value")} AS q FROM events
           |  WHERE ${oLq("value")} > 0),
           |dig AS (
           |  SELECT CAST(substr(CAST(q AS VARCHAR), 1, 1) AS BIGINT)
           |    AS digit, count(*) AS n
           |  FROM pos GROUP BY 1),
           |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM dig),
           |exp0 (digit, pq) AS (VALUES $probs)
           |SELECT CAST(e.digit AS BIGINT) AS digit,
           |  COALESCE(d.n, 0) AS n,
           |  CAST(e.pq AS BIGINT) AS expected_q,
           |  CAST(floor(CAST(COALESCE(d.n, 0) AS DOUBLE) /
           |    CAST(t.nn AS DOUBLE) * 1.0e9 + 0.5e0) AS BIGINT)
           |    AS observed_q,
           |  CAST(floor(CAST(COALESCE(d.n, 0) AS DOUBLE) /
           |    CAST(t.nn AS DOUBLE) * 1.0e9 + 0.5e0) AS BIGINT) -
           |    CAST(e.pq AS BIGINT) AS dev_q
           |FROM exp0 e LEFT JOIN dig d ON d.digit = e.digit
           |CROSS JOIN tot t""".stripMargin
      },
      (s, d) => {
        val q = lq(col("value"))
        val dig = Tables.events(s, d)
          .filter(q > 0)
          .groupBy(substring(q.cast("string"), 1, 1).cast("long")
            .as("digit"))
          .agg(count(lit(1)).as("n"))
        val exp0 = broadcast(s.createDataFrame(
          (1 to 9).map(dd => (dd.toLong, BenfordQ(dd - 1)))
        ).toDF("digit", "expected_q"))
        val tot = broadcast(dig.agg(sum("n").as("nn")))
        val obs = floor(coalesce(col("n"), lit(0L)).cast("double") /
          col("nn").cast("double") * 1.0e9 + 0.5).cast("long")
        exp0.join(dig, Seq("digit"), "left").crossJoin(tot)
          .select(col("digit"), coalesce(col("n"), lit(0L)).as("n"),
            col("expected_q"), obs.as("observed_q"),
            (obs - col("expected_q")).as("dev_q"))
      }),

    // A49: value-WEIGHTED median per event_type — the "half the money,
    // not half the rows" statistic (the VWAP complement: a7 is the
    // weighted MEAN; a16/a32 are the unweighted medians). Definition:
    // the smallest value v such that events with value ≤ v carry at
    // least half the total weight, weights = the values themselves on
    // the exact hundredth grid. One sorted window pass per type
    // (cumulative exact-long weight), then an argmin pick with a full
    // (value, event_id) tiebreak — all integer comparisons, zero
    // floats until the final de-scale.
    QueryDef(
      "a49_weighted_median",
      Some(s"""WITH q AS (
             |  SELECT event_type, event_id, ${oLq("value")} AS qv
             |  FROM events),
             |c AS (
             |  SELECT event_type, event_id, qv,
             |    SUM(qv) OVER (PARTITION BY event_type
             |      ORDER BY qv, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS cumw,
             |    SUM(qv) OVER (PARTITION BY event_type) AS totw
             |  FROM q),
             |p AS (
             |  SELECT event_type, qv, cumw, totw,
             |    row_number() OVER (PARTITION BY event_type
             |      ORDER BY qv, event_id) AS rn
             |  FROM c WHERE 2 * cumw >= totw)
             |SELECT event_type,
             |  CAST(qv AS DOUBLE) / 100.0 AS wmedian,
             |  CAST(totw AS DOUBLE) / 100.0 AS total_value
             |FROM p WHERE rn = 1""".stripMargin),
      (s, d) => {
        val ord = Window.partitionBy("event_type")
          .orderBy(col("qv"), col("event_id"))
        val cum = ord.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)
        val all = Window.partitionBy("event_type")
          .rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)
        Tables.events(s, d)
          .select(col("event_type"), col("event_id"),
            lq(col("value")).as("qv"))
          .withColumn("cumw", sum("qv").over(cum))
          .withColumn("totw", sum("qv").over(all))
          .filter(lit(2L) * col("cumw") >= col("totw"))
          .withColumn("rn", row_number().over(ord))
          .filter(col("rn") === 1)
          .select(col("event_type"),
            (col("qv").cast("double") / 100.0).as("wmedian"),
            (col("totw").cast("double") / 100.0).as("total_value"))
      }),

    // A50: the a33 distinct-count sketch through the NATIVE aggregate
    // (functions/HllSketchAgg — TypedImperativeAggregate): one
    // `hll_sketch_agg(h)` hash-agg produces the whole 256-register
    // array per group, so the exchange carries |groups|×256 BYTES per
    // map task instead of a33's one (group, bucket, rho) row per input
    // row — the partial state IS the sketch, which is what makes a
    // sketch worth having at 100 TB. The s/v0 fold runs over each
    // register array in place (a43's fold — integer adds, order-free),
    // the estimate is the shared expression tree, and the oracle is
    // a33's, verbatim: three plans (a33 declarative, a50 native, DuckDB
    // replay), one truth. Bit-identity of the registers themselves is
    // pinned by HllAggSpec.
    QueryDef(
      "a50_hll_native",
      Some(hllDistinctOracle),
      (s, d) => {
        val ev = Tables.events(s, d)
        val est = ev.select(col("event_type"),
            hash32(col("user_id").cast("string")).as("h"))
          .groupBy("event_type")
          .agg(expr("hll_sketch_agg(h)").as("regs"))
          .select(col("event_type") +: Hll.foldArray("regs"): _*)
          .select(col("event_type"),
            Hll.estimate(col("s"), col("v0")).as("hll_estimate"))
        val exact = ev.groupBy("event_type")
          .agg(countDistinct("user_id").as("n_exact"))
        exact.join(broadcast(est), "event_type")
          .select(col("event_type"), col("n_exact"), col("hll_estimate"),
            round((col("hll_estimate") - col("n_exact").cast("double")) /
                  col("n_exact").cast("double"), 9).as("rel_err"))
      }),

    // A51: market-microstructure LIQUIDITY estimators per key, daily
    // grain — the measures an equity-volatility platform runs beside
    // the volatility family (a38 GK, a39 YZ, w25 RV):
    //  - AMIHUD illiquidity: mean over days of |close-to-close return|
    //    per unit of daily dollar volume (price impact per traded
    //    dollar). Each day's term is a double from EXACT cent-grid
    //    longs through one shared IEEE tree, then 1e-9-quantized so the
    //    cross-day mean is an order-free LONG sum (the tx10 doctrine).
    //  - ROLL effective spread: 2·√(−cov(Δp_t, Δp_{t−1})) from the
    //    serial covariance of consecutive close changes — Δp is exact
    //    on the cent grid, so every covariance moment is an exact long
    //    sum de-scaled through the same tree on both engines; a
    //    non-negative covariance (no bid-ask bounce detected) reports
    //    0, under 2 pairs reports NULL.
    // Zero prints are excluded as bad ticks (a38's rule) — they'd make
    // a return and a dollar-volume denominator degenerate.
    QueryDef(
      "a51_liquidity",
      Some(s"""WITH e AS (
             |  SELECT user_id, CAST(ts AS DATE) AS day,
             |    epoch_us(ts) AS tu, ${oLq("value")} AS vc
             |  FROM events WHERE value > 0.0),
             |o AS (
             |  SELECT user_id, day, arg_max(vc, tu) AS c,
             |    SUM(vc) AS dv
             |  FROM e GROUP BY 1, 2),
             |w AS (
             |  SELECT user_id, day, c, dv,
             |    lag(c) OVER (PARTITION BY user_id ORDER BY day) AS p
             |  FROM o),
             |r AS (
             |  SELECT user_id, day,
             |    CAST(c AS DOUBLE) / CAST(p AS DOUBLE) - 1.0 AS ret,
             |    c - p AS dq,
             |    lag(c - p) OVER (PARTITION BY user_id ORDER BY day)
             |      AS dq0,
             |    CAST(dv AS DOUBLE) / 100.0 AS dvd
             |  FROM w WHERE p IS NOT NULL),
             |am AS (
             |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_rets,
             |    CAST(SUM(CAST(floor(abs(ret) / dvd * 1.0e9 + 0.5e0)
             |      AS BIGINT)) AS BIGINT) AS aq
             |  FROM r GROUP BY 1),
             |pr AS (
             |  SELECT user_id,
             |    CAST(count(*) AS BIGINT) AS n2,
             |    CAST(SUM(dq * dq0) AS DOUBLE) / 10000.0 AS sxy,
             |    CAST(SUM(dq) AS DOUBLE) / 100.0 AS sx,
             |    CAST(SUM(dq0) AS DOUBLE) / 100.0 AS sy
             |  FROM r WHERE dq0 IS NOT NULL GROUP BY 1),
             |rl AS (
             |  SELECT user_id, n2,
             |    sxy / CAST(n2 AS DOUBLE) -
             |      (sx / CAST(n2 AS DOUBLE)) * (sy / CAST(n2 AS DOUBLE))
             |      AS cv
             |  FROM pr WHERE n2 >= 2)
             |SELECT am.user_id, am.n_rets,
             |  CAST(am.aq AS DOUBLE) / CAST(am.n_rets AS DOUBLE) / 1.0e9
             |    AS amihud,
             |  CASE WHEN rl.cv IS NULL THEN NULL
             |    WHEN rl.cv < 0.0 THEN round(2.0 * sqrt(-rl.cv), 9)
             |    ELSE 0.0 END AS roll_spread
             |FROM am LEFT JOIN rl ON am.user_id = rl.user_id""".stripMargin),
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val wD = Window.partitionBy("user_id").orderBy("day")
        val o = Tables.events(s, d)
          .filter(col("value") > 0.0)
          .select(col("user_id"), to_date(col("ts")).as("day"),
            unix_micros(col("ts")).as("tu"), lq(col("value")).as("vc"))
          .groupBy("user_id", "day")
          .agg(max_by(col("vc"), col("tu")).as("c"), sum("vc").as("dv"))
        val r = o
          .withColumn("p", lag("c", 1).over(wD))
          .filter(col("p").isNotNull)
          .select(col("user_id"), col("day"),
            (col("c").cast("double") / col("p").cast("double") - 1.0)
              .as("ret"),
            (col("c") - col("p")).as("dq"),
            lag(col("c") - col("p"), 1).over(wD).as("dq0"),
            (col("dv").cast("double") / 100.0).as("dvd"))
        val am = r.groupBy("user_id")
          .agg(count(lit(1)).as("n_rets"),
            sum(floor(abs(col("ret")) / col("dvd") * 1.0e9 + 0.5)
              .cast("long")).as("aq"))
        val pr = r.filter(col("dq0").isNotNull)
          .groupBy("user_id")
          .agg(count(lit(1)).as("n2"),
            (sum(col("dq") * col("dq0")).cast("double") / 10000.0)
              .as("sxy"),
            (sum(col("dq")).cast("double") / 100.0).as("sx"),
            (sum(col("dq0")).cast("double") / 100.0).as("sy"))
        val rl = pr.filter(col("n2") >= 2)
          .select(col("user_id"),
            (col("sxy") / col("n2").cast("double") -
              (col("sx") / col("n2").cast("double")) *
              (col("sy") / col("n2").cast("double"))).as("cv"))
        am.join(rl, Seq("user_id"), "left")
          .select(col("user_id"), col("n_rets"),
            (col("aq").cast("double") / col("n_rets").cast("double") /
              1.0e9).as("amihud"),
            when(col("cv").isNull, lit(null).cast("double"))
              .when(col("cv") < 0.0, round(lit(2.0) * sqrt(-col("cv")), 9))
              .otherwise(0.0).as("roll_spread"))
      }),
  )
}

package graft.queries

import graft.{Parity, QueryDef, Sinks, Tables}
import graft.operators.{Ewm, Sessionize, TrendEvents}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** End-to-end pipeline operators mirroring the reference's Silver/Gold
  * phases on the harness tables: complete time-grid + fill, gap
  * sessionization, EWM, the trend-event state machine, the daily feature
  * battery, and DML-rewrite / sample / CSV-roundtrip odds and ends.
  */
object PipelineQueries {
  import Parity._

  private val DEC = DecimalType(30, 6)

  /** pl17's SCD2 dimension build (per-user dominant-event-type validity
    * intervals), shared with j15's enrichment join — the dimension one
    * query commits is the dimension the other consumes. */
  private[queries] def scd2Dim(s: SparkSession,
                               d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wMode = Window.partitionBy("user_id", "day")
      .orderBy(col("cnt").desc, col("event_type"))
    val wLag = Window.partitionBy("user_id").orderBy("day")
    val wRun = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, 0)
    val dom = Tables.events(s, d)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"),
        col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(wMode))
      .filter(col("rn") === 1)
      .select("user_id", "day", "event_type")
    val prev = lag("event_type", 1).over(wLag)
    dom
      .withColumn("chg",
        when(prev.isNull || prev =!= col("event_type"), 1L).otherwise(0L))
      .withColumn("run_id", sum("chg").over(wRun))
      .groupBy("user_id", "run_id", "event_type")
      .agg(min("day").as("valid_from"), max("day").as("valid_to"),
        count(lit(1)).as("n_days"))
      .select("user_id", "run_id", "event_type", "valid_from",
        "valid_to", "n_days")
  }

  /** pl17's oracle CTE prefix (through the interval table `scd`), shared
    * with j15 so both replay the identical dimension derivation. */
  private[queries] val scd2OracleCtes: String =
    """c AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day, event_type,
      |    count(*) AS cnt
      |  FROM events GROUP BY 1, 2, 3),
      |dom AS (
      |  SELECT user_id, day, event_type FROM (
      |    SELECT *, row_number() OVER (PARTITION BY user_id, day
      |      ORDER BY cnt DESC, event_type) AS rn
      |    FROM c) WHERE rn = 1),
      |runs AS (
      |  SELECT user_id, day, event_type,
      |    CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
      |      THEN 1 ELSE 0 END AS chg
      |  FROM dom WINDOW w AS (PARTITION BY user_id ORDER BY day)),
      |grp AS (
      |  SELECT user_id, day, event_type,
      |    sum(chg) OVER (PARTITION BY user_id ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
      |  FROM runs),
      |scd AS (
      |  SELECT user_id, CAST(run_id AS BIGINT) AS run_id, event_type,
      |    min(day) AS valid_from, max(day) AS valid_to,
      |    count(*) AS n_days
      |  FROM grp GROUP BY 1, 2, 3)""".stripMargin

  /** Shared oracle for pl14 (fold), pl16 (fused) and st8 (streaming
    * incremental refresh) — identical output contract; any drift between
    * the compositions fails the hash. */
  private[queries] lazy val goldOracleSql: String = {
        val w = "PARTITION BY user_id ORDER BY day"
        val f5 = s"$w ROWS BETWEEN 4 PRECEDING AND CURRENT ROW"
        val f20m = s"$w ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING"
        val f20 = s"$w ROWS BETWEEN 19 PRECEDING AND CURRENT ROW"
        val s1_5 = s"(CAST(SUM(lrq) OVER ($f5) AS DOUBLE) / 1e6)"
        val s2_5 = s"(CAST(SUM(lrq * lrq) OVER ($f5) AS DOUBLE) / 1e12)"
        val s1_20 = s"(CAST(SUM(drq) OVER ($f20) AS DOUBLE) / 1e4)"
        val s2_20 = s"(CAST(SUM(drq * drq) OVER ($f20) AS DOUBLE) / 1e8)"
        val holidayExpr = graft.operators.GoldFeatures.Holidays.sorted.reverse
          .foldRight("CAST(NULL AS INT)") { (h, acc) =>
            s"CASE WHEN day >= DATE '$h' THEN CAST(day - DATE '$h' AS INT) ELSE $acc END"
          }
        s"""WITH ev AS (
           |  SELECT user_id, ts, value, CAST(ts AS DATE) AS day,
           |    date_part('hour', ts) AS hh
           |  FROM events),
           |candles0 AS (
           |  SELECT user_id, day, date_trunc('hour', ts) AS slot,
           |    arg_min(value, ts) AS c_open, arg_max(value, ts) AS c_close,
           |    max(value) AS c_high, min(value) AS c_low,
           |    SUM(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS c_volq,
           |    count(*) AS c_n
           |  FROM ev GROUP BY 1, 2, 3),
           |candles AS (
           |  SELECT *, CAST(c_volq AS DOUBLE) / 100.0 AS c_vol
           |  FROM candles0),
           |cd AS (
           |  SELECT user_id, day,
           |    sum(CAST(floor((CASE WHEN c_high - c_low = 0 THEN 0.0
           |      ELSE (c_high - greatest(c_open, c_close)) / (c_high - c_low)
           |      END) * 1e9 + 0.5) AS BIGINT)) AS uq_sum,
           |    sum(CAST(floor((CASE WHEN c_high - c_low = 0 THEN 0.0
           |      ELSE (least(c_open, c_close) - c_low) / (c_high - c_low)
           |      END) * 1e9 + 0.5) AS BIGINT)) AS lq_sum,
           |    count(*) AS n_candles,
           |    sum(CASE WHEN date_part('hour', slot) < 9 THEN
           |      CAST(floor(c_vol * c_vol / c_n * 1e6 + 0.5) AS BIGINT)
           |      END) AS pm_vt_sum,
           |    CAST(sum(CASE WHEN date_part('hour', slot) < 9 THEN
           |      c_volq END) AS DOUBLE) / 100.0 AS pm_vol_sum,
           |    CAST(sum(CASE WHEN date_part('hour', slot) < 9 THEN
           |      c_volq * c_volq END) AS DOUBLE) / 10000.0
           |      AS pm_vol_sq_sum
           |  FROM candles GROUP BY 1, 2),
           |daily AS (
           |  SELECT user_id, day,
           |    arg_min(value, ts) AS d_first, arg_max(value, ts) AS d_last,
           |    max(value) AS d_high, min(value) AS d_low,
           |    CAST(SUM(CAST(floor(value * 100.0 + 0.5) AS BIGINT))
           |      AS DOUBLE) / 100.0 AS d_vol,
           |    count(*) AS d_n,
           |    arg_min(value, CASE WHEN hh < 9 THEN ts END) AS pm_open,
           |    arg_max(value, CASE WHEN hh < 9 THEN ts END) AS pm_last,
           |    CAST(sum(CASE WHEN hh < 9 THEN
           |      CAST(floor(value * 100.0 + 0.5) AS BIGINT) END)
           |      AS DOUBLE) / 100.0 AS pm_vol,
           |    sum(CASE WHEN hh < 9 THEN 1 END) AS pm_n,
           |    arg_max(value, CASE WHEN hh >= 9 AND hh < 16 THEN ts END)
           |      AS reg_close
           |  FROM ev GROUP BY 1, 2),
           |sub AS (
           |  SELECT * FROM daily JOIN cd USING (user_id, day)),
           |retd AS (
           |  SELECT *,
           |    CASE WHEN d_first > 0 AND d_last > 0 THEN
           |      CAST(floor(ln(d_last / d_first) * 1e6 + 0.5) AS BIGINT)
           |      END AS lrq,
           |    CAST(floor(d_vol * 100.0 + 0.5) AS BIGINT) AS dq,
           |    CASE WHEN lag(d_last, 1) OVER ($w) IS NOT NULL THEN
           |      CAST(floor((d_last / NULLIF(lag(d_last, 1) OVER ($w), 0.0) - 1.0)
           |        * 1e4 + 0.5) AS BIGINT) END AS drq,
           |    lag(d_last, 1) OVER ($w) AS prev_close,
           |    lag(reg_close, 1) OVER ($w) AS prev_reg_close,
           |    lag(d_last, 1) OVER ($w) / NULLIF(lag(d_last, 2) OVER ($w), 0.0)
           |      - 1.0 AS prev_day_return,
           |    lag((d_high - d_low) / NULLIF(d_last, 0.0), 1) OVER ($w)
           |      AS range_rel_last1d,
           |    lag(CAST(uq_sum AS DOUBLE) / n_candles / 1e9, 1) OVER ($w)
           |      AS upper_wick_ratio_last1d,
           |    lag(CAST(lq_sum AS DOUBLE) / n_candles / 1e9, 1) OVER ($w)
           |      AS lower_wick_ratio_last1d,
           |    (dayofweek(day) + 6) % 7 AS wd,
           |    CASE WHEN pm_n IS NOT NULL THEN pm_vol / pm_n END AS ats
           |  FROM sub),
           |feat AS (
           |  SELECT user_id, day, prev_day_return,
           |    CASE WHEN count(lrq) OVER ($f5) >= 5 THEN
           |      SQRT(($s2_5 - $s1_5 * $s1_5 / 5.0) / 4.0)
           |    END AS std_return_last5d,
           |    range_rel_last1d,
           |    CASE WHEN count(dq) OVER ($f20m) >= 20 THEN
           |      d_vol / NULLIF(CAST(SUM(dq) OVER ($f20m) AS DOUBLE) / 20.0 / 100.0,
           |        0.0)
           |    END AS rvol_20d,
           |    CASE WHEN prev_close IS NOT NULL AND prev_close <> 0
           |         AND pm_open IS NOT NULL AND pm_open <> 0 THEN
           |      (pm_open - prev_close) / prev_close ELSE 0.0
           |    END AS gap_pct,
           |    CASE WHEN count(d_last) OVER ($f20m) >= 20 THEN
           |      (prev_close - max(d_last) OVER ($f20m))
           |        / NULLIF(max(d_last) OVER ($f20m), 0.0)
           |    END AS dist_max_20d,
           |    upper_wick_ratio_last1d, lower_wick_ratio_last1d,
           |    CAST(wd = 0 AS INT) AS weekday_0,
           |    CAST(wd = 1 AS INT) AS weekday_1,
           |    CAST(wd = 2 AS INT) AS weekday_2,
           |    CAST(wd = 3 AS INT) AS weekday_3,
           |    CAST(wd = 4 AS INT) AS weekday_4,
           |    CASE WHEN wd < 5 THEN
           |      sin(2.0 * pi() * CAST(wd AS DOUBLE) / 5.0) END AS weekday_sin,
           |    CASE WHEN wd < 5 THEN
           |      cos(2.0 * pi() * CAST(wd AS DOUBLE) / 5.0) END AS weekday_cos,
           |    $holidayExpr AS days_since_holiday,
           |    CASE WHEN pm_vol_sum > 0.0 THEN
           |      pm_vol_sq_sum / (pm_vol_sum * pm_vol_sum)
           |    END AS hhi_premarket_volume,
           |    CASE WHEN count(drq) OVER ($f20) >= 20 THEN
           |      ((pm_last - pm_open) / NULLIF(pm_open, 0.0) - $s1_20 / 20.0)
           |        / NULLIF(SQRT(($s2_20 - $s1_20 * $s1_20 / 20.0) / 19.0),
           |            0.0)
           |    END AS z_pm,
           |    CASE WHEN len(list_filter(list(ats) OVER ($f20),
           |        x -> x IS NOT NULL)) >= 20 THEN
           |      CAST(floor(ln((ats + 0.01) /
           |        ((list_sort(list_filter(list(ats) OVER ($f20),
           |            x -> x IS NOT NULL))[10] +
           |          list_sort(list_filter(list(ats) OVER ($f20),
           |            x -> x IS NOT NULL))[11]) / 2.0 + 0.01))
           |        * 1e6 + 0.5) AS BIGINT)
           |    END AS r_pm_hist_q,
           |    (CASE WHEN pm_vol_sum > 0.0 THEN
           |      CAST(pm_vt_sum AS DOUBLE) / 1e6 / pm_vol_sum END)
           |      / NULLIF(prev_reg_close, 0.0) - 1.0 AS pm_vwap_return
           |  FROM retd)
           |SELECT * FROM feat""".stripMargin
  }

  val all: Seq[QueryDef] = Seq(

    // SILVER GRID+FILL — the reference's phase-1 core
    // (Procesamiento_fase_1.ipynb:169-273): per-key complete hourly grid
    // clipped to the key's active range (J2), LEFT JOIN observed bars (J3),
    // forward-fill close (W1), zero-fill counts (W3). Grid generated
    // distributed via sequence+explode — never on the driver.
    QueryDef(
      "pl1_grid_fill",
      Some("""WITH hourly AS (
             |  SELECT user_id, date_trunc('hour', ts) AS slot,
             |    arg_max(value, ts) AS close, count(*) AS n
             |  FROM events GROUP BY 1, 2),
             |ranges AS (
             |  SELECT user_id, min(slot) AS lo, max(slot) AS hi
             |  FROM hourly GROUP BY 1),
             |grid AS (
             |  SELECT user_id,
             |    unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS slot
             |  FROM ranges),
             |joined AS (
             |  SELECT g.user_id, g.slot, h.close, COALESCE(h.n, 0) AS n_events
             |  FROM grid g LEFT JOIN hourly h
             |    ON g.user_id = h.user_id AND g.slot = h.slot)
             |SELECT user_id, slot,
             |  last_value(close IGNORE NULLS) OVER (
             |    PARTITION BY user_id ORDER BY slot
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |    AS close_ffill,
             |  n_events
             |FROM joined""".stripMargin),
      (s, d) => {
        // one shuffle serves the whole pipeline: hash(user_id) satisfies
        // the (user_id, slot) agg, the grid join, and the fill window.
        val hourly = Tables.events(s, d)
          .repartition(col("user_id"))
          .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("slot"))
          .agg(max_by(col("value"), col("ts")).as("close"),
               count(lit(1)).as("n"))
        val ranges = hourly.groupBy("user_id")
          .agg(min("slot").as("lo"), max("slot").as("hi"))
        val grid = ranges.select(col("user_id"),
          explode(sequence(col("lo"), col("hi"), expr("INTERVAL 1 HOUR")))
            .as("slot"))
        val joined = grid.join(hourly, Seq("user_id", "slot"), "left")
          .select(col("user_id"), col("slot"), col("close"),
            coalesce(col("n"), lit(0L)).as("n_events"))
        val w = Window.partitionBy("user_id").orderBy("slot")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        joined.select(col("user_id"), col("slot"),
          last("close", ignoreNulls = true).over(w).as("close_ffill"),
          col("n_events"))
      }),

    // SESSIONIZATION — gap > 6h starts a new session; per-event session ids
    // plus per-session rollup (count, span, value sum).
    QueryDef(
      "pl2_sessionize",
      Some(s"""WITH tagged AS (
              |  SELECT user_id, ts, event_id, value,
              |    CASE WHEN epoch_us(ts) -
              |      epoch_us(lag(ts, 1) OVER
              |        (PARTITION BY user_id ORDER BY ts)) > 21600000000
              |      OR lag(ts, 1) OVER (PARTITION BY user_id ORDER BY ts)
              |        IS NULL
              |    THEN 1 ELSE 0 END AS is_new
              |  FROM events),
              |sess AS (
              |  SELECT user_id, ts, event_id, value,
              |    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              |      AS BIGINT) AS session_id
              |  FROM tagged)
              |SELECT user_id, session_id, count(*) AS n_events,
              |  min(ts) AS session_start, max(ts) AS session_end,
              |  CAST(SUM(${oLq("value")}) AS DOUBLE) / 100.0
              |    AS session_value
              |FROM sess GROUP BY user_id, session_id""".stripMargin),
      (s, d) =>
        Sessionize.withSessionIds(
            Tables.events(s, d).select("user_id", "ts", "event_id", "value"),
            "user_id", "ts", gapSeconds = 21600L)
          .groupBy("user_id", "session_id")
          .agg(count(lit(1)).as("n_events"),
               min("ts").as("session_start"), max("ts").as("session_end"),
               (sum(lq(col("value"))).cast("double") / 100.0)
                 .as("session_value"))),

    // W12/EWM (FIR form) — 32-term truncated renormalized EWM as one
    // WindowExec. Integer-quantized (weights 1e-9 grid, 2-decimal inputs
    // exact at 1e-2): the dot product is exact long arithmetic, so the
    // result is association-free and oracle-exact (a raw 32-term double
    // chain is NOT portable across engines — see Ewm.firQ).
    QueryDef(
      "pl3_ewm_fir",
      Some {
        val k = 32; val alpha = 0.1
        val ws = Ewm.firWeightsQ(alpha, k)
        val oW = "PARTITION BY user_id ORDER BY ts"
        val terms = ws.zipWithIndex.map { case (wi, i) =>
          s"$wi * lag(xq, $i) OVER ($oW)"
        }.mkString(" + ")
        s"""WITH q AS (
           |  SELECT event_id, user_id, ts, value,
           |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS xq
           |  FROM events)
           |SELECT event_id, user_id, ts, value,
           |  CASE WHEN row_number() OVER ($oW) >= $k THEN
           |    CAST($terms AS DOUBLE) / CAST(${ws.sum} AS DOUBLE) / 100.0
           |  END AS ewm_fir
           |FROM q""".stripMargin
      },
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts")
        Tables.events(s, d).select(
          col("event_id"), col("user_id"), col("ts"), col("value"),
          when(row_number().over(w) >= 32,
            Ewm.firQ(col("value"), w, alpha = 0.1, k = 32, xScale = 2))
            .as("ewm_fir"))
      }),

    // W12/EWM (exact recursive form, pandas adjust=False) — sequential
    // per-key scan; not expressible in SQL WINDOW algebra.
    // Oracle: DuckDB replays the exact recurrence via a recursive CTE —
    // 0.1*x + (1.0-0.1)*y is the same IEEE multiply/multiply/add tree the
    // Scala scan evaluates, so the doubles match bitwise.
    QueryDef(
      "pl4_ewm_recursive",
      Some("""WITH RECURSIVE o AS (
             |  SELECT user_id, ts, value,
             |    row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
             |  FROM events),
             |r AS (
             |  SELECT user_id, ts, value, rn, value AS ewm FROM o WHERE rn = 1
             |  UNION ALL
             |  SELECT o.user_id, o.ts, o.value, o.rn,
             |    0.1 * o.value + (1.0 - 0.1) * r.ewm AS ewm
             |  FROM o JOIN r ON o.user_id = r.user_id AND o.rn = r.rn + 1)
             |SELECT user_id, ts, value, ewm FROM r""".stripMargin),
      (s, d) =>
        Ewm.recursive(Tables.events(s, d), "user_id", "ts", "value",
          alpha = 0.1)
          .select(col("key").as("user_id"), col("ts"), col("x").as("value"),
                  col("ewm"))),

    // W12/EWM (native Catalyst form) — the custom AggregateWindowFunction
    // (graft.functions.EwmNr) registered via the session registry /
    // SparkSessionExtensions and invoked through SQL. Same recurrence as
    // pl4 (spec-asserted bit-equal); recursion is not SQL-window
    // expressible, so rows-only for the oracle.
    QueryDef(
      "pl12_ewm_native",
      Some("""WITH RECURSIVE o AS (
             |  SELECT event_id, user_id, ts, value,
             |    row_number() OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS rn
             |  FROM events),
             |r AS (
             |  SELECT event_id, user_id, ts, value, rn, value AS ewm
             |  FROM o WHERE rn = 1
             |  UNION ALL
             |  SELECT o.event_id, o.user_id, o.ts, o.value, o.rn,
             |    0.1 * o.value + (1.0 - 0.1) * r.ewm AS ewm
             |  FROM o JOIN r ON o.user_id = r.user_id AND o.rn = r.rn + 1)
             |SELECT event_id, user_id, ts, value, ewm FROM r""".stripMargin),
      (s, d) => {
        graft.functions.EwmNative.register(s)
        Tables.events(s, d).selectExpr(
          "event_id", "user_id", "ts", "value",
          "ewm_nr(value, 0.1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS ewm")
      }),

    // TREND EVENTS — the path-dependent threshold-crossing state machine
    // (my_alpaca.py:19-111); inherently sequential per key → no SQL oracle.
    // Oracle: the path-dependent state machine as a state-carrying
    // recursive CTE — (ref, hi, lo, n, emitted) advance row by row with
    // the same update order (hi/lo/n first, then the crossing test), so
    // events and the final open segment match the iterator bitwise.
    QueryDef(
      "pl5_trend_events",
      Some("""WITH RECURSIVE o AS (
             |  SELECT user_id AS key, ts, value,
             |    row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
             |  FROM events),
             |s AS (
             |  SELECT key, rn, ts, value,
             |    value AS ref, ts AS ref_ts, value AS hi, value AS lo,
             |    1 AS n, FALSE AS crossed, FALSE AS any_emitted,
             |    CAST(NULL AS DOUBLE) AS ev_open,
             |    CAST(NULL AS TIMESTAMP) AS ev_start,
             |    CAST(NULL AS DOUBLE) AS ev_hi, CAST(NULL AS DOUBLE) AS ev_lo,
             |    CAST(NULL AS INT) AS ev_n
             |  FROM o WHERE rn = 1
             |  UNION ALL
             |  SELECT o.key, o.rn, o.ts, o.value,
             |    CASE WHEN x.cr THEN o.value ELSE s.ref END,
             |    CASE WHEN x.cr THEN o.ts ELSE s.ref_ts END,
             |    CASE WHEN x.cr THEN o.value ELSE x.hi2 END,
             |    CASE WHEN x.cr THEN o.value ELSE x.lo2 END,
             |    CASE WHEN x.cr THEN 1 ELSE s.n + 1 END,
             |    x.cr, s.any_emitted OR x.cr,
             |    s.ref, s.ref_ts, x.hi2, x.lo2, s.n + 1
             |  FROM o
             |  JOIN s ON o.key = s.key AND o.rn = s.rn + 1
             |  CROSS JOIN LATERAL (
             |    SELECT greatest(s.hi, o.value) AS hi2,
             |      least(s.lo, o.value) AS lo2,
             |      (s.ref = 0.0 AND o.value > 0.0) OR
             |      abs(o.value / s.ref - 1.0) >=
             |        (CASE WHEN s.ref < 1.0 THEN 0.12
             |              WHEN s.ref < 10.0 THEN 0.08
             |              WHEN s.ref < 50.0 THEN 0.05
             |              WHEN s.ref < 200.0 THEN 0.03
             |              ELSE 0.02 END) AS cr) x),
             |closed_ev AS (
             |  SELECT key, ev_start AS start_ts, ts AS end_ts,
             |    ev_open AS open, ev_hi AS high, ev_lo AS low,
             |    value AS close,
             |    CASE WHEN ev_open = 0.0 THEN NULL
             |      ELSE value / ev_open - 1.0 END AS pct_change,
             |    ev_n AS n_points, TRUE AS closed
             |  FROM s WHERE crossed),
             |last_state AS (
             |  SELECT * FROM (SELECT *, row_number() OVER (
             |    PARTITION BY key ORDER BY rn DESC) AS rr FROM s)
             |  WHERE rr = 1),
             |open_ev AS (
             |  SELECT key, ref_ts AS start_ts, ts AS end_ts, ref AS open,
             |    hi AS high, lo AS low, value AS close,
             |    CASE WHEN ref = 0.0 THEN NULL
             |      ELSE value / ref - 1.0 END AS pct_change, n AS n_points,
             |    FALSE AS closed
             |  FROM last_state WHERE n > 1 OR NOT any_emitted)
             |SELECT * FROM closed_ev UNION ALL SELECT * FROM open_ev""".stripMargin),
      (s, d) =>
        TrendEvents.fromDf(Tables.events(s, d), "user_id", "ts", "value")),

    // GOLD FEATURE BATTERY — the phase-2 flagship: daily rollup (A2) +
    // prev-day gap (W4) + returns (W6) + rolling std/mean (W8/W9) +
    // dist-from-max (W11) + wick ratios (F5/F9/F10) + cyclic weekday (F7),
    // all over ONE per-key partitioning (single shuffle serves the whole
    // window battery).
    QueryDef(
      "pl6_feature_battery",
      Some {
        // Derived returns are arbitrary reals; decimal casts of those can
        // land on exact .5 ties where Spark (HALF_UP) and DuckDB
        // (HALF_EVEN) disagree. Quantize via floor(x*1e6+0.5) — identical
        // IEEE ops, no rounding mode — then window-sum exact integers.
        val oW = "PARTITION BY user_id ORDER BY day"
        val f5 = s"$oW ROWS BETWEEN 4 PRECEDING AND CURRENT ROW"
        val f20 = s"$oW ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING"
        val s1 = s"(CAST(SUM(rq) OVER ($f5) AS DOUBLE) / 10000.0)"
        val s2 = s"(CAST(SUM(rq * rq) OVER ($f5) AS DOUBLE) / 100000000.0)"
        s"""WITH daily AS (
           |  SELECT user_id, CAST(ts AS DATE) AS day,
           |    arg_min(value, ts) AS open, max(value) AS high,
           |    min(value) AS low, arg_max(value, ts) AS close,
           |    CAST(SUM(CAST(floor(value * 100.0 + 0.5) AS BIGINT))
           |      AS DOUBLE) / 100.0 AS volume,
           |    count(*) AS n
           |  FROM events GROUP BY 1, 2),
           |retd AS (
           |  SELECT *,
           |    lag(close, 1) OVER ($oW) AS prev_close,
           |    CASE WHEN lag(close, 1) OVER ($oW) > 0.0 THEN
           |      close / lag(close, 1) OVER ($oW) - 1.0 END AS ret,
           |    CASE WHEN lag(close, 1) OVER ($oW) > 0.0 THEN
           |      CAST(floor((close / lag(close, 1) OVER ($oW) - 1.0)
           |        * 10000.0 + 0.5) AS BIGINT) END AS rq
           |  FROM daily),
           |feat AS (
           |  SELECT user_id, day, open, high, low, close, volume, n,
           |    prev_close, ret AS prev_day_return,
           |    CASE WHEN prev_close > 0.0 THEN
           |      (open - prev_close) / prev_close * 100.0 END AS gap_pct,
           |    CASE WHEN count(ret) OVER ($f5) >= 5 THEN
           |      SQRT(($s2 - $s1 * $s1 / 5.0) / 4.0) END AS std_return_5d,
           |    CASE WHEN count(*) OVER ($f20) >= 20 THEN
           |      (close - max(close) OVER ($f20)) /
           |        NULLIF(max(close) OVER ($f20), 0.0)
           |    END AS dist_max_20d,
           |    CASE WHEN high - low <> 0.0 THEN
           |      (high - greatest(open, close)) / (high - low)
           |      ELSE 0.0 END AS upper_wick_ratio,
           |    sin(2.0 * pi() * CAST(dayofweek(day) AS DOUBLE) / 7.0)
           |      AS weekday_sin,
           |    cos(2.0 * pi() * CAST(dayofweek(day) AS DOUBLE) / 7.0)
           |      AS weekday_cos
           |  FROM retd)
           |SELECT * FROM feat""".stripMargin
      },
      (s, d) => {
        // hash(user_id) up front: the (user_id, day) agg and every window
        // below share ONE exchange instead of two.
        val daily = Tables.events(s, d)
          .repartition(col("user_id"))
          .groupBy(col("user_id"), to_date(col("ts")).as("day"))
          .agg(min_by(col("value"), col("ts")).as("open"),
               max("value").as("high"), min("value").as("low"),
               max_by(col("value"), col("ts")).as("close"),
               (sum(lq(col("value"))).cast("double") / 100.0).as("volume"),
               count(lit(1)).as("n"))
        val w = Window.partitionBy("user_id").orderBy("day")
        val f5 = w.rowsBetween(-4, 0)
        val f20 = w.rowsBetween(-20, -1)
        val prevC = lag("close", 1).over(w)
        val withRet = daily
          .withColumn("prev_close", prevC)
          .withColumn("ret",
            when(prevC > 0.0, col("close") / prevC - 1.0))
          .withColumn("rq",
            when(prevC > 0.0,
              floor((col("close") / prevC - 1.0) * 10000.0 + 0.5)
                .cast("long")))
        val s1 = sum(col("rq")).over(f5).cast("double") / 10000.0
        val s2 = sum(col("rq") * col("rq")).over(f5).cast("double") /
          100000000.0
        val mx20 = max("close").over(f20)
        withRet.select(
          col("user_id"), col("day"), col("open"), col("high"), col("low"),
          col("close"), col("volume"), col("n"), col("prev_close"),
          col("ret").as("prev_day_return"),
          when(col("prev_close") > 0.0,
            (col("open") - col("prev_close")) / col("prev_close") * 100.0)
            .as("gap_pct"),
          when(count(col("ret")).over(f5) >= 5,
            sqrt((s2 - s1 * s1 / 5.0) / 4.0)).as("std_return_5d"),
          when(count(lit(1)).over(f20) >= 20,
            (col("close") - mx20) / nullif(mx20, lit(0.0)))
            .as("dist_max_20d"),
          when(col("high") - col("low") =!= 0.0,
            (col("high") - greatest(col("open"), col("close"))) /
              (col("high") - col("low"))).otherwise(0.0)
            .as("upper_wick_ratio"),
          sin(lit(2.0) * lit(math.Pi) * (dayofweek(col("day")) - 1)
            .cast("double") / 7.0).as("weekday_sin"),
          cos(lit(2.0) * lit(math.Pi) * (dayofweek(col("day")) - 1)
            .cast("double") / 7.0).as("weekday_cos"))
      }),

    // A12: deterministic pseudo-random sample — hash-ordered limit (the
    // engine-portable analog of orderBy(rand(seed)).limit(k)).
    QueryDef(
      "pl7_hash_sample",
      Some("""SELECT user_id FROM (
             |  SELECT DISTINCT user_id FROM events)
             |ORDER BY md5('s42' || CAST(user_id AS VARCHAR)), user_id
             |LIMIT 10""".stripMargin),
      (s, d) =>
        Tables.events(s, d).select("user_id").distinct()
          .orderBy(md5(concat(lit("s42"), col("user_id").cast("string"))),
                   col("user_id"))
          .limit(10)),

    // P10: corrective UPDATE as a declarative rewrite (the vwap repair
    // shape: SET value=(lo+hi)/2 WHERE out of band).
    QueryDef(
      "pl8_update_rewrite",
      Some("""SELECT event_id, value,
             |  CASE WHEN value < 1.0 OR value > 400.0
             |       THEN (1.0 + 400.0) / 2.0 ELSE value END AS value_fixed,
             |  (value < 1.0 OR value > 400.0) AS was_repaired
             |FROM events""".stripMargin),
      (s, d) =>
        Tables.events(s, d).select(
          col("event_id"), col("value"),
          when(col("value") < 1.0 || col("value") > 400.0,
            (lit(1.0) + 400.0) / 2.0).otherwise(col("value"))
            .as("value_fixed"),
          (col("value") < 1.0 || col("value") > 400.0).as("was_repaired"))),

    // S2+S3+S4: partitioned columnar sink with dynamic partition overwrite
    // (the writeTo(...).overwritePartitions() shape on plain parquet) +
    // scan-back. Partition pruning on the read side comes free.
    QueryDef(
      "pl10_partitioned_sink",
      Some("""SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
             |FROM events GROUP BY 1, 2""".stripMargin),
      (s, d) => {
        // Sink path derived from the input dir: concurrent runs (or a
        // warmup pass at another SF) must never share a sink — dynamic
        // overwrite would leave stale partitions from the other run.
        val out = Sinks.dir(s, "partitioned_sink", d)
        val prev = s.conf.getOption("spark.sql.sources.partitionOverwriteMode")
        s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try {
          Tables.events(s, d)
            .groupBy(col("event_type"), to_date(col("ts")).as("day"))
            .agg(count(lit(1)).as("n"))
            .write.mode("overwrite").partitionBy("event_type").parquet(out)
        } finally {
          // restore session conf — a query must not silently change engine
          // behavior for everything that runs after it.
          prev match {
            case Some(v) => s.conf.set("spark.sql.sources.partitionOverwriteMode", v)
            case None => s.conf.unset("spark.sql.sources.partitionOverwriteMode")
          }
        }
        // read back; partition column returns as string -> restore order/type
        s.read.parquet(out).select(
          col("event_type"), col("day"), col("n"))
      }),

    // P9: DELETE-by-predicate as a declarative rewrite (drop rows before a
    // cutoff + audit count of survivors; the Delta DELETE shape on views).
    QueryDef(
      "pl11_delete_rewrite",
      Some("""SELECT CAST(ts AS DATE) AS day, count(*) AS n_kept
             |FROM events WHERE ts >= TIMESTAMP '2024-01-05'
             |GROUP BY 1""".stripMargin),
      (s, d) =>
        Tables.events(s, d)
          .filter(col("ts") >= lit("2024-01-05").cast("timestamp"))
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n_kept"))),

    // TREND EVENTS, two-granularity refinement — the reference's drill-down
    // (my_alpaca.py:53-63): the scan runs on hourly candles; fine ticks are
    // consulted only inside a candle whose high/low crosses the band, to
    // end the event at the precise crossing row. Path-dependent per key →
    // rows-only for the oracle (refinement logic is spec-tested).
    // Oracle: the merged-stream two-granularity state machine as a
    // state-carrying recursive CTE (same transition order as the
    // iterator: window-expiry first, coarse hits arm the fine window,
    // fine rows inside it update hi/lo then test the crossing).
    QueryDef(
      "pl15_trend_refined",
      Some("""WITH RECURSIVE coarse AS (
             |  SELECT user_id AS key, date_trunc('hour', ts) AS ts,
             |    max(value) AS r_hi, min(value) AS r_lo,
             |    arg_min(value, ts) AS r_open, arg_max(value, ts) AS r_price,
             |    date_trunc('hour', ts) + INTERVAL 1 HOUR AS winEnd, 0 AS tag
             |  FROM events GROUP BY user_id, date_trunc('hour', ts)),
             |fine AS (
             |  SELECT user_id AS key, ts, value AS r_hi, value AS r_lo,
             |    value AS r_open, value AS r_price, ts AS winEnd, 1 AS tag
             |  FROM events),
             |o AS (
             |  SELECT *, row_number() OVER (PARTITION BY key ORDER BY ts, tag) AS rn
             |  FROM (SELECT * FROM coarse UNION ALL SELECT * FROM fine)),
             |s AS (
             |  SELECT key, rn, ts, r_price,
             |    ts AS start_ts,
             |    CASE WHEN tag = 0 THEN r_open ELSE r_price END AS ref,
             |    CASE WHEN tag = 0 THEN
             |      (CASE WHEN (CASE WHEN r_open = 0.0 THEN r_hi > 0.0
             |           ELSE (r_hi / r_open - 1.0 >= (CASE WHEN r_open < 1.0 THEN 0.12 WHEN r_open < 10.0 THEN 0.08 WHEN r_open < 50.0 THEN 0.05 WHEN r_open < 200.0 THEN 0.03 ELSE 0.02 END))
             |              OR (r_lo / r_open - 1.0 <= -(CASE WHEN r_open < 1.0 THEN 0.12 WHEN r_open < 10.0 THEN 0.08 WHEN r_open < 50.0 THEN 0.05 WHEN r_open < 200.0 THEN 0.03 ELSE 0.02 END)) END)
             |       THEN r_open ELSE greatest(r_open, r_hi) END)
             |    ELSE r_price END AS hi,
             |    CASE WHEN tag = 0 THEN
             |      (CASE WHEN (CASE WHEN r_open = 0.0 THEN r_hi > 0.0
             |           ELSE (r_hi / r_open - 1.0 >= (CASE WHEN r_open < 1.0 THEN 0.12 WHEN r_open < 10.0 THEN 0.08 WHEN r_open < 50.0 THEN 0.05 WHEN r_open < 200.0 THEN 0.03 ELSE 0.02 END))
             |              OR (r_lo / r_open - 1.0 <= -(CASE WHEN r_open < 1.0 THEN 0.12 WHEN r_open < 10.0 THEN 0.08 WHEN r_open < 50.0 THEN 0.05 WHEN r_open < 200.0 THEN 0.03 ELSE 0.02 END)) END)
             |       THEN r_open ELSE least(r_open, r_lo) END)
             |    ELSE r_price END AS lo,
             |    CASE WHEN tag = 0 THEN 1 ELSE 0 END AS n,
             |    r_price AS last_price,
             |    ts AS last_ts,
             |    CASE WHEN tag = 0 AND
             |      (CASE WHEN r_open = 0.0 THEN r_hi > 0.0
             |       ELSE (r_hi / r_open - 1.0 >= (CASE WHEN r_open < 1.0 THEN 0.12 WHEN r_open < 10.0 THEN 0.08 WHEN r_open < 50.0 THEN 0.05 WHEN r_open < 200.0 THEN 0.03 ELSE 0.02 END))
             |        OR (r_lo / r_open - 1.0 <= -(CASE WHEN r_open < 1.0 THEN 0.12 WHEN r_open < 10.0 THEN 0.08 WHEN r_open < 50.0 THEN 0.05 WHEN r_open < 200.0 THEN 0.03 ELSE 0.02 END)) END)
             |      THEN winEnd END AS fine_until,
             |    FALSE AS crossed, FALSE AS emitted,
             |    CAST(NULL AS TIMESTAMP) AS ev_start, CAST(NULL AS DOUBLE) AS ev_open,
             |    CAST(NULL AS DOUBLE) AS ev_hi, CAST(NULL AS DOUBLE) AS ev_lo,
             |    CAST(NULL AS INT) AS ev_n
             |  FROM o WHERE rn = 1
             |  UNION ALL
             |  SELECT o.key, o.rn, o.ts, o.r_price,
             |    CASE WHEN x.cross THEN o.ts ELSE s.start_ts END,
             |    CASE WHEN x.cross THEN o.r_price ELSE s.ref END,
             |    CASE WHEN x.cross THEN o.r_price
             |         WHEN x.is_coarse_live THEN (CASE WHEN x.hits THEN s.hi ELSE greatest(s.hi, o.r_hi) END)
             |         WHEN x.is_fine_live THEN x.hi2
             |         ELSE s.hi END,
             |    CASE WHEN x.cross THEN o.r_price
             |         WHEN x.is_coarse_live THEN (CASE WHEN x.hits THEN s.lo ELSE least(s.lo, o.r_lo) END)
             |         WHEN x.is_fine_live THEN x.lo2
             |         ELSE s.lo END,
             |    CASE WHEN x.cross THEN 1
             |         WHEN x.is_coarse_live THEN s.n + 1
             |         ELSE s.n END,
             |    CASE WHEN x.cross OR x.is_coarse_live THEN o.r_price
             |         ELSE s.last_price END,
             |    CASE WHEN x.cross OR x.is_coarse_live THEN o.ts ELSE s.last_ts END,
             |    CASE WHEN x.cross THEN CAST(NULL AS TIMESTAMP)
             |         WHEN x.is_coarse_live THEN (CASE WHEN x.hits THEN o.winEnd END)
             |         ELSE x.fu END,
             |    x.cross, s.emitted OR x.cross,
             |    s.start_ts, s.ref, x.hi2, x.lo2, CAST(s.n AS INT)
             |  FROM o JOIN s ON o.key = s.key AND o.rn = s.rn + 1
             |  CROSS JOIN LATERAL (
             |    SELECT fu, is_coarse_live, is_fine_live, hits, hi2, lo2,
             |      (is_fine_live AND
             |        ((s.ref = 0.0 AND o.r_price > 0.0) OR
             |         abs(o.r_price / s.ref - 1.0) >= fac)) AS cross
             |    FROM (SELECT
             |      CASE WHEN s.fine_until IS NOT NULL AND o.ts >= s.fine_until
             |           THEN CAST(NULL AS TIMESTAMP) ELSE s.fine_until END AS fu,
             |      (CASE WHEN s.ref < 1.0 THEN 0.12 WHEN s.ref < 10.0 THEN 0.08 WHEN s.ref < 50.0 THEN 0.05 WHEN s.ref < 200.0 THEN 0.03 ELSE 0.02 END) AS fac) f,
             |    LATERAL (SELECT
             |      (o.tag = 0 AND f.fu IS NULL) AS is_coarse_live,
             |      (o.tag = 1 AND f.fu IS NOT NULL) AS is_fine_live,
             |      (o.tag = 0 AND f.fu IS NULL AND
             |        (CASE WHEN s.ref = 0.0 THEN o.r_hi > 0.0
             |         ELSE (o.r_hi / s.ref - 1.0 >= f.fac)
             |           OR (o.r_lo / s.ref - 1.0 <= -f.fac) END))
             |        AS hits,
             |      greatest(s.hi, o.r_price) AS hi2, least(s.lo, o.r_price) AS lo2) g) x),
             |closed_ev AS (
             |  SELECT key, ev_start AS start_ts, ts AS end_ts, ev_open AS open,
             |    ev_hi AS high, ev_lo AS low, r_price AS close,
             |    CASE WHEN ev_open = 0.0 THEN NULL
             |      ELSE r_price / ev_open - 1.0 END AS pct_change,
             |    ev_n AS n_points,
             |    TRUE AS closed
             |  FROM s WHERE crossed),
             |last_state AS (
             |  SELECT * FROM (SELECT *, row_number() OVER (
             |    PARTITION BY key ORDER BY rn DESC) AS rr FROM s)
             |  WHERE rr = 1),
             |open_ev AS (
             |  SELECT key, start_ts, last_ts AS end_ts, ref AS open,
             |    hi AS high, lo AS low, last_price AS close,
             |    CASE WHEN ref = 0.0 THEN NULL
             |      ELSE last_price / ref - 1.0 END AS pct_change,
             |    CAST(n AS INT) AS n_points,
             |    FALSE AS closed
             |  FROM last_state WHERE n > 1 OR NOT emitted)
             |SELECT * FROM closed_ev UNION ALL SELECT * FROM open_ev""".stripMargin),
      (s, d) =>
        TrendEvents.refinedFromEvents(Tables.events(s, d),
          "user_id", "ts", "value")),

    // GOLD FULL — the complete 15-function feature battery
    // (my_stock_functions.py:13-778) assembled by the right-wins fold
    // (my_alpaca.py:296-335) in graft.operators.GoldFeatures: one
    // repartition(user_id) serves candles, daily rollups, every window
    // and the fold's joins. The oracle replays all 15 features in SQL.
    QueryDef(
      "pl14_gold_full",
      Some(goldOracleSql),
      (s, d) => graft.operators.GoldFeatures.goldTableFold(Tables.events(s, d))),

    // GOLD FUSED — the same 15 features as ONE single-pass select over the
    // substrate (no joins; substrate + one WindowExec chain). Verified
    // against the SAME oracle as pl14: the fold is the reference-shaped
    // composition, this is the scale path.
    QueryDef(
      "pl16_gold_fused",
      Some(goldOracleSql),
      (s, d) => graft.operators.GoldFeatures.goldTableFused(Tables.events(s, d))),

    // S10: keyed MERGE (ON CONFLICT DO NOTHING, bars.py:196-198) as a real
    // table mutation: seed a parquet table with the pre-cutoff slice, MERGE
    // in an overlapping window (same-key conflicts dropped, new keys
    // appended), read the mutated table back. The oracle replays the same
    // merge declaratively (target ∪ source-not-in-target).
    QueryDef(
      "pl13_merge_upsert",
      Some("""WITH target AS (
             |  SELECT event_id, user_id, ts, value FROM events
             |  WHERE ts < TIMESTAMP '2024-01-15'),
             |src0 AS (
             |  SELECT event_id, user_id, ts, value FROM events
             |  WHERE ts >= TIMESTAMP '2024-01-10'),
             |src AS (
             |  SELECT event_id, user_id, ts, value FROM (
             |    SELECT *, row_number() OVER (
             |      PARTITION BY user_id, ts ORDER BY event_id) AS rn
             |    FROM src0) WHERE rn = 1),
             |merged AS (
             |  SELECT * FROM target
             |  UNION ALL
             |  SELECT event_id, user_id, ts, value FROM src s
             |  WHERE NOT EXISTS (SELECT 1 FROM target t
             |    WHERE t.user_id = s.user_id AND t.ts = s.ts))
             |SELECT event_id, user_id, ts, value FROM merged""".stripMargin),
      (s, d) => {
        val base = Sinks.dir(s, "merge_table", d)
        val ev = Tables.events(s, d)
          .select("event_id", "user_id", "ts", "value")
        // seed (overwrite resets any previous run)
        ev.filter(col("ts") < lit("2024-01-15").cast("timestamp"))
          .write.mode("overwrite").parquet(base)
        // merge the overlapping window: [01-10, 01-15) all conflict,
        // [01-15, …) all insert
        val src = ev.filter(col("ts") >= lit("2024-01-10").cast("timestamp"))
        graft.operators.MergeUpsert.insertIfAbsent(
          s, src, base, Seq("user_id", "ts"), "event_id")
        s.read.parquet(base).select("event_id", "user_id", "ts", "value")
      }),

    // S5+S6: CSV sink + source roundtrip with explicit schema and timestamp
    // parse (per-symbol CSV bronze of my_alpaca.py:120-122,212).
    QueryDef(
      "pl9_csv_roundtrip",
      Some("""SELECT n_nationkey, n_name, n_regionkey FROM nation""".stripMargin),
      (s, d) => {
        // per-input-dir sink: see pl10.
        val out = Sinks.dir(s, "csv_roundtrip", d)
        Tables.nation(s, d).select("n_nationkey", "n_name", "n_regionkey")
          .write.mode("overwrite").option("header", "true").csv(out)
        s.read
          .schema("n_nationkey INT, n_name STRING, n_regionkey INT")
          .option("header", "true").csv(out)
      }),

    // PL17: SCD-2 validity intervals — collapse each user's run of
    // consecutive days with the same dominant event type into one
    // [valid_from, valid_to] row, the slowly-changing-dimension build a
    // warehouse runs on every attribute feed. Three bounded stages: the
    // per-(user, day) dominant type is a23's histogram-first mode; the
    // run id is the classic gaps-and-islands running sum of change flags
    // (lag over the per-user DAY sequence, not the events); the interval
    // rollup is a tiny hash aggregate. One user-keyed sort serves both
    // windows.
    QueryDef(
      "pl17_scd2_intervals",
      Some(s"""WITH $scd2OracleCtes
              |SELECT user_id, run_id, event_type,
              |  valid_from, valid_to, n_days
              |FROM scd""".stripMargin),
      (s, d) => scd2Dim(s, d)),

    // S10 (WHEN MATCHED half): SCD-1 source-wins MERGE via partition-level
    // copy-on-write ([[graft.operators.MergeUpsert.upsertPartitioned]]) —
    // the update-on-match complement of pl13's insert-if-absent. A daily
    // snapshot (days < Jan 25) is the target; a REVISED daily feed (days
    // ≥ Jan 20, totals shifted +1.0 — a backfill correction) is the
    // source. The merge rewrites ONLY the touched day-partitions: matched
    // keys take the source row, unmatched target rows in touched
    // partitions are kept, untouched partitions are never read or
    // written. The read-back is hash-verified against the declarative
    // merge (anti-join ∪ source) — end-to-end through real partitioned
    // files, not a view.
    QueryDef(
      "pl18_scd1_upsert",
      Some(s"""WITH daily AS (
              |  SELECT user_id, CAST(ts AS DATE) AS day,
              |    count(*) AS n,
              |    CAST(SUM(${oLq("value")}) AS DOUBLE) / 100.0 AS total
              |  FROM events GROUP BY 1, 2),
              |target AS (
              |  SELECT * FROM daily WHERE day < DATE '2024-01-25'),
              |source AS (
              |  SELECT user_id, day, n, total + 1.0 AS total
              |  FROM daily WHERE day >= DATE '2024-01-20')
              |SELECT t.user_id, t.day, t.n, t.total FROM target t
              |WHERE NOT EXISTS (
              |  SELECT 1 FROM source s
              |  WHERE s.user_id = t.user_id AND s.day = t.day)
              |UNION ALL
              |SELECT user_id, day, n, total FROM source""".stripMargin),
      (s, d) => {
        val daily = Tables.events(s, d)
          .groupBy(col("user_id"), to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n"),
               (sum(lq(col("value"))).cast("double") / 100.0).as("total"))
          .persist() // feeds the target write AND the source build
        val cutHi = lit("2024-01-25").cast("date")
        val cutLo = lit("2024-01-20").cast("date")
        // per-(run, sf) sink — concurrent runs must never share it
        val out = Sinks.dir(s, "scd1", d)
        val p = new org.apache.hadoop.fs.Path(out)
        p.getFileSystem(s.sparkContext.hadoopConfiguration)
          .delete(p, true) // fresh target: stale partitions from an
                           // earlier run would survive dynamic overwrite
        // partition-aligned shuffle before the partitioned write: without
        // it every one of the 32 tasks writes a sliver into every day
        // directory (days × tasks small files); with it each day is one
        // file — the layout a compaction exists to restore
        daily.filter(col("day") < cutHi).repartition(col("day"))
          .write.mode("overwrite").partitionBy("day").parquet(out)
        val source = daily.filter(col("day") >= cutLo)
          .select(col("user_id"), col("day"), col("n"),
            (col("total") + 1.0).as("total"))
        graft.operators.MergeUpsert.upsertPartitioned(
          s, source, out, keyCols = Seq("user_id", "day"),
          partitionCol = "day", orderCol = "day")
        s.read.parquet(out).select("user_id", "day", "n", "total")
      }),

    // PL19: the SAME SCD-1 source-wins merge as pl18, driven through the
    // MANIFEST-PINNED snapshot table instead of partitioned directories:
    // seed commit (v1) → upsertSnapshot commit (v2) → read the v2
    // manifest back. Same oracle math as pl18 (anti-join ∪ source), so
    // the two rows hash-verify the two storage mechanisms against ONE
    // declarative truth. What the snapshot path adds at 100 TB: the
    // merge is all-or-nothing (readers see v1 or v2, never a half-
    // rewritten directory), time travel to v1 stays open until vacuum,
    // and a crash mid-merge leaves only unreferenced data files.
    QueryDef(
      "pl19_snapshot_merge",
      Some(s"""WITH daily AS (
              |  SELECT user_id, CAST(ts AS DATE) AS day,
              |    count(*) AS n,
              |    CAST(SUM(${oLq("value")}) AS DOUBLE) / 100.0 AS total
              |  FROM events GROUP BY 1, 2),
              |target AS (
              |  SELECT * FROM daily WHERE day < DATE '2024-01-25'),
              |source AS (
              |  SELECT user_id, day, n, total + 1.0 AS total
              |  FROM daily WHERE day >= DATE '2024-01-20')
              |SELECT t.user_id, t.day, t.n, t.total FROM target t
              |WHERE NOT EXISTS (
              |  SELECT 1 FROM source s
              |  WHERE s.user_id = t.user_id AND s.day = t.day)
              |UNION ALL
              |SELECT user_id, day, n, total FROM source""".stripMargin),
      (s, d) => {
        import graft.operators.SnapshotTable
        val daily = Tables.events(s, d)
          .groupBy(col("user_id"), to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n"),
               (sum(lq(col("value"))).cast("double") / 100.0).as("total"))
          .persist() // seed commit AND source build read it
        val cutHi = lit("2024-01-25").cast("date")
        val cutLo = lit("2024-01-20").cast("date")
        // per-(run, sf) table root; fresh per run like pl18's sink
        val out = Sinks.dir(s, "snap", d)
        val p = new org.apache.hadoop.fs.Path(out)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        SnapshotTable.commit(s, daily.filter(col("day") < cutHi), out)
        val source = daily.filter(col("day") >= cutLo)
          .select(col("user_id"), col("day"), col("n"),
            (col("total") + 1.0).as("total"))
        SnapshotTable.upsertSnapshot(s, source, out,
          keyCols = Seq("user_id", "day"), orderCol = "day")
        SnapshotTable.read(s, out)
          .select("user_id", "day", "n", "total")
      }),

    // PL20: manifest-stats pruned scan — the scan-skipping read driven
    // end-to-end through the oracle gate: the daily rollup is committed
    // to a snapshot table RANGE-LAID-OUT on day (repartitionByRange → 6
    // files with disjoint day spans) with per-file min/max day stats in
    // the manifest, and the 5-day range query resolves its file list
    // FROM THE MANIFEST — [[SnapshotTable.readPruned]] schedules scan
    // tasks for ~1/6 of the table before any I/O happens. The row-level
    // filter stays on top (pruning is file-granular), so the result is
    // provably the plain filter's — which is exactly what the DuckDB
    // oracle computes from raw events. Plans.scala asserts the file-skip
    // actually happened (pruned inputFiles < committed files).
    //
    // At 100 TB this layout+prune pair is the difference between a
    // year-scan and a week-scan; the same mechanics serve any column the
    // writer clusters by (the ZOrder operator's multi-column analog).
    QueryDef(
      "pl20_stats_pruned_scan",
      Some(s"""WITH daily AS (
              |  SELECT user_id, CAST(ts AS DATE) AS day,
              |    count(*) AS n,
              |    CAST(SUM(${oLq("value")}) AS DOUBLE) / 100.0 AS total
              |  FROM events GROUP BY 1, 2)
              |SELECT user_id, day, CAST(n AS BIGINT) AS n, total
              |FROM daily
              |WHERE day BETWEEN DATE '2024-01-10' AND DATE '2024-01-14'"""
        .stripMargin),
      (s, d) => {
        import graft.operators.SnapshotTable
        val daily = Tables.events(s, d)
          .groupBy(col("user_id"), to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n"),
               (sum(lq(col("value"))).cast("double") / 100.0).as("total"))
        val out = Sinks.dir(s, "snapstats", d)
        val p = new org.apache.hadoop.fs.Path(out)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        SnapshotTable.commit(s, daily.repartitionByRange(6, col("day")),
          out, statsCols = Seq("day"))
        val lo = java.time.LocalDate.parse("2024-01-10").toEpochDay
        val hi = java.time.LocalDate.parse("2024-01-14").toEpochDay
        SnapshotTable.readPruned(s, out, "day",
            Some(BigDecimal(lo)), Some(BigDecimal(hi)))
          .filter(col("day").between(lit("2024-01-10").cast("date"),
            lit("2024-01-14").cast("date")))
          .select("user_id", "day", "n", "total")
      }),

    // PL22: Z-ORDER layout → 2-D stats pruning, proven end-to-end — the
    // reason the ZOrder operator exists (Delta OPTIMIZE ZORDER BY /
    // Iceberg z-curve sort orders). The SAME rows are committed twice
    // with per-file (user_id, event_id) stats: once z-ordered on both
    // dims, once linearly sorted on user_id only. A two-predicate
    // eighth-width box query then prunes by manifest stats alone: the
    // linear layout prunes on user_id but every kept file spans the full
    // event_id domain, while the z-curve's file segments are approximate
    // SQUARES in (user_id, event_id) — the in-query require asserts the
    // z-ordered table schedules STRICTLY FEWER files. The returned frame
    // reads only the z-eligible files + the row filter, hash-verified
    // against the declarative range query.
    //
    // Scale shape: eligibility is manifest-sized metadata work on the
    // driver (what partition pruning IS in every table format — no data
    // I/O decides the file list); the range bounds derive from the
    // manifest stats themselves (exact per-file min/max), not a data
    // scan. At 100 TB the z-order write costs one range exchange (same
    // shape as a global sort) and pays for itself on every 2-D query
    // after.
    QueryDef(
      "pl22_zorder_pruned_scan",
      Some("""WITH b AS (
             |  SELECT min(user_id) AS ul, max(user_id) AS uh,
             |    min(event_id) AS el, max(event_id) AS eh
             |  FROM events),
             |r AS (
             |  SELECT ul + 3 * (uh - ul) // 8 AS ulo,
             |    ul + (uh - ul) // 2 AS uhi,
             |    el + 3 * (eh - el) // 8 AS elo,
             |    el + (eh - el) // 2 AS ehi
             |  FROM b)
             |SELECT e.user_id, e.event_id, e.value
             |FROM events e CROSS JOIN r
             |WHERE e.user_id BETWEEN r.ulo AND r.uhi
             |  AND e.event_id BETWEEN r.elo AND r.ehi""".stripMargin),
      (s, d) => {
        import graft.operators.{SnapshotTable, ZOrder}
        // 32 files: enough grid resolution for a decisive z-vs-linear
        // margin on the eighth-width box (z ≈ 2-3 files vs linear ≈ 5),
        // half the per-iteration commit+stats I/O of 64
        val NFiles = 32
        val ev = Tables.events(s, d)
          .select("user_id", "event_id", "value")
        def fresh(name: String): String = {
          val t = Sinks.dir(s, name, d)
          val p = new org.apache.hadoop.fs.Path(t)
          val fsys = p.getFileSystem(s.sparkContext.hadoopConfiguration)
          if (fsys.exists(p)) fsys.delete(p, true)
          t
        }
        val tz = fresh("zorder_table")
        val tl = fresh("linear_table")
        // linear layout via the same EXACT bucketing as the z side
        // (ZOrder.byBucket): repartitionByRange samples with a session-
        // history-dependent seed, so its file boundaries wiggle between
        // runs and the z-vs-linear margin below would be comparing two
        // dice rolls instead of two layouts
        val ub = ev.agg(min("user_id").as("ulo2"), max("user_id").as("uhi2"))
        val linear = {
          val j = ev.crossJoin(broadcast(ub))
          val pid = ((col("user_id") - col("ulo2")).cast("double") /
            (col("uhi2") - col("ulo2") + 1).cast("double") * NFiles)
            .cast("int")
          ZOrder.byBucket(j, pid, NFiles)
            .sortWithinPartitions("user_id").drop("ulo2", "uhi2")
        }
        // r13: the two layout builds are independent tables — commit them
        // concurrently (optimization-guide §2.6: overlap independent
        // jobs so one write's straggler tail back-fills the other);
        // 32-file writes + per-file stats are I/O-bound, and the two
        // tables share nothing but the source scan
        locally {
          import scala.concurrent.{Await, Future}
          import scala.concurrent.duration.Duration
          val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
          implicit val ec: scala.concurrent.ExecutionContext =
            scala.concurrent.ExecutionContext.fromExecutor(pool)
          try Await.result(Future.sequence(Seq(
            Future(SnapshotTable.commit(s,
              ZOrder.cluster(ev, "user_id", "event_id", NFiles), tz,
              statsCols = Seq("user_id", "event_id"))),
            Future(SnapshotTable.commit(s, linear, tl,
              statsCols = Seq("user_id", "event_id"))))), Duration.Inf)
          finally pool.shutdown()
        }
        // range bounds from the manifest stats (exact min/max — metadata,
        // not a scan): middle quarter in both dimensions
        val ze = SnapshotTable.entries(s, tz)
        def globalRange(cn: String): (BigDecimal, BigDecimal) = {
          val rs = ze.flatMap(_.stats.get(cn))
          (rs.map(_._1).min, rs.map(_._2).max)
        }
        def eighth(cn: String): (Long, Long) = {
          val (mn, mx) = globalRange(cn)
          val (lo, hi) = (mn.toLong, mx.toLong)
          (lo + 3 * (hi - lo) / 8, lo + (hi - lo) / 2)
        }
        val (ulo, uhi) = eighth("user_id")
        val (elo, ehi) = eighth("event_id")
        def eligible(t: String) =
          SnapshotTable.entries(s, t).filter { e =>
            def hit(cn: String, lo: Long, hi: Long) = e.stats.get(cn) match {
              case None => true
              case Some((mn, mx)) =>
                mx >= BigDecimal(lo) && mn <= BigDecimal(hi)
            }
            hit("user_id", ulo, uhi) && hit("event_id", elo, ehi)
          }
        val zKept = eligible(tz)
        val nLin = eligible(tl).size
        // pruning must be non-vacuous at every scale...
        require(zKept.size < NFiles,
          s"pl22: no file was pruned (${zKept.size}/$NFiles kept)")
        // ...but z-beats-linear is a LOCALITY property: below ~300
        // rows/file the curve segments are smaller than the squares the
        // comparison measures, so enforce it only when the fixture gives
        // the layout something to cluster (row count ≈ event_id span —
        // sequential ids — read from manifest stats, not a scan)
        val approxRows = {
          val (mn, mx) = globalRange("event_id")
          (mx - mn).toLong + 1
        }
        if (approxRows >= NFiles * 300L)
          require(zKept.size < nLin,
            s"pl22: z-order scheduled ${zKept.size} files vs linear " +
              s"$nLin — no 2-D pruning win, the layout is not doing " +
              "its job")
        s.read.parquet(zKept.map(e =>
            new org.apache.hadoop.fs.Path(tz, e.path).toString): _*)
          .filter(col("user_id").between(ulo, uhi) &&
            col("event_id").between(elo, ehi))
          .select("user_id", "event_id", "value")
      }),

    // PL23: conversion ATTRIBUTION — the third leg of the product-
    // analytics triple beside funnel (a26) and retention (a27): for
    // every 'purchase' event, which touchpoint gets the credit? Events
    // sessionize per user (pl2's 6-hour gap operator, shared code), and
    // within the session each conversion reports its FIRST-touch (the
    // session's opening event type) and LAST-touch (the immediately
    // preceding event's type — null for a session-opening conversion)
    // plus how many touches preceded it.
    //
    // Scale shape: one user-keyed session pass, then ONE window over
    // (user, session) serves first/last/rank together — a single hash
    // exchange + sort, no join at all; conversions filter AFTER the
    // window so the frame is shared.
    QueryDef(
      "pl23_attribution",
      Some("""WITH tagged AS (
             |  SELECT user_id, ts, event_id, event_type,
             |    CASE WHEN epoch_us(ts) -
             |      epoch_us(lag(ts, 1) OVER
             |        (PARTITION BY user_id ORDER BY ts)) > 21600000000
             |      OR lag(ts, 1) OVER (PARTITION BY user_id ORDER BY ts)
             |        IS NULL
             |    THEN 1 ELSE 0 END AS is_new
             |  FROM events),
             |sess AS (
             |  SELECT user_id, ts, event_id, event_type,
             |    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS BIGINT) AS session_id
             |  FROM tagged),
             |att AS (
             |  SELECT user_id, session_id, event_id, event_type,
             |    first_value(event_type) OVER w AS first_touch,
             |    lag(event_type, 1) OVER w AS last_touch,
             |    CAST(row_number() OVER w - 1 AS BIGINT) AS n_preceding
             |  FROM sess
             |  WINDOW w AS (PARTITION BY user_id, session_id
             |    ORDER BY ts, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
             |SELECT user_id, session_id, event_id AS conversion_id,
             |  first_touch, last_touch, n_preceding
             |FROM att WHERE event_type = 'purchase'""".stripMargin),
      (s, d) => {
        val ev = Tables.events(s, d)
          .select("user_id", "ts", "event_id", "event_type")
        val sess = Sessionize.withSessionIds(ev, "user_id", "ts",
          gapSeconds = 21600L)
        val w = Window.partitionBy("user_id", "session_id")
          .orderBy("ts", "event_id")
        sess
          .withColumn("first_touch", first("event_type").over(w))
          .withColumn("last_touch", lag("event_type", 1).over(w))
          .withColumn("rn", row_number().over(w))
          .filter(col("event_type") === "purchase")
          .select(col("user_id"), col("session_id"),
            col("event_id").as("conversion_id"), col("first_touch"),
            col("last_touch"), (col("rn") - 1).cast("long")
              .as("n_preceding"))
      }),

    // S9 (end-to-end): batched-source ingestion through the real sink —
    // the reference's chunked symbol-universe pull (alpa.py:68-79, one
    // request per 200-symbol chunk) driven through
    // [[graft.sources.BatchedIngest]]: the key universe is split into
    // fixed-size batches, each batch's fetch MERGEs into the sink with
    // ON CONFLICT (key, ts) DO NOTHING, and batch 0 is deliberately
    // re-run at the end — the resume-after-failure case, which must
    // insert zero rows. The ONE driver-side collect here is the KEY LIST
    // (the symbol universe — driver-sized configuration by nature, 150
    // keys at any SF; the reference ships it as a literal config list);
    // all row data stays distributed. The oracle is
    // batch-order-independent: per (user_id, ts), the minimum-event_id
    // row — what idempotent keyed merge guarantees regardless of how the
    // universe was chunked or re-run.
    QueryDef(
      "s9_batched_ingest",
      Some("""SELECT event_id, user_id, ts, value FROM (
             |  SELECT event_id, user_id, ts, value, row_number() OVER (
             |    PARTITION BY user_id, ts ORDER BY event_id) AS rn
             |  FROM events) WHERE rn = 1""".stripMargin),
      (s, d) => {
        import graft.sources.BatchedIngest
        val ev = Tables.events(s, d)
          .select("event_id", "user_id", "ts", "value")
        val keyUniverse = ev.select("user_id").distinct()
          .orderBy("user_id").collect().map(_.getLong(0).toString)
        val out = Sinks.dir(s, "batched", d)
        val p = new org.apache.hadoop.fs.Path(out)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        // batch count is the MINIMUM that still proves the contract
        // (multi-batch chunking + resume): each round is a full
        // read-sink/anti-join/append cycle, so rounds — not rows — set
        // the cost of this query at fixture scale
        val half = (keyUniverse.length + 1) / 2
        def fetch(batch: Seq[String]) =
          ev.filter(col("user_id").isin(batch.map(_.toLong): _*))
        BatchedIngest.run(s, keyUniverse, batchSize = half, fetch, out,
          keyCol = "user_id", tsCol = "ts", orderCol = "event_id")
        // resume simulation: re-running the first batch must merge to
        // zero inserts (idempotence — the hash proves it: any double-load
        // would change the row set)
        BatchedIngest.run(s, keyUniverse.take(half), batchSize = half, fetch,
          out, keyCol = "user_id", tsCol = "ts", orderCol = "event_id")
        s.read.parquet(out).select("event_id", "user_id", "ts", "value")
      }),

    // S12 (end-to-end): per-key high-watermark incremental sync through
    // the real sink — the reference's bars.py pattern (max(session_date)
    // per symbol, fetch only newer) via
    // [[graft.operators.IncrementalSync.appendNewer]]: seed the sink with
    // the pre-cutoff slice, then sync the FULL source against it. The
    // watermark prune drops the already-synced bulk from a column-pruned
    // sink scan (performance at 100 TB); the keyed anti-join MERGE makes
    // the result exact regardless of the prune (>= keeps boundary rows).
    // The oracle replays the same semantics declaratively: seed rows, plus
    // per-(key, ts)-deduped source rows whose (key, ts) is absent from the
    // seed — so over-pruning, boundary loss, or double-append all break
    // the hash.
    QueryDef(
      "s12_incremental_sync",
      Some("""WITH seed AS (
             |  SELECT event_id, user_id, ts, value FROM events
             |  WHERE ts < TIMESTAMP '2024-01-20'),
             |cand AS (
             |  SELECT event_id, user_id, ts, value FROM (
             |    SELECT event_id, user_id, ts, value, row_number() OVER (
             |      PARTITION BY user_id, ts ORDER BY event_id) AS rn
             |    FROM events) WHERE rn = 1),
             |appended AS (
             |  SELECT c.event_id, c.user_id, c.ts, c.value FROM cand c
             |  WHERE NOT EXISTS (
             |    SELECT 1 FROM seed s
             |    WHERE s.user_id = c.user_id AND s.ts = c.ts))
             |SELECT event_id, user_id, ts, value FROM seed
             |UNION ALL
             |SELECT event_id, user_id, ts, value FROM appended""".stripMargin),
      (s, d) => {
        import graft.operators.IncrementalSync
        val ev = Tables.events(s, d)
          .select("event_id", "user_id", "ts", "value")
        val out = Sinks.dir(s, "incsync", d)
        val p = new org.apache.hadoop.fs.Path(out)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        ev.filter(col("ts") < lit("2024-01-20").cast("timestamp"))
          .write.parquet(out)
        IncrementalSync.appendNewer(s, ev, out,
          keyCol = "user_id", tsCol = "ts", orderCol = "event_id")
        s.read.parquet(out).select("event_id", "user_id", "ts", "value")
      }),

    // PL24: WRITE–AUDIT–PUBLISH commit gate (the Iceberg WAP pattern —
    // the curated-publish discipline a production lakehouse runs: data
    // quality checks sit BETWEEN the write and table visibility, so a
    // bad batch can never be observed by readers, not even briefly).
    // SnapshotTable.commitAudited stages the files, audits a read-back
    // of exactly what was staged, and publishes the manifest only on
    // pass. The scenario drives both gates end-to-end:
    //   1. a clean batch passes its audit and lands as v1;
    //   2. a corrupted batch (nulled keys — the p6/p8 audit class) is
    //      REJECTED: asserted that the version chain is untouched AND
    //      the staged files were reclaimed (no orphan data dir).
    // The final read therefore hash-matches the clean batch only.
    QueryDef(
      "pl24_wap_commit",
      Some("SELECT event_id, user_id, value FROM events"),
      (s, d) => {
        import graft.operators.SnapshotTable
        val t = Sinks.dir(s, "wap_table", d)
        val p = new org.apache.hadoop.fs.Path(t)
        val fsys = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fsys.exists(p)) fsys.delete(p, true)
        val ev = Tables.events(s, d).select("event_id", "user_id", "value")
        def audit(staged: org.apache.spark.sql.DataFrame)
            : Option[String] = {
          val agg = staged.agg(
            count(lit(1)).as("n"),
            count(when(col("user_id").isNull, 1)).as("bad")).head()
          if (agg.getLong(1) > 0) Some(s"${agg.getLong(1)} null keys")
          else if (agg.getLong(0) == 0L) Some("empty batch")
          else None
        }
        val r1 = SnapshotTable.commitAudited(s, ev, t, audit)
        require(r1 == Right(1), s"pl24: clean batch rejected: $r1")
        val corrupted = ev.withColumn("user_id",
          when(col("event_id") % 10 === 0, lit(null).cast("long"))
            .otherwise(col("user_id")))
        val r2 = SnapshotTable.commitAudited(s, corrupted, t, audit)
        require(r2.isLeft, "pl24: corrupted batch passed the audit")
        require(SnapshotTable.versions(s, t) == Seq(1),
          "pl24: failed audit must leave the version chain untouched")
        val dataDirs = fsys.listStatus(
          new org.apache.hadoop.fs.Path(t, "data")).length
        require(dataDirs == 1,
          s"pl24: rejected batch left $dataDirs staged data dirs, " +
            "expected 1")
        SnapshotTable.read(s, t)
      }),

    // PL25: FINGERPRINT-DIFF incremental view maintenance — how a derived
    // table is kept fresh when late/backfilled bronze rows can land in
    // ARBITRARY old partitions (so a high-watermark sync like s12 cannot
    // see them): every (user, day) group carries an order-free content
    // fingerprint (sum of portable row hashes — commutative, so partition
    // order can't perturb it); refresh compares the CURRENT bronze
    // fingerprints against the ones recorded in the materialized view and
    // recomputes ONLY the groups whose fingerprint moved or appeared.
    // Refresh cost is proportional to the CHANGED partitions, never the
    // table. (Hash equality standing in for content equality is the
    // standard trade — a 32-bit-per-row sum collision is the documented
    // residual risk.)
    //
    // Scenario: the view materializes from an incomplete bronze load
    // (every 50th event missing), the full bronze then "arrives", and the
    // refresh is asserted to recompute EXACTLY the groups containing late
    // rows; the refreshed view hash-matches the full recompute (oracle).
    QueryDef(
      "pl25_stale_refresh",
      Some(s"""SELECT user_id, CAST(ts AS DATE) AS day,
              |  CAST(count(*) AS BIGINT) AS n,
              |  CAST(SUM(${oLq("value")}) AS DOUBLE) / 100.0 AS day_value
              |FROM events GROUP BY 1, 2""".stripMargin),
      (s, d) => {
        import graft.operators.TextOps.hash32
        val out = Sinks.dir(s, "stale_view", d)
        val p = new org.apache.hadoop.fs.Path(out)
        val fsys = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fsys.exists(p)) fsys.delete(p, true)
        def dailyAgg(bronze: org.apache.spark.sql.DataFrame) =
          bronze.groupBy(col("user_id"), to_date(col("ts")).as("day"))
            .agg(count(lit(1)).as("n"),
              (sum(lq(col("value"))).cast("double") / 100.0)
                .as("day_value"),
              // order-free content fingerprint: commutative long sum of
              // a portable per-row hash over the full row identity
              sum(hash32(concat_ws("|", col("event_id"), col("ts"),
                col("value")))).as("fp"))
        val full = Tables.events(s, d)
          .select("event_id", "user_id", "ts", "value")
        // v1 materializes from the incomplete load
        dailyAgg(full.filter(col("event_id") % 50 =!= 0))
          .write.parquet(out)
        val view = s.read.parquet(out)
        // staleness scan: current bronze fingerprints vs recorded ones.
        // r13: persisted — the stale-count action and the refresh output
        // both read it, and the fingerprint aggregate is the query's
        // data-sized pass (one compute instead of two).
        val cur = dailyAgg(full).persist()
        val keys = Seq("user_id", "day")
        val stale = cur.select(col("user_id"), col("day"),
            col("fp").as("fp_cur"))
          .join(view.select(col("user_id"), col("day"),
            col("fp").as("fp_old")), keys, "left")
          .filter(col("fp_old").isNull || col("fp_cur") =!= col("fp_old"))
          .select("user_id", "day")
        val nStale = stale.count()
        val nLate = full.filter(col("event_id") % 50 === 0)
          .select(col("user_id"), to_date(col("ts")).as("day"))
          .distinct().count()
        require(nStale == nLate,
          s"pl25: refresh touched $nStale groups, late rows live in " +
            s"$nLate — the fingerprint diff must find exactly those")
        // recompute ONLY the stale groups; untouched rows come from the
        // materialized view verbatim
        val refreshed = cur.join(stale, keys, "left_semi")
          .unionByName(view.join(stale, keys, "left_anti"))
        refreshed.select("user_id", "day", "n", "day_value")
      }),

    // BUCKETED CO-LOCATED JOIN — the layout-level shuffle eliminator
    // (SURVEY §3 "partitioning & shuffle"; the reference's repeated
    // user-keyed fact⋈profile merges, my_alpaca.py's per-symbol joins).
    // Both sides are WRITTEN bucketed by the join key (8 buckets,
    // sorted within), so the join planner sees matching hash-distributed
    // layouts and emits a SortMergeJoin with ZERO Exchange on either
    // side — the property that matters at 100 TB, where both sides are
    // too big to broadcast and an on-the-fly shuffle of the fact table
    // is the dominant cost. A merge join hint keeps the small fixture on
    // the same SortMergeJoin shape the 100 TB run would take (broadcast
    // would hide the property being proven);
    // Plans pins SortMergeJoin + no Exchange. At scale the bucket count
    // scales with the data (buckets ≈ data / target-partition-size);
    // the property proven here is count-invariant.
    //
    // Parity: day/user sums ride the lq long grid (2-decimal values →
    // exact hundredth counts; |Σ|·100 ≪ 2^63 at any SF), the share is
    // one double division of the two de-scaled sums — identical IEEE
    // tree both engines — floor-quantized at 1e9.
    QueryDef(
      "pl26_bucketed_join",
      Some(s"""WITH a AS (
             |  SELECT user_id, CAST(ts AS DATE) AS day,
             |    SUM(${Parity.oLq("value")}) AS day_q, count(*) AS n
             |  FROM events GROUP BY 1, 2),
             |b AS (
             |  SELECT user_id, SUM(${Parity.oLq("value")}) AS tot_q,
             |    count(*) AS n_events
             |  FROM events GROUP BY 1)
             |SELECT a.user_id, a.day,
             |  CAST(a.day_q AS BIGINT) AS day_q, a.n,
             |  CAST(b.tot_q AS BIGINT) AS tot_q, b.n_events,
             |  CASE WHEN b.tot_q = 0 THEN CAST(0 AS BIGINT)
             |    ELSE CAST(floor(CAST(a.day_q AS DOUBLE) /
             |      CAST(b.tot_q AS DOUBLE) * 1.0e9 + 0.5e0) AS BIGINT)
             |  END AS share_q
             |FROM a JOIN b ON a.user_id = b.user_id""".stripMargin),
      (s, d) => {
        import Parity.lq
        val ev = Tables.events(s, d)
        val a = ev.groupBy(col("user_id"), to_date(col("ts")).as("day"))
          .agg(sum(lq(col("value"))).as("day_q"), count(lit(1)).as("n"))
        val b = ev.groupBy(col("user_id"))
          .agg(sum(lq(col("value"))).as("tot_q"),
            count(lit(1)).as("n_events"))
        // external bucketed tables on per-app scratch paths; the catalog
        // entry (which carries the bucket spec) lives in this session's
        // in-memory catalog, the files are reclaimed by the Sinks hook
        val tag = (s.sparkContext.applicationId + "_" +
          d.replaceAll("[^A-Za-z0-9]", "_")).replaceAll("[^A-Za-z0-9_]", "_")
        val (ta, tb) = (s"graft_bkt_day_$tag", s"graft_bkt_user_$tag")
        a.write.mode("overwrite").option("path", Sinks.dir(s, "bkt_day", d))
          .bucketBy(8, "user_id").sortBy("user_id").saveAsTable(ta)
        b.write.mode("overwrite").option("path", Sinks.dir(s, "bkt_user", d))
          .bucketBy(8, "user_id").sortBy("user_id").saveAsTable(tb)
        // the merge hint rides the logical plan (a session conf toggle
        // would be lost to lazy planning): it pins SortMergeJoin, the
        // join shape a 100 TB fact⋈fact actually uses, and the matching
        // bucket layouts are what make it exchange-free (Plans-pinned)
        val ja = s.table(ta).hint("merge"); val jb = s.table(tb)
        ja.join(jb, "user_id").select(
          ja("user_id"), col("day"), col("day_q"), col("n"),
          col("tot_q"), col("n_events"),
          when(col("tot_q") === 0L, 0L).otherwise(
            floor(col("day_q").cast("double") /
              col("tot_q").cast("double") * 1.0e9 + 0.5).cast("long"))
            .as("share_q"))
      }),

    // NATIVE SESSION WINDOW — the same gap sessionization as pl2, but
    // through Spark's built-in `session_window` aggregate (ONE hash-agg
    // with runtime session merging — no lag window, no running-sum pass,
    // one exchange instead of two). pl2 keeps the hand-rolled island
    // construction because it also needs per-EVENT session ids; this row
    // proves the native per-SESSION rollup against a declarative oracle
    // replaying session_window's exact boundary rule: a new session
    // starts when the inter-event gap is >= 6h (the window's end is
    // exclusive — pl2's hand-rolled rule is the strict > variant; the
    // two differ only on an exactly-6h gap, absent from microsecond
    // data but encoded faithfully here anyway). session end is
    // last-event ts + gap, Spark's definition.
    QueryDef(
      "pl27_native_session",
      Some(s"""WITH tagged AS (
             |  SELECT user_id, ts, value,
             |    CASE WHEN lag(ts, 1) OVER w IS NULL
             |      OR epoch_us(ts) - epoch_us(lag(ts, 1) OVER w)
             |        >= 21600000000
             |    THEN 1 ELSE 0 END AS is_new
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
             |sess AS (
             |  SELECT user_id, ts, value,
             |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS sid
             |  FROM tagged)
             |SELECT user_id, min(ts) AS session_start,
             |  max(ts) + INTERVAL 6 HOUR AS session_end,
             |  count(*) AS n_events,
             |  CAST(SUM(${oLq("value")}) AS DOUBLE) / 100.0
             |    AS session_value
             |FROM sess GROUP BY user_id, sid""".stripMargin),
      (s, d) =>
        Tables.events(s, d)
          .groupBy(session_window(col("ts"), "6 hours"), col("user_id"))
          .agg(count(lit(1)).as("n_events"),
            (sum(lq(col("value"))).cast("double") / 100.0)
              .as("session_value"))
          .select(col("user_id"),
            col("session_window.start").as("session_start"),
            col("session_window.end").as("session_end"),
            col("n_events"), col("session_value"))),

    // MATERIALIZED-VIEW QUERY REWRITE — the injectOptimizerRule
    // surface, end-to-end: a pre-aggregated per-user summary is built
    // and registered, and the SAME aggregate asked again is answered by
    // Catalyst from the MV scan — the base table never opens (asserted
    // on the executed plan in-query AND in Plans). The rule
    // (plans/MvRewrite.scala) is deliberately narrow and opt-in by a
    // reserved output alias, keeps original exprIds so downstream
    // operators never notice, and disqualifies any Filter/Join between
    // aggregate and scan. The oracle computes from the RAW table — the
    // hash compare IS the staleness-free guarantee an MV system
    // promises at its refresh point. At 100 TB this is the difference
    // between a dashboard query costing a full fact scan and costing a
    // |users|-row read.
    //
    // The refresh runs with the rewrite de-registered for its own
    // statement (every MV system's refresh reads the BASE by
    // definition): on re-runs the registry still holds the previous
    // entry, and a build that matched its own rule would read the very
    // files it is overwriting. (A rename-behind-a-Project disguise does
    // NOT work — CollapseProject folds the alias straight into the
    // aggregate before the rewrite rule sees it.)
    QueryDef(
      "pl28_mv_rewrite",
      Some("""SELECT user_id, count(*) AS mv_user_event_count
             |FROM events GROUP BY 1""".stripMargin),
      (s, d) => {
        import graft.plans.MvRegistry
        val mvPath = Sinks.dir(s, "mv_counts", d)
        MvRegistry.clear()
        Tables.events(s, d).groupBy("user_id")
          .agg(count(lit(1)).as(MvRegistry.CountAlias))
          .write.mode("overwrite").parquet(mvPath)
        MvRegistry.register(s"$d/events.parquet", mvPath)
        val q = Tables.events(s, d).groupBy(col("user_id"))
          .agg(count(lit(1)).as(MvRegistry.CountAlias))
        val pstr = q.queryExecution.executedPlan.toString
        require(pstr.contains("mv_counts"),
          s"pl28: the MV rewrite did not fire:\n$pstr")
        require(!pstr.contains("events.parquet"),
          "pl28: the rewritten plan still scans the base table")
        q
      }),

    // PL29: the THREE-clause MERGE — WHEN MATCHED UPDATE / WHEN NOT
    // MATCHED INSERT / WHEN NOT MATCHED BY SOURCE DELETE (Delta's
    // `notMatchedBySource.delete(condition)`). pl13/pl19 cover the
    // two-clause upsert; the delete clause is what a reconciliation
    // sync needs: the source is the complete truth for its scope, so
    // rows the feed DROPPED must leave the table. The delete is scoped
    // (users 0 mod 5 from Jan-10 on) — the source owns that slice;
    // everything outside survives untouched unless the source updates
    // its key. Driven through SnapshotTable as ONE atomic commit, with
    // time travel back to the pre-sync version asserted in-query.
    //
    // The revised feed: the owned slice with every 3rd event dropped
    // (upstream deletions) and values shifted +1000 (updates; exact in
    // IEEE for 2-decimal inputs).
    QueryDef(
      "pl29_full_sync",
      Some("""WITH target AS (
             |  SELECT event_id, user_id, ts, value FROM events
             |  WHERE ts < TIMESTAMP '2024-01-20'),
             |src AS (
             |  SELECT event_id, user_id, ts, value + 1000.0 AS value
             |  FROM target
             |  WHERE user_id % 5 = 0 AND ts >= TIMESTAMP '2024-01-10'
             |    AND event_id % 3 <> 0),
             |kept AS (
             |  SELECT t.* FROM target t
             |  WHERE NOT (t.user_id % 5 = 0
             |      AND t.ts >= TIMESTAMP '2024-01-10')
             |    AND NOT EXISTS (SELECT 1 FROM src s
             |      WHERE s.event_id = t.event_id))
             |SELECT event_id, user_id, ts, value FROM kept
             |UNION ALL
             |SELECT event_id, user_id, ts, value FROM src""".stripMargin),
      (s, d) => {
        import graft.operators.SnapshotTable
        val t = Sinks.dir(s, "pl29_sync", d)
        val p = new org.apache.hadoop.fs.Path(t)
        val fsys = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fsys.exists(p)) fsys.delete(p, true)
        val target = Tables.events(s, d)
          .select("event_id", "user_id", "ts", "value")
          .filter(col("ts") < lit("2024-01-20").cast("timestamp"))
        val v0 = SnapshotTable.commit(s, target, t)
        val scope = col("user_id") % 5 === 0 &&
          col("ts") >= lit("2024-01-10").cast("timestamp")
        val src = target.filter(scope && col("event_id") % 3 =!= 0)
          .withColumn("value", col("value") + 1000.0)
        SnapshotTable.upsertSnapshot(s, src, t,
          Seq("event_id"), "ts", scope)
        val out = SnapshotTable.read(s, t)
        // the delete clause fired: the rows the feed dropped (event_id
        // 0 mod 3 inside the scope) must be gone from the table
        require(out.filter(scope && col("event_id") % 3 === 0).isEmpty,
          "pl29: an in-scope row the source dropped survived the sync")
        // atomicity: the pre-sync snapshot is intact via time travel
        require(SnapshotTable.read(s, t, Some(v0)).count() ==
          target.count(),
          "pl29: time travel to the pre-sync version must see the seed")
        out.select("event_id", "user_id", "ts", "value")
      }),
  )
}
